package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only per-frame attribution of the persisted dedup-index
  * footprint.
  *
  * Bench's `cache_probe.sweep_mb` totals the whole persisted set
  * (1,566 MB at sf10, 4,691 MB at sf30 — exactly linear at
  * ~3.13 KB/doc); this walks the SAME build order as
  * [[graft.operators.Dedup.prewarmTimed]] and prints the STORAGE
  * DELTA each phase adds, so per-frame sizes are measured, not
  * guessed:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 tools/run_bench.sh \
  *     graft.tools.CacheSizes
  */
object CacheSizes {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.operators.Dedup.documentCount(spark, sfDir)

    def storedBytes: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    // Same build order as Dedup.prewarmTimed, but phase-by-phase so the
    // storage delta can be read BETWEEN phases (prewarmTimed returns
    // only after the whole set is built, which would attribute the
    // entire footprint to the first row).
    import graft.operators.Dedup
    val phases: Seq[(String, () => Unit)] = Seq(
      "fingerprints" -> (() => { Dedup.fingerprints(spark, sfDir).count(); () }),
      "shingle_index" -> (() => { Dedup.shingleIndex(spark, sfDir).count(); () }),
      "jaccard_prefix" -> (() => {
        if (docs >= Dedup.PrefixVerifyMinDocs)
          Dedup.jaccardPrefixIndex(spark, sfDir).count(); ()
      }),
      "jaccard_docsets" -> (() => {
        if (docs >= Dedup.PrefixVerifyMinDocs)
          Dedup.jaccardDocsets(spark, sfDir).count(); ()
      }),
      "minhash_signatures" -> (() => { Dedup.minHashSignatures(spark, sfDir).count(); () }),
      "lsh_pairs" -> (() => { Dedup.minHashPairs(spark, sfDir).count(); () }),
      "clusters" -> (() => { Dedup.nearDupClusters(spark, sfDir).count(); () }))
    var last = storedBytes
    for ((name, run) <- phases) {
      run()
      val now = storedBytes
      println(f"$name%-22s +${(now - last) / 1e6}%10.1f MB " +
        f"(${(now - last).toDouble / docs}%8.1f B/doc)")
      last = now
    }
    println(f"TOTAL stored ${last / 1e6}%.1f MB over $docs docs " +
      f"= ${last.toDouble / docs}%.1f B/doc")
    spark.stop()
  }
}
