package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup
import graft.tools.StageMetricsListener

/** Runtime shuffle-VOLUME budgets, the metrics twin of ExplainSpec's
  * plan-shape pins: a plan can stay equi-join-shaped and still start
  * shuffling corpus text bodies (e.g. if a fingerprint projection is
  * dropped), which no string-match on the plan catches. These tests
  * execute the query under a task-metrics listener and fail if the
  * measured shuffle write grows past a budget derived from the
  * 16-byte-per-row fingerprint discipline (`Dedup.fingerprints`,
  * `Dedup.shingleIndexOf`) with ~4x headroom for codec/framing
  * overhead. Budgets are calibrated at sf0.01 (500 docs, ~250 KB of
  * text): a body-shuffle regression overshoots them by an order of
  * magnitude, while noise stays well inside. The prewarmed index's
  * storage contract is pinned here too, on the same corpus.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private lazy val metrics: StageMetricsListener = {
    val l = new StageMetricsListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Shuffle bytes WRITTEN by one noop-write execution of `df`. */
  private def shuffleWriteBytes(df: org.apache.spark.sql.DataFrame): Long = {
    def drain(): Unit =
      try org.apache.spark.graft.ListenerShim.drain(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => () }
    drain(); metrics.reset()
    df.write.format("noop").mode("overwrite").save()
    drain()
    metrics.snapshot()._1
  }

  test("fingerprint-keyed exact dedup shuffles an order less than the text-keyed form") {
    Dedup.fingerprints(spark, sf).count() // index prewarmed, as in production
    val fpBytes = shuffleWriteBytes(Dedup.exactByFingerprint(spark, sf))
    val textBytes = shuffleWriteBytes(Dedup.exact(spark, sf))
    // Relative pin — scale-free: the fp variant shuffles (fp60, id)
    // off the persisted index while the text variant keys the shuffle
    // on whole documents.
    assert(fpBytes * 4 < textBytes,
      s"fingerprint variant must shuffle <1/4 of the text variant: fp=$fpBytes text=$textBytes")
    // Absolute pin: 500 rows x 16 B = 8 KB payload; 64 KB allows codec
    // framing but is far below the ~250 KB corpus body.
    assert(fpBytes < 64 * 1024,
      s"fp-keyed dedup shuffled $fpBytes B — corpus bodies leaking into the shuffle?")
  }

  test("mart keeps its broadcast-star discipline: no fact-table shuffle before the aggregate") {
    val bytes = shuffleWriteBytes(operators.VendasMart.mart(spark, sf))
    // 8 broadcast joins + pivot-aggregate: only the broadcast exchanges
    // (dimensions, KB-scale) and the final aggregate's partial rows
    // move. The 60k-row joined fact table itself must never hit a
    // shuffle — that regression costs ~10 MB here and the cluster at
    // 100 TB.
    assert(bytes < 6L * 1024 * 1024,
      s"vendas_mart shuffled $bytes B — fact-table rows entering an exchange?")
  }

  test("minhash pair generation off the prewarmed index shuffles only bands and pairs") {
    Dedup.prewarm(spark, sf)
    val bytes = shuffleWriteBytes(Dedup.minHashLsh(spark, sf))
    // Served from the persisted pair frame: only the noop-write's
    // reread of the cached fragment moves, no corpus re-hash.
    assert(bytes < 256 * 1024,
      s"q_dedup_minhash shuffled $bytes B off a prewarmed index")
  }

  test("prewarmed index frames persist once at MEMORY_AND_DISK and are served cached") {
    Dedup.prewarm(spark, sf)
    val frames = Seq[(String, (SparkSession, String) => DataFrame)](
      "fingerprints" -> Dedup.fingerprints,
      "shingle_index" -> Dedup.shingleIndex,
      "jaccard_prefix" -> Dedup.jaccardPrefixIndex,
      "jaccard_docsets" -> Dedup.jaccardDocsets,
      "minhash_signatures" -> Dedup.minHashSignatures,
      "lsh_pairs" -> Dedup.minHashPairs,
      "clusters" -> Dedup.nearDupClusters)
    for ((name, frame) <- frames) {
      val first = frame(spark, sf)
      assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK,
        s"$name persisted at ${first.storageLevel}")
      // A second accessor call is a memo hit: the same frame, whose
      // plan is the cached relation rather than a fresh lineage.
      val again = frame(spark, sf)
      assert(again eq first, s"$name rebuilt on the second call")
      assert(again.queryExecution.withCachedData.isInstanceOf[InMemoryRelation],
        s"$name not served from the cache:\n${again.queryExecution.withCachedData}")
    }
    // The batch signatures are a localCheckpoint, never persisted.
    assert(Dedup.batchSignatures(spark, sf).storageLevel == StorageLevel.NONE)
  }
}
