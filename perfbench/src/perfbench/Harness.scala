package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators._
import graft.sources.{IngestJob, OlistCatalog, OlistVendas, Sinks}

/** JVM side of the benchmark: one run of one workload, driven through the
  * program's public entry points. Prints nothing on stdout; writes the
  * run record (timings, spans, confs, values for the output checks) to
  * the `out` file as JSON.
  *
  * Usage: Harness workload=<medallion|query_sweep> input=<dir>
  *   work=<dir> seconds=<s> trace=<0|1> seed=<n> out=<file> [clk_tck=<n>]
  */
object Harness {
  val Cores = 4
  /** query_sweep checks one query in this many per run. */
  val CheckEvery = 6

  final case class Args(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap
    val a = Args(kv("workload"), kv("input"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("seed").toLong, kv("out"))
    HostSteal.ticksPerSecond = kv.getOrElse("clk_tck", "100").toLong
    val record = new Run(a).apply()
    Files.writeString(Paths.get(a.out), Json(record))
  }

  def session(work: String): SparkSession =
    GraftSession.configure(SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Registry module of each query, by the family's public `queries` map. */
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "vendas_mart" -> VendasMart.queries, "relational" -> Relational.queries,
    "text_analysis" -> TextAnalysis.queries, "dedup" -> Dedup.queries,
    "similarity" -> Similarity.queries, "multimodal" -> Multimodal.queries,
    "analytics" -> Analytics.queries, "set_ops_json" -> SetOpsJson.queries)

  def moduleOf(query: String): String =
    Modules.collectFirst { case (m, qs) if qs.contains(query) => m }.getOrElse("other")
}

final class Run(a: Harness.Args) {
  import Harness._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val counters = new TaskCounters
  private var setupS, setupCpuS, sessionStartS = 0.0
  private var prewarm: Seq[(String, Double)] = Nil
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val extra = scala.collection.mutable.Map.empty[String, Any]

  def apply(): Map[String, Any] = {
    // Set-up is the JVM's first, cold session build: a rebuild after
    // spark.stop() reuses loaded classes and JIT code and would hide what
    // a user pays once per process.
    val t0 = System.nanoTime()
    val cpu0 = ProcessCpu.nanos
    spark = session(a.work)
    sessionStartS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: one shuffled aggregate, so codegen and the shuffle path
    // are loaded before anything is timed.
    spark.range(0, 200000, 1, Cores).selectExpr("id % 97 AS k")
      .groupBy("k").count().collect()
    setupS = (System.nanoTime() - t0) / 1e9
    setupCpuS = (ProcessCpu.nanos - cpu0) / 1e9
    spark.sparkContext.addSparkListener(counters)
    tracer = new Tracer(spark, counters)
    try {
      a.workload match {
        case "medallion" => medallion()
        case "query_sweep" => querySweep()
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      record()
    } finally spark.stop()
  }

  /** Runs `body` as an operation span; a failure is logged and reported
    * through the span, and the run goes on.
    */
  private def op(name: String, attrs: => Map[String, Any] = Map.empty)(body: => Unit): Unit =
    try tracer(name, attrs + ("kind" -> "op"))(body)
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      try spark.sparkContext.cancelAllJobs() catch { case _: Throwable => () }
    }

  /** Timed loop. The first `warm` passes are warm-up passes left out of
    * the figures; then passes run until `seconds` have elapsed and at
    * least `minPasses` are done. With tracing requested and `alternate`
    * set, the timed passes take turns traced and untraced, so one run
    * gives both the per-layer split and the tracing overhead.
    */
  private def timedPasses(minPasses: Int, warm: Int, alternate: Boolean)(
      pass: Int => Map[String, Any]): Unit = {
    val alternating = a.trace && alternate
    val need = if (alternating) math.max(minPasses, 4) else minPasses // one ABBA
    var i = 0
    var deadline = Long.MaxValue
    def timed = i - warm
    while (timed < need || System.nanoTime() < deadline) {
      if (timed == 0) {
        counters.resetPeak()
        deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      }
      // ABBA order (traced, untraced, untraced, traced, ...), so a steady
      // warm-up drift across passes cancels out of the overhead ratio.
      tracer.traced = alternating && timed >= 0 && Set(0, 3)(timed % 4)
      var info = Map.empty[String, Any]
      tracer("pass", Map("kind" -> "pass", "index" -> i, "warm" -> (timed < 0))) {
        info = pass(i)
      }
      tracer.traced = false
      passes += info + ("index" -> i) + ("warm" -> (timed < 0))
      i += 1
    }
  }

  // ---- medallion: bronze CSV -> silver -> gold + JDBC -> check ---------

  private def medallion(): Unit = {
    val target = Sinks.JdbcTarget("jdbc:derby:memory:perfbench;create=true",
      "TB_VENDAS", "", "")
    // Two warm-up passes: the JIT is still compiling through the first
    // and part of the second.
    timedPasses(minPasses = 2, warm = 2, alternate = true) { i =>
      val silver = s"${a.work}/pass$i/silver"
      val gold = s"${a.work}/pass$i/gold"
      var goldRows, jdbcRows = -1L
      tracer("sources.ingest") {
        OlistCatalog.all.foreach { spec =>
          op(s"sources.ingest.${spec.name}")(IngestJob(spec).run(spark, a.input, silver))
        }
      }
      op("sources.gold") {
        OlistVendas.run(spark, silver, gold, Some(target), Some(VendasMart.SilverBuckets))
      }
      // RunPipeline's `check` stage: gold and its JDBC mirror materialize,
      // are non-empty and agree on row count.
      op("sources.check", Map("gold_rows" -> goldRows, "jdbc_rows" -> jdbcRows)) {
        goldRows = spark.read.parquet(s"$gold/olist/vendas").count()
        jdbcRows = spark.read.format("jdbc").option("url", target.url)
          .option("dbtable", target.table).load().count()
        require(goldRows > 0 && goldRows == jdbcRows,
          s"gold ($goldRows rows) and JDBC mirror ($jdbcRows rows) disagree")
      }
      val wh = s"${a.work}/warehouse"
      val info = Map("silver_bytes" -> bytesUnder(silver),
        "bucketed_bytes" -> bytesUnder(wh), "gold_bytes" -> bytesUnder(gold),
        "gold_rows" -> goldRows, "jdbc_rows" -> jdbcRows, "silver" -> silver,
        "gold" -> s"$gold/olist/vendas")
      if (i > 0) deleteTree(s"${a.work}/pass${i - 1}")
      info
    }
  }

  // ---- query_sweep: every registry query over the star schema -----------

  private def querySweep(): Unit = {
    val dir = a.input
    // Prewarm, as graft.Bench does it: index build, bucketed silver and
    // the mart's join statistics are set-up, not query time.
    val t0 = System.nanoTime()
    val cpu0 = ProcessCpu.nanos
    prewarm = tracer("dedup.prewarm", Map("kind" -> "setup"))(Dedup.prewarmTimed(spark, dir))
    extra("resident_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    prewarm :+= "bucketed_silver" -> timed(VendasMart.ensureBucketedSilver(spark, dir))
    prewarm :+= "mart_join_stats" -> timed(VendasMart.martJoinStats(spark, dir))
    extra("prewarm_s") = (System.nanoTime() - t0) / 1e9
    extra("prewarm_cpu_s") = (ProcessCpu.nanos - cpu0) / 1e9
    extra("bucketed_bytes") = bytesUnder(s"${a.work}/warehouse")

    // A fixed order (by name): which queries run while the JVM is still
    // cold is then the same in every run.
    val queries = SparkEntry.queries
    val order = queries.keys.toSeq.sorted
    timedPasses(minPasses = 1, warm = 0, alternate = false) { _ =>
      // The sweep is its own unit of alternation: with tracing requested
      // every query runs twice, traced and untraced, the order flipping
      // from one query to the next.
      order.zipWithIndex.foreach { case (q, k) =>
        val runs = if (a.trace) Seq(k % 2 == 0, k % 2 == 1) else Seq(false)
        runs.foreach { on =>
          tracer.traced = on
          op(s"sweep.${moduleOf(q)}.$q", Map("query" -> q)) {
            queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          }
        }
      }
      tracer.traced = false
      Map("out" -> s"${a.work}/out")
    }
    // Outside the timed part, every CheckEvery-th query (the offset
    // rotating with the seed, so any CheckEvery consecutive seeds cover
    // the registry) is run again and its result written for the oracle
    // check.
    val offset = Math.floorMod(a.seed, CheckEvery.toLong).toInt
    val checked = order.zipWithIndex.collect { case (q, k) if k % CheckEvery == offset => q }
    extra("checked") = checked.filter { q =>
      try { queries(q)(spark, dir).write.mode("overwrite").parquet(s"${a.work}/out/$q"); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed when rerun for its check: $e")
        false
      }
    }
    extra("check_sample") = checked
    if (a.trace) verifyYield(dir)
  }

  /** Useful share of the LSH tier: candidate pairs whose exact Jaccard
    * confirms them, per candidate pair.
    */
  private def verifyYield(dir: String): Unit = {
    val candidates = Dedup.minHashPairs(spark, dir).count()
    val verified = Dedup.lshVerified(spark, dir).filter("confirmed").count()
    extra("verify_yield") = if (candidates == 0) 0.0 else verified.toDouble / candidates
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  // ---- run record ------------------------------------------------------

  private def record(): Map[String, Any] = {
    val c = spark.conf
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds,
      "confs" -> Map(
        "spark_version" -> spark.version,
        "master" -> spark.sparkContext.master,
        "io_codec" -> c.get("spark.io.compression.codec"),
        "spill_compress" -> c.get("spark.shuffle.spill.compress"),
        "shj_threshold" -> c.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"),
        "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
        "aqe" -> c.get("spark.sql.adaptive.enabled"),
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20)),
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS, "session_start_s" -> sessionStartS,
      "prewarm_phases_s" -> prewarm.toMap,
      "task_mem_peak_mb" -> counters.peakMb,
      "passes" -> passes,
      "oracle" -> SparkEntry.oracleSql,
      "spans" -> tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_s" -> s.startNs / 1e9, "seconds" -> s.seconds, "cpu_s" -> s.cpuNs / 1e9,
          "jit_s" -> s.jitNs / 1e9, "steal_s" -> s.stealNs / 1e9,
          "traced" -> s.traced,
          "ok" -> s.ok, "counters" -> s.counters, "attrs" -> s.attrs)
      }) ++ extra
  }
}
