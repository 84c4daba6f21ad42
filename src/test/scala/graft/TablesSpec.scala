package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins [[Tables.normalizeTs]] across BOTH harness data generations of
  * `events.parquet` — int64 TIMESTAMP(NANOS) (read as LongType under
  * `nanosAsLong`) and TIMESTAMP(MICROS) without UTC adjustment (read
  * as TIMESTAMP_NTZ). The harness only ever ships one generation at a
  * time, so whichever branch the live testdata doesn't exercise is
  * covered here by fixture.
  *
  * Also pins [[Tables.table]]'s schema memo: a repeat read infers
  * nothing, and a changed file set or inference conf infers again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // Two instants, microsecond precision (what both generations carry).
  private val micros = Seq(1700000000123456L, 1712345678000001L)

  private def writeFixture(dir: String, df: org.apache.spark.sql.DataFrame): String = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events: NTZ-micros generation normalizes equal to the nanos generation") {
    // Nanos generation: under nanosAsLong the physical TIMESTAMP(NANOS)
    // column arrives as raw int64 nanos, i.e. LongType — the fixture
    // writes that post-read shape directly.
    val nanosDir = writeFixture(tmpDir("ev_nanos"),
      micros.map(_ * 1000L).toDF("ts").withColumn("user_id", lit(1L)))
    // NTZ generation: micros without UTC adjustment.
    val ntzDir = writeFixture(tmpDir("ev_ntz"),
      micros.toDF("us")
        .select(expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"),
          lit(1L).as("user_id")))

    val a = Tables.events(spark, nanosDir)
    val b = Tables.events(spark, ntzDir)
    assert(a.schema("ts").dataType == TimestampType)
    assert(b.schema("ts").dataType == TimestampType)
    val av = a.select(unix_micros(col("ts"))).as[Long].collect().sorted
    val bv = b.select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(av.toSeq == micros.sorted, av.toSeq)
    assert(bv.toSeq == micros.sorted, bv.toSeq)
  }

  test("events: NTZ normalization refuses a non-UTC session instead of shifting") {
    val ntzDir = writeFixture(tmpDir("ev_ntz_tz"),
      micros.toDF("us")
        .select(expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"),
          lit(1L).as("user_id")))
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/Sao_Paulo")
      val e = intercept[IllegalArgumentException] {
        Tables.events(spark, ntzDir).collect()
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set(tzKey, saved)
  }

  /** The result of `body` and the number of Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerShim.drain(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerShim.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a repeat Tables.table read starts no Spark job") {
    val dir = tmpDir("memo_repeat")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(firstJobs > 0, "the first read infers the schema with a Spark job")
    val (again, againJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(againJobs == 0)
    assert(again.schema == first.schema)
    assert(again.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a table rewritten in place with a new schema is read with the new schema") {
    val dir = tmpDir("memo_rewrite")
    Seq(1L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k"))
    Seq(("x", 2.0)).toDF("name", "score").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq == Seq("name", "score"))
    assert(df.as[(String, Double)].collect().toSeq == Seq(("x", 2.0)))
  }

  test("flipping nanosAsLong re-infers the schema for the new setting") {
    // A TIMESTAMP(NANOS) column, which Spark cannot write: only a
    // parquet-mr writer makes the nanos generation's file.
    val dir = tmpDir("memo_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", micros.head * 1000L))
    finally w.close()

    val key = GraftSession.NanosAsLong
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      val e = intercept[AnalysisException](Tables.table(spark, dir, "events"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    } finally spark.conf.set(key, saved)
  }
}
