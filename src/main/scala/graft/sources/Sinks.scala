package graft.sources

import org.apache.spark.sql.DataFrame

/** Output sinks beyond plain parquet (SURVEY.md §2.1 S5–S7). */
object Sinks {

  /** JDBC connection target — the reference's MySQL mirror
    * (`s2g/vendas.py:173-180`: `BD_STACK.TB_VENDAS` via sqlalchemy).
    */
  final case class JdbcTarget(url: String, table: String, user: String, password: String)

  /** Full-replace JDBC write, the Spark equivalent of pandas
    * `to_sql(if_exists='replace')`: `mode("overwrite")` drops and
    * recreates the table. Partitioned writes mean every executor opens
    * its own connection — at scale cap parallelism with
    * `numPartitions` so the database isn't the bottleneck.
    *
    * SinksSpec and OlistPipelineSpec run it against embedded Derby; in
    * production the same DataSource jdbc path takes the target's driver.
    */
  def jdbcReplace(df: DataFrame, t: JdbcTarget, numPartitions: Int = 8): Unit =
    df.coalesce(numPartitions)
      .write
      .format("jdbc")
      .option("url", t.url)
      .option("dbtable", t.table)
      .option("user", t.user)
      .option("password", t.password)
      .mode("overwrite")
      .save()

  /** Parquet sink with the single-object layout toggle (reference
    * writes exactly one object per table, `…customer…py:71-78`;
    * at scale one file per partition is the only sane layout).
    */
  def parquet(df: DataFrame, path: String, singleObject: Boolean = false): Unit =
    (if (singleObject) df.coalesce(1) else df)
      .write.mode("overwrite").parquet(path)

  /** Gzipped JSON-lines sink — the de-facto LLM corpus interchange
    * format (one JSON object per line, .jsonl.gz shards). Each
    * partition writes one shard; gzip is the interchange convention
    * (splittability doesn't matter because shard boundaries, not
    * codec blocks, are the parallelism unit on re-read).
    */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** JSONL source with a DECLARED schema — never infer on a corpus
    * read: inference runs an extra full pass and drifts with shard
    * sampling. FAILFAST, not the default PERMISSIVE: a corrupt line in
    * a third-party shard must fail the read loudly, not dissolve into
    * an all-null row that flows silently through dedup/quality ops.
    * Types round-trip exactly for the documents-table shape (longs,
    * strings); binary/timestamp columns need explicit encoding policy
    * at the boundary.
    */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Hive-style partitioned parquet sink with DYNAMIC overwrite: only
    * the partitions present in `df` are replaced; everything else is
    * untouched. This is the incremental-rebuild pattern for a date-
    * partitioned gold mart at 100 TB — a daily job overwrites one
    * day's directory instead of the whole table, and date-filtered
    * readers prune to the partitions they touch (PartitionFilters in
    * the scan, proven by SinksSpec).
    */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .partitionBy(partitionCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
}
