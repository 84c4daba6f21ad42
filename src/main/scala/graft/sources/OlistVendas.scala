package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.VendasMart

/** The reference's silver→gold "vendas" mart on the *actual Olist
  * schemas* (`scripts/silver_to_gold/ingestion_vendas_silver_to_gold.py`)
  * — the literal port, exercised end-to-end by OlistPipelineSpec over
  * generated fixtures. (VendasMart.scala is the same dataflow
  * re-targeted at the harness star schema for the oracle gate.)
  *
  * Stage map (reference line cites):
  *   - 5 silver scans + projections (`:44-104`)     → pruned parquet reads
  *   - payments pivot-sum (`:91-92`)                → groupBy.pivot(explicit values).sum
  *   - 4-way left join on item grain (`:107-111`)   → chained left equi-joins
  *   - fillna(0) ×7 money cols (`:114-120`)         → na.fill(0.0, …)
  *   - to-date (`:123`), upper (`:126-127`),
  *     "_"→" " replace (`:130`)                     → to_date / upper / translate
  *   - Portuguese rename ×14 (`:133-149`)           → one aliased select
  *
  * Scale: the only shuffles are the pivot aggregation (partial agg,
  * keyed on order_id) and — beyond broadcast thresholds — the joins;
  * dimension sides (products, customers) broadcast automatically. The
  * explicit pivot value list pins the schema AND skips Spark's
  * distinct-values discovery job.
  */
object OlistVendas {

  /** The five payment types the reference's fillna list implies
    * (`s2g/vendas.py:116-120`). */
  val PaymentTypes: Seq[String] =
    Seq("boleto", "credit_card", "debit_card", "not_defined", "voucher")

  val MoneyCols: Seq[String] =
    Seq("price", "freight_value") ++ PaymentTypes

  /** A silver table read with its declared [[TableSpec.silverSchema]],
    * so no Spark job infers it from the Parquet footers. */
  def silver(spark: SparkSession, silverRoot: String, spec: TableSpec): DataFrame =
    spark.read.schema(spec.silverSchema).parquet(s"$silverRoot/${spec.prefix}")

  def mart(spark: SparkSession, silverRoot: String): DataFrame =
    martOver(spark, silverRoot,
      silver(spark, silverRoot, OlistCatalog.orderItems)
        .select("order_id", "product_id", "price", "freight_value"),   // :77
      silver(spark, silverRoot, OlistCatalog.orders)
        .select("order_id", "customer_id", "order_purchase_timestamp")) // :65

  /** The mart with explicit fact sides — shared by the plain path and
    * the bucketed-silver path so the dataflow cannot drift between
    * layouts.
    */
  private def martOver(spark: SparkSession, silverRoot: String,
      items: DataFrame, orders: DataFrame): DataFrame = {
    val products = silver(spark, silverRoot, OlistCatalog.products)
      .select("product_category_name", "product_id")                  // :53
    val payments = silver(spark, silverRoot, OlistCatalog.orderPayments)
      .select("order_id", "payment_type", "payment_value")            // :89
    val customers = silver(spark, silverRoot, OlistCatalog.customers)
      .select("customer_id", "customer_city", "customer_state")       // :104

    val paymentsPivot = payments
      .groupBy("order_id")
      .pivot("payment_type", PaymentTypes)
      .sum("payment_value")                                           // :91-92

    // joins :107-111, fillna :114-120, transforms+rename :123-149
    martFrom(items, orders, products, customers, paymentsPivot)
  }

  /** Opt-in bucketed silver layout for the pipeline's two `order_id`
    * fact sides (RunPipeline `--bucketed-silver=N`): re-writes
    * order_items and orders bucketed+sorted on the join key, so every
    * downstream gold build sort-merge-joins bucket-to-bucket with no
    * exchange — the [[graft.operators.VendasMart.bucketedSilver]]
    * layout applied to the production entry point. The repartition
    * puts each bucket in one file (see the VendasMart scaladoc for the
    * sort-elision contract). Returns the catalog table names.
    *
    * A location left by an earlier JVM has no catalog entry, and
    * `saveAsTable(overwrite)` refuses it with LOCATION_ALREADY_EXISTS,
    * so such orphans are cleared first — the same guard as
    * [[graft.operators.VendasMart.bucketedSilver]].
    */
  def bucketedSilver(spark: SparkSession, silverRoot: String,
      nBuckets: Int): (String, String) = {
    val itemsT = "olist_silver_items_b"
    val ordersT = "olist_silver_orders_b"
    VendasMart.clearStaleLocation(spark, itemsT)
    VendasMart.clearStaleLocation(spark, ordersT)
    silver(spark, silverRoot, OlistCatalog.orderItems)
      .select("order_id", "product_id", "price", "freight_value")
      .repartition(nBuckets, col("order_id"))
      .write.bucketBy(nBuckets, "order_id").sortBy("order_id")
      .mode("overwrite").format("parquet").saveAsTable(itemsT)
    silver(spark, silverRoot, OlistCatalog.orders)
      .select("order_id", "customer_id", "order_purchase_timestamp")
      .repartition(nBuckets, col("order_id"))
      .write.bucketBy(nBuckets, "order_id").sortBy("order_id")
      .mode("overwrite").format("parquet").saveAsTable(ordersT)
    (itemsT, ordersT)
  }

  /** The mart projection shared by the batch and streaming variants:
    * joins the (possibly streaming) item grain against the static
    * dimension frames and applies fillna / scalar transforms / the
    * Portuguese rename. Extracted so the two variants cannot drift.
    */
  def martFrom(items: DataFrame, orders: DataFrame, products: DataFrame,
      customers: DataFrame, paymentsPivot: DataFrame): DataFrame =
    items
      .join(orders, Seq("order_id"), "left")
      .join(products, Seq("product_id"), "left")
      .join(customers, Seq("customer_id"), "left")
      .join(paymentsPivot, Seq("order_id"), "left")
      .na.fill(0.0, MoneyCols)
      .select(
        col("order_id").as("PEDIDO"),
        col("product_id").as("ID_PRODUTO"),
        col("customer_id").as("ID_CLIENTE"),
        to_date(col("order_purchase_timestamp")).as("DATA_VENDA"),
        col("price").as("VALOR_VENDA"),
        col("freight_value").as("FRETE"),
        translate(upper(col("product_category_name")), "_", " ").as("CATEGORIA_PRODUTO"),
        upper(col("customer_city")).as("CIDADE_CLIENTE"),
        col("customer_state").as("ESTADO_CLIENTE"),
        col("boleto").as("VALOR_BOLETO"),
        col("credit_card").as("VALOR_CREDITO"),
        col("debit_card").as("VALOR_DEBITO"),
        col("voucher").as("VALOR_VOUCHER"),
        col("not_defined").as("VALOR_NAO_DEFINIDO"))

  /** Incremental (streaming) gold mart: the order-items grain arrives
    * as a stream (new silver files); dimensions and the payments pivot
    * are static frames. Stream-static left joins are fully supported
    * by Structured Streaming with no watermark requirement, so each
    * micro-batch appends exactly the new items' mart rows — the daily
    * gold rebuild becomes continuous. The reference's answer to new
    * data was re-running the whole DAG (`@once`, re-read everything).
    */
  def incrementalMart(spark: SparkSession, silverRoot: String): DataFrame = {
    val items = spark.readStream
      .schema(OlistCatalog.orderItems.silverSchema)
      .parquet(s"$silverRoot/${OlistCatalog.orderItems.prefix}")
      .select("order_id", "product_id", "price", "freight_value")
    val orders = silver(spark, silverRoot, OlistCatalog.orders)
      .select("order_id", "customer_id", "order_purchase_timestamp")
    val products = silver(spark, silverRoot, OlistCatalog.products)
      .select("product_category_name", "product_id")
    val customers = silver(spark, silverRoot, OlistCatalog.customers)
      .select("customer_id", "customer_city", "customer_state")
    val paymentsPivot = silver(spark, silverRoot, OlistCatalog.orderPayments)
      .select("order_id", "payment_type", "payment_value")
      .groupBy("order_id").pivot("payment_type", PaymentTypes).sum("payment_value")
    martFrom(items, orders, products, customers, paymentsPivot)
  }

  /** Stream→JDBC mirror via `foreachBatch` — the bridge for sinks
    * with no native streaming writer: each micro-batch of the
    * incremental gold mart full-replaces the mirror table, which is
    * the reference's `to_sql(if_exists='replace')`
    * (`s2g/vendas.py:173-180`) run continuously. `foreachBatch` hands
    * the micro-batch over as a plain DataFrame, so the proven batch
    * sink is reused untouched; with `AvailableNow` + checkpoint the
    * same call is the idempotent backfill.
    */
  def jdbcMirrorStream(gold: DataFrame, target: Sinks.JdbcTarget,
      checkpoint: String): StreamingQuery =
    gold.writeStream
      .foreachBatch((batch: DataFrame, _: Long) => Sinks.jdbcReplace(batch, target))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Gold parquet sink + optional JDBC mirror — the reference's
    * `to_parquet`+upload (`:152-162`) and `to_sql(if_exists='replace')`
    * (`:173-180`). With `buckets` set, the fact sides are first
    * re-laid-out through [[bucketedSilver]] (the one-time cost a real
    * ingest pays) and the mart reads the bucketed tables.
    *
    * The mirror is sent from the gold Parquet just written (read back
    * with the mart's schema), so the joins and the pivot run once per
    * build, not once per sink. Parquet reads are nullable, so every
    * mirror column is nullable, as pandas `to_sql` makes them.
    */
  def run(spark: SparkSession, silverRoot: String, goldRoot: String,
      jdbc: Option[Sinks.JdbcTarget] = None,
      buckets: Option[Int] = None): Unit = {
    val m = buckets match {
      case Some(n) =>
        val (itemsT, ordersT) = bucketedSilver(spark, silverRoot, n)
        martOver(spark, silverRoot, spark.table(itemsT), spark.table(ordersT))
      case None => mart(spark, silverRoot)
    }
    val goldPath = s"$goldRoot/olist/vendas"
    m.write.mode("overwrite").parquet(goldPath)
    jdbc.foreach(t => Sinks.jdbcReplace(spark.read.schema(m.schema).parquet(goldPath), t))
  }
}
