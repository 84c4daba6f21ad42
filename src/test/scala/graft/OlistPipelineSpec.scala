package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DateType

import graft.sources.{IngestJob, OlistCatalog, OlistVendas, Sinks}

/** End-to-end golden pipeline test (SURVEY.md §5.3): bronze CSVs for
  * all 8 Olist tables → IngestJob.runAll → OlistVendas silver→gold →
  * assert the 14-column mart schema (reference rename map,
  * `s2g/vendas.py:133-149`) and spot row values covering the pivot,
  * the 4-way left join, fillna, upper, translate, and to_date, plus
  * the JDBC mirror (embedded Derby) holding exactly the gold rows.
  */
class OlistPipelineSpec extends SparkSpec {

  private def writeCsv(root: String, prefix: String, lines: String*): Unit = {
    val p = Paths.get(root, prefix, "data.csv")
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n"))
  }

  /** The shared bronze fixture: all 8 Olist tables, three items over
    * two orders, plus an order with no items. */
  private def writeBronze(bronze: String): Unit = {
    writeCsv(bronze, "olist/customers",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c1,u1,01310,sao paulo,SP",
      "c2,u2,20040,rio de janeiro,RJ")
    writeCsv(bronze, "olist/sellers",
      "seller_id,seller_zip_code_prefix,seller_city,seller_state",
      "s1,04536,sao paulo,SP")
    writeCsv(bronze, "olist/geolocation",
      "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state",
      "01310,-23.56,-46.65,sao paulo,SP")
    writeCsv(bronze, "olist/products",
      "product_id,product_category_name,product_name_lenght,product_description_lenght," +
        "product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm",
      "p1,cama_mesa_banho,40,280,1,750,30,10,20",
      "p2,informatica_acessorios,50,300,2,250,20,5,15")
    writeCsv(bronze, "olist/order_payments",
      "order_id,payment_sequential,payment_type,payment_installments,payment_value",
      "o1,1,credit_card,3,100.50",
      "o1,2,voucher,1,20.00",
      "o2,1,boleto,1,59.90")
    writeCsv(bronze, "olist/orders",
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date",
      "o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,2017-10-04 19:55:00," +
        "2017-10-10 21:25:13,2017-10-18 00:00:00",
      "o2,c2,shipped,2018-01-14 14:33:31,2018-01-14 14:48:30,,,2018-02-05 00:00:00",
      // An order with no items: must NOT appear in the item-grain mart.
      "o3,c1,created,2018-03-01 09:00:00,,,,2018-03-20 00:00:00")
    writeCsv(bronze, "olist/order_items",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "o1,1,p1,s1,2017-10-06 11:07:15,58.90,13.29",
      "o1,2,p2,s1,2017-10-06 11:07:15,239.90,19.93",
      "o2,1,p1,s1,2018-01-18 14:48:30,199.00,17.87")
    writeCsv(bronze, "olist/order_reviews",
      "review_id,order_id,review_score,review_comment_title,review_comment_message," +
        "review_creation_date,review_answer_timestamp",
      "r1,o1,5,,otimo,2017-10-11 00:00:00,2017-10-12 03:43:48")
  }

  test("full b2s + s2g pipeline produces the reference vendas mart") {
    val bronze = tmpDir("bronze")
    val silver = tmpDir("silver")
    val gold = tmpDir("gold")

    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)
    val t = Sinks.JdbcTarget(s"jdbc:derby:${tmpDir("gold_db")}/mirror;create=true",
      "TB_VENDAS", "", "")
    OlistVendas.run(spark, silver, gold, Some(t))

    val mart = spark.read.parquet(s"$gold/olist/vendas")
    assert(mart.columns.toSeq == Seq(
      "PEDIDO", "ID_PRODUTO", "ID_CLIENTE", "DATA_VENDA", "VALOR_VENDA", "FRETE",
      "CATEGORIA_PRODUTO", "CIDADE_CLIENTE", "ESTADO_CLIENTE", "VALOR_BOLETO",
      "VALOR_CREDITO", "VALOR_DEBITO", "VALOR_VOUCHER", "VALOR_NAO_DEFINIDO"))
    assert(mart.schema("DATA_VENDA").dataType == DateType)

    val rows = mart.orderBy("PEDIDO", "ID_PRODUTO").collect()
    assert(rows.length == 3) // item grain: o3 (no items) excluded

    val o1p1 = rows(0)
    assert(o1p1.getAs[String]("PEDIDO") == "o1")
    assert(o1p1.getAs[String]("CATEGORIA_PRODUTO") == "CAMA MESA BANHO") // upper + translate
    assert(o1p1.getAs[String]("CIDADE_CLIENTE") == "SAO PAULO")
    assert(o1p1.getAs[java.sql.Date]("DATA_VENDA").toString == "2017-10-02")
    assert(o1p1.getAs[Double]("VALOR_CREDITO") == 100.50) // pivot-sum
    assert(o1p1.getAs[Double]("VALOR_VOUCHER") == 20.00)
    assert(o1p1.getAs[Double]("VALOR_BOLETO") == 0.0)     // fillna(0)
    assert(o1p1.getAs[Double]("VALOR_DEBITO") == 0.0)     // absent pivot value still a column
    assert(o1p1.getAs[Double]("VALOR_NAO_DEFINIDO") == 0.0)

    val o2 = rows(2)
    assert(o2.getAs[Double]("VALOR_BOLETO") == 59.90)
    assert(o2.getAs[String]("CIDADE_CLIENTE") == "RIO DE JANEIRO")

    // The JDBC mirror holds exactly the gold Parquet rows, as a multiset.
    def multiset(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    val mirror = spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).load()
    assert(mirror.columns.toSeq == mart.columns.toSeq)
    assert(multiset(mirror) == multiset(mart))
    // Its columns are all nullable. Spark's JDBC reader reports every
    // column nullable whatever the DDL says, so ask Derby itself.
    val conn = java.sql.DriverManager.getConnection(t.url)
    try {
      val cols = conn.getMetaData.getColumns(null, null, t.table, null)
      val notNull = Iterator.continually(cols).takeWhile(_.next())
        .filter(_.getString("IS_NULLABLE") != "YES").map(_.getString("COLUMN_NAME")).toList
      assert(notNull.isEmpty, notNull)
    } finally conn.close()
  }

  test("bucketed gold build replaces a stale silver location that has no catalog entry") {
    val bronze = tmpDir("bronze_stale")
    val silver = tmpDir("silver_stale")
    val gold = tmpDir("gold_stale")
    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)

    // What an earlier JVM leaves behind: the bucketed tables' warehouse
    // directories on disk, unknown to this session's catalog.
    val itemsT = "olist_silver_items_b"
    val ordersT = "olist_silver_orders_b"
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq(itemsT, ordersT)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val out = fs.create(new Path(new Path(wh, t), "part-00000-stray.parquet"), true)
      try out.write("not parquet".getBytes("UTF-8")) finally out.close()
      assert(!spark.catalog.tableExists(t))
    }

    OlistVendas.run(spark, silver, gold, buckets = Some(2))

    assert(spark.table(itemsT).count() ==
      OlistVendas.silver(spark, silver, OlistCatalog.orderItems).count())
    assert(spark.table(ordersT).count() ==
      OlistVendas.silver(spark, silver, OlistCatalog.orders).count())
    assert(spark.read.parquet(s"$gold/olist/vendas").count() == 3)
  }

  test("incremental streaming mart appends exactly the batch mart rows") {
    val bronze = tmpDir("sbronze2")
    val silver = tmpDir("ssilver2")
    // Reuse the same fixture family as the batch test, minimal subset.
    writeCsv(bronze, "olist/customers",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c1,u1,01310,sao paulo,SP")
    writeCsv(bronze, "olist/sellers",
      "seller_id,seller_zip_code_prefix,seller_city,seller_state", "s1,04536,sp,SP")
    writeCsv(bronze, "olist/geolocation",
      "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state",
      "01310,-23.5,-46.6,sao paulo,SP")
    writeCsv(bronze, "olist/products",
      "product_id,product_category_name,product_name_lenght,product_description_lenght," +
        "product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm",
      "p1,cama_mesa_banho,40,280,1,750,30,10,20")
    writeCsv(bronze, "olist/order_payments",
      "order_id,payment_sequential,payment_type,payment_installments,payment_value",
      "o1,1,credit_card,3,100.50")
    writeCsv(bronze, "olist/orders",
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date",
      "o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,,,2017-10-18 00:00:00")
    writeCsv(bronze, "olist/order_items",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "o1,1,p1,s1,2017-10-06 11:07:15,58.90,13.29")
    writeCsv(bronze, "olist/order_reviews",
      "review_id,order_id,review_score,review_comment_title,review_comment_message," +
        "review_creation_date,review_answer_timestamp",
      "r1,o1,5,,ok,2017-10-11 00:00:00,2017-10-12 03:43:48")
    graft.sources.IngestJob.runAll(spark, bronze, silver)

    val goldDir = tmpDir("sgold2") + "/stream"
    val ckpt = tmpDir("sgold2ck")
    val q = OlistVendas.incrementalMart(spark, silver)
      .writeStream.format("parquet")
      .option("path", goldDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(goldDir).collect().map(_.toSeq).toSet
    val batch = OlistVendas.mart(spark, silver).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)

    // foreachBatch bridge: the same incremental mart mirrored into
    // embedded Derby per micro-batch (the reference's MySQL replace,
    // run from a stream). Read-back must equal the batch mart.
    val dbPath = tmpDir("sgold_db") + "/mirror"
    val t = graft.sources.Sinks.JdbcTarget(
      s"jdbc:derby:$dbPath;create=true", "TB_VENDAS", "", "")
    val mq = OlistVendas.jdbcMirrorStream(
      OlistVendas.incrementalMart(spark, silver), t, tmpDir("sgold_dbck"))
    mq.awaitTermination(120000)
    val mirrored = spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).load()
      .collect().map(_.toSeq).toSet
    assert(mirrored == batch)
  }

  test("pipeline CLI layout flags: bucketed silver is the default, plain the fallback") {
    import graft.tools.RunPipeline.{bucketsOf, isLayoutFlag}
    // r18 flip: no flag → bucketed at the code-default width (the
    // measured at-scale winner at every rung since r11).
    assert(bucketsOf(Nil).contains(graft.operators.VendasMart.SilverBuckets))
    assert(bucketsOf(List("--bucketed-silver=128")).contains(128))
    // The no-layout fallback, both spellings (templates pass
    // --bucketed-silver=0 unconditionally and toggle via a variable).
    assert(bucketsOf(List("--plain-silver")).isEmpty)
    assert(bucketsOf(List("--bucketed-silver=0")).isEmpty)
    // Last flag wins, and bare --bucketed-silver keeps the default width.
    assert(bucketsOf(List("--plain-silver", "--bucketed-silver"))
      .contains(graft.operators.VendasMart.SilverBuckets))
    assert(isLayoutFlag("--plain-silver") && isLayoutFlag("--bucketed-silver=4"))
    assert(!isLayoutFlag("jdbc:derby:whatever"))
  }
}
