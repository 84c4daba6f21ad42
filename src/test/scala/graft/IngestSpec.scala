package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.sources.{IngestJob, OlistCatalog, TableSpec}

/** Bronze→silver ingest semantics pinned against the reference's
  * pandas behavior (SURVEY.md §1–2.1): multi-file union, by-name
  * alignment of drifting CSV schemas, effective timestamp casts, and
  * the pandas→Spark divergence on unparseable timestamps (null, not
  * raise) that SURVEY.md §7 says to pin.
  */
class IngestSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, lines: String*): Unit = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n"))
  }

  test("multi-file CSV extract unions all objects under the prefix") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    writeCsv(d, "a.csv",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c1,u1,01310,sao paulo,SP")
    writeCsv(d, "b.csv",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c2,u2,20040,rio de janeiro,RJ",
      "c3,u3,30110,belo horizonte,MG")
    val df = IngestJob(OlistCatalog.customers).extract(spark, bronze)
    assert(df.count() == 3)
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
  }

  test("alignment: reordered and extra CSV columns align by name; missing -> null") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    // Reordered, one extra column, one declared column missing.
    writeCsv(d, "drift.csv",
      "customer_city,customer_id,bonus_col,customer_state",
      "osasco,c9,zzz,SP")
    val df = IngestJob(OlistCatalog.customers).extract(spark, bronze)
    val r = df.head()
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
    assert(r.getAs[String]("customer_id") == "c9")
    assert(r.getAs[String]("customer_city") == "osasco")
    assert(r.isNullAt(df.columns.indexOf("customer_unique_id")))
    assert(!df.columns.contains("bonus_col"))
  }

  test("align is source-agnostic: JSON-lines bronze aligns to the same silver schema") {
    val bronze = tmpDir("bronze_json")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bronze))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(bronze, "a.jsonl"),
      // Extra field, one declared field missing, fields out of order —
      // the same drift the CSV tests pin.
      """{"customer_city":"campinas","customer_id":"c7","surprise":1}
        |{"customer_id":"c8","customer_unique_id":"u8","customer_state":"SP"}
        |""".stripMargin)
    val raw = spark.read.json(bronze)
    val df = IngestJob(OlistCatalog.customers).align(raw)
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
    val byId = df.collect().map(r => r.getAs[String]("customer_id") -> r).toMap
    assert(byId("c7").getAs[String]("customer_city") == "campinas")
    assert(byId("c7").isNullAt(df.columns.indexOf("customer_state")))
    assert(byId("c8").getAs[String]("customer_unique_id") == "u8")
    assert(!df.columns.contains("surprise"))
  }

  test("transform casts tsCols to timestamp; garbage -> null (pinned divergence)") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/orders"
    writeCsv(d, "o.csv",
      OlistCatalog.orders.schema.fieldNames.mkString(","),
      "o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,,,2017-10-10 00:00:00",
      "o2,c2,shipped,not-a-date,,,,")
    val job = IngestJob(OlistCatalog.orders)
    val df = job.transform(job.extract(spark, bronze)).orderBy("order_id")
    assert(df.schema("order_purchase_timestamp").dataType == TimestampType)
    val rows = df.collect()
    assert(rows(0).getAs[java.sql.Timestamp]("order_purchase_timestamp").toString
      .startsWith("2017-10-02 10:56:33"))
    assert(rows(1).isNullAt(df.columns.indexOf("order_purchase_timestamp")))
  }

  test("load writes silver parquet that round-trips the schema") {
    val bronze = tmpDir("bronze")
    val silver = tmpDir("silver")
    val d = s"$bronze/olist/order_items"
    writeCsv(d, "i.csv",
      OlistCatalog.orderItems.schema.fieldNames.mkString(","),
      "o1,1,p1,s1,2017-10-06 11:07:15,58.9,13.29",
      "o1,2,p2,s1,2017-10-06 11:07:15,239.9,19.93")
    IngestJob(OlistCatalog.orderItems).run(spark, bronze, silver, singleObject = true)
    val back = spark.read.parquet(s"$silver/olist/order_items")
    assert(back.count() == 2)
    assert(back.schema("price").dataType == DoubleType)
    assert(back.schema("shipping_limit_date").dataType == TimestampType)
    // singleObject layout: exactly one data file, like the reference.
    val files = new java.io.File(s"$silver/olist/order_items")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
  }

  test("permissive mode: malformed rows yield typed nulls, not failures") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/order_items"
    writeCsv(d, "bad.csv",
      OlistCatalog.orderItems.schema.fieldNames.mkString(","),
      "o1,1,p1,s1,2017-10-06 11:07:15,58.9,13.29",
      "o2,not-an-int,p2,s2,2017-10-06 11:07:15,not-a-double,1.0")
    val df = IngestJob(OlistCatalog.orderItems).extract(spark, bronze)
      .orderBy("order_id")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("price") == 58.9)
    // Malformed cells align to null under the declared types.
    assert(rows(1).isNullAt(df.columns.indexOf("order_item_id")))
    assert(rows(1).isNullAt(df.columns.indexOf("price")))
    assert(rows(1).getAs[Double]("freight_value") == 1.0)
  }

  test("silver parquet schema equals the declared silverSchema for all eight tables") {
    val bronze = tmpDir("bronze_all")
    val silver = tmpDir("silver_all")
    OlistCatalog.all.foreach { spec =>
      writeCsv(s"$bronze/${spec.prefix}", "t.csv",
        spec.schema.fieldNames.mkString(","), spec.schema.fieldNames.map(_ => "1").mkString(","))
    }
    IngestJob.runAll(spark, bronze, silver)
    OlistCatalog.all.foreach { spec =>
      assert(spark.read.parquet(s"$silver/${spec.prefix}").schema == spec.silverSchema, spec.name)
    }
  }
}
