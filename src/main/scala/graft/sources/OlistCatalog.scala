package graft.sources

import org.apache.spark.sql.types._

/** Declared schemas of the reference's eight bronze→silver tables
  * (SURVEY.md §1 dataset catalog; decls at
  * `scripts/bronze_to_silver/ingestion_customer_bronze_to_silver.py:35`,
  * `…orders…py:36`, `…order_items…py:36`, `…order_payments…py:35`,
  * `…order_reviews…py:36`, `…products…py:35`, `…sellers…py:35`,
  * `…geolocation…py:36`).
  *
  * The reference declares column *names* only (an empty pandas frame)
  * and lets `read_csv` infer cell types; we pin both, using the types
  * the inference resolves to on the Olist data (SURVEY.md §1 type
  * table). `tsCols` lists the columns the reference's `transform` task
  * parses with `pd.to_datetime` — a dead no-op there (the result is
  * discarded, `…orders…py:66-81`); here the cast is effective, which is
  * the evident intent.
  */
final case class TableSpec(
    name: String,
    prefix: String,
    schema: StructType,
    tsCols: Seq[String] = Nil) {

  /** The schema [[IngestJob]] writes to silver: `schema` with `tsCols`
    * as TimestampType. Silver readers declare it instead of inferring
    * it from Parquet footers (IngestSpec pins the two equal). */
  def silverSchema: StructType = StructType(schema.fields.map(f =>
    if (tsCols.contains(f.name)) f.copy(dataType = TimestampType) else f))
}

object OlistCatalog {

  private def s(n: String) = StructField(n, StringType)
  private def i(n: String) = StructField(n, IntegerType)
  private def d(n: String) = StructField(n, DoubleType)

  val customers: TableSpec = TableSpec(
    "customers", "olist/customers",
    StructType(Seq(
      s("customer_id"), s("customer_unique_id"), s("customer_zip_code_prefix"),
      s("customer_city"), s("customer_state"))))

  val orders: TableSpec = TableSpec(
    "orders", "olist/orders",
    StructType(Seq(
      s("order_id"), s("customer_id"), s("order_status"),
      s("order_purchase_timestamp"), s("order_approved_at"),
      s("order_delivered_carrier_date"), s("order_delivered_customer_date"),
      s("order_estimated_delivery_date"))),
    tsCols = Seq(
      "order_purchase_timestamp", "order_approved_at",
      "order_delivered_carrier_date", "order_delivered_customer_date",
      "order_estimated_delivery_date"))

  val orderItems: TableSpec = TableSpec(
    "order_items", "olist/order_items",
    StructType(Seq(
      s("order_id"), i("order_item_id"), s("product_id"), s("seller_id"),
      s("shipping_limit_date"), d("price"), d("freight_value"))),
    tsCols = Seq("shipping_limit_date"))

  val orderPayments: TableSpec = TableSpec(
    "order_payments", "olist/order_payments",
    StructType(Seq(
      s("order_id"), i("payment_sequential"), s("payment_type"),
      i("payment_installments"), d("payment_value"))))

  val orderReviews: TableSpec = TableSpec(
    "order_reviews", "olist/order_reviews",
    StructType(Seq(
      s("review_id"), s("order_id"), i("review_score"),
      s("review_comment_title"), s("review_comment_message"),
      s("review_creation_date"), s("review_answer_timestamp"))),
    tsCols = Seq("review_creation_date", "review_answer_timestamp"))

  val products: TableSpec = TableSpec(
    "products", "olist/products",
    StructType(Seq(
      s("product_id"), s("product_category_name"), i("product_name_lenght"),
      i("product_description_lenght"), i("product_photos_qty"),
      d("product_weight_g"), d("product_length_cm"), d("product_height_cm"),
      d("product_width_cm"))))

  val sellers: TableSpec = TableSpec(
    "sellers", "olist/sellers",
    StructType(Seq(
      s("seller_id"), s("seller_zip_code_prefix"), s("seller_city"),
      s("seller_state"))))

  val geolocation: TableSpec = TableSpec(
    "geolocation", "olist/geolocation",
    StructType(Seq(
      s("geolocation_zip_code_prefix"), d("geolocation_lat"),
      d("geolocation_lng"), s("geolocation_city"), s("geolocation_state"))))

  /** All eight bronze→silver jobs, in reference file order. */
  val all: Seq[TableSpec] = Seq(
    customers, sellers, geolocation, products, orderPayments,
    orders, orderItems, orderReviews)
}
