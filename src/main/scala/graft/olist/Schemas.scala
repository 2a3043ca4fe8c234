package graft.olist

import org.apache.spark.sql.types._

/** Explicit schemas for every layer of the medallion warehouse.
  *
  * Bronze mirrors the reference's all-VARCHAR landing rule
  * (`01_create_database_and_schemas.sql:71`, `02_create_tables_bronze.sql:22-108`):
  * every column StringType so ingest can never fail on bad data; typing is
  * applied bronze→silver via try_* casts (`04_create_silver_tables.sql:14-20`).
  * Nothing is ever schema-inferred: bronze CSVs are read with these
  * schemas, and silver/gold tables with the schema Spark stored in their
  * own parquet footers (`WarehouseIo.read`).
  */
object Schemas {

  private def allString(cols: String*): StructType =
    StructType(cols.map(c => StructField(c, StringType, nullable = true)))

  // ── bronze (CSV landing, reference 02_create_tables_bronze.sql) ──────────

  val bronzeCustomers: StructType = allString(
    "customer_id", "customer_unique_id", "customer_zip_code_prefix",
    "customer_city", "customer_state")

  val bronzeGeolocation: StructType = allString(
    "geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
    "geolocation_city", "geolocation_state")

  val bronzeOrderItems: StructType = allString(
    "order_id", "order_item_id", "product_id", "seller_id",
    "shipping_limit_date", "price", "freight_value")

  val bronzeOrderPayments: StructType = allString(
    "order_id", "payment_sequential", "payment_type",
    "payment_installments", "payment_value")

  val bronzeOrderReviews: StructType = allString(
    "review_id", "order_id", "review_score", "review_comment_title",
    "review_comment_message", "review_creation_date", "review_answer_timestamp")

  val bronzeOrders: StructType = allString(
    "order_id", "customer_id", "order_status", "order_purchase_timestamp",
    "order_approved_at", "order_delivered_carrier_date",
    "order_delivered_customer_date", "order_estimated_delivery_date")

  val bronzeProducts: StructType = allString(
    "product_id", "product_category_name", "product_name_lenght",
    "product_description_lenght", "product_photos_qty", "product_weight_g",
    "product_length_cm", "product_height_cm", "product_width_cm")

  val bronzeSellers: StructType = allString(
    "seller_id", "seller_zip_code_prefix", "seller_city", "seller_state")

  val bronzeCategoryTranslation: StructType = allString(
    "product_category_name", "product_category_name_english")

  /** Bronze table name → (csv file stem, schema, pipe-separated?). The
    * reviews file is pipe-separated after the newline pre-clean
    * (`03_load_csv_to_bronze.sql:110-115`). */
  val bronzeTables: Seq[(String, StructType, Boolean)] = Seq(
    ("olist_customers", bronzeCustomers, false),
    ("olist_geolocation", bronzeGeolocation, false),
    ("olist_order_items", bronzeOrderItems, false),
    ("olist_order_payments", bronzeOrderPayments, false),
    ("olist_order_reviews", bronzeOrderReviews, true),
    ("olist_orders", bronzeOrders, false),
    ("olist_products", bronzeProducts, false),
    ("olist_sellers", bronzeSellers, false),
    ("product_category_name_translation", bronzeCategoryTranslation, false))

  // ── shared silver/gold types (reference 04_create_silver_tables.sql,
  //    06_create_gold_tables.sql) ─────────────────────────────────────────

  /** DECIMAL(10,2) — money & metric columns. */
  val Money: DecimalType = DecimalType(10, 2)
  /** DECIMAL(19,2) — product_volume_cm3 (`06_create_gold_tables.sql:79`). */
  val Volume: DecimalType = DecimalType(19, 2)
}
