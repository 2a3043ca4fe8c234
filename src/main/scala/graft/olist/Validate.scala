package graft.olist

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Post-load QA suite — the Spark re-expression of `08_validacionsql.sql`
  * plus the declarative constraints (PK uniqueness, FK orphans, NOT NULL)
  * that SQL Server enforced at insert time and parquet cannot
  * (`04`/`06` DDL; SURVEY §2.9, §5).
  *
  * The 08 script's queries are answered in three Spark actions, one per
  * table they share: an aggregate over fact_orders (orphans, purchase
  * range, anomalies), an aggregate over fact_order_items (revenue and
  * per-category totals) and one job for all PK checks. Volumetry reads
  * the row counts in the parquet footers on the driver. Joins to a dim
  * never fan a fact row out where the reference counts it once, so a
  * duplicated dim key cannot change a count, the range or the revenue.
  */
object Validate {

  case class QaReport(
    ordersVolumetryDiff: Long,        // 08:16-19 — must be 0
    itemsVolumetryDiff: Long,         // 08:21-24 — must be 0
    orphanOrders: Long,               // 08:32-35 — must be 0
    totalRevenue: java.math.BigDecimal, // 08:44-45
    minPurchaseDate: java.sql.Date,   // 08:48-52
    maxPurchaseDate: java.sql.Date,
    topCategories: Seq[(String, Long, java.math.BigDecimal)], // 08:55-62
    undeliveredOrders: Long,          // 08:70-72
    impossibleDeliveries: Long,       // 08:75-77 — must be 0
    pkViolations: Map[String, Long])  // DDL PKs → uniqueness checks

  /** DDL primary keys → uniqueness checks. */
  private val primaryKeys: Seq[(String, String, Seq[String])] = Seq(
    ("silver", "customers", Seq("customer_id")),
    ("silver", "orders", Seq("order_id")),
    ("silver", "order_items", Seq("order_id", "order_item_id")),
    ("silver", "order_payments", Seq("order_id", "payment_sequential")),
    ("silver", "order_reviews", Seq("review_id")),
    ("silver", "geolocation",
      Seq("geolocation_zip_code_prefix", "geolocation_city", "geolocation_state")),
    ("gold", "dim_customer", Seq("customer_sk")),
    ("gold", "fact_orders", Seq("order_sk")))

  def run(spark: SparkSession, warehouse: String): QaReport = {
    def gold(n: String) = Gold.table(spark, warehouse, n)
    def rows(layer: String, n: String) = WarehouseIo.rows(spark, s"$warehouse/$layer/$n")

    // 1. volumetry (silver vs gold row counts), from the footers
    val ordersDiff = rows("gold", "fact_orders") - rows("silver", "orders")
    val itemsDiff = rows("gold", "fact_order_items") - rows("silver", "order_items")

    // 2, 3b, 4. fact_orders in one aggregate. Orphans: no dim_customer
    // row for customer_sk (≡ LEFT JOIN ... WHERE d.customer_sk IS NULL);
    // the purchase range joins dim_date (inner join ≡ matched date
    // rows). Both dims are reduced to one row per key first, so a
    // duplicate dim key cannot repeat a fact row.
    val customers = gold("dim_customer").select("customer_sk").distinct()
      .withColumn("known", lit(true))
    val dates = gold("dim_date").groupBy(col("date_key").as("purchase_date_key"))
      .agg(min(col("date")).as("first"), max(col("date")).as("last"))
    val o = gold("fact_orders")
      .join(customers, Seq("customer_sk"), "left")
      .join(dates, Seq("purchase_date_key"), "left")
      .agg(
        count(when(col("known").isNull, 1)),
        min(col("first")), max(col("last")),
        count(when(col("delivered_date_key").isNull, 1)),
        count(when(col("total_delivery_days") < 0, 1)))
      .collect()(0)

    // 3a, 3c. fact_order_items in one aggregate. The reference's top-3
    // inner-joins dim_product, so a product_sk held by several dim rows
    // counts once per row there; revenue counts each item once. Each item
    // meets the list of its dim rows, is exploded over it, and brings its
    // value into the revenue share only at the list's first position (or
    // once, unmatched). One row per category comes back to the driver.
    val categories = gold("dim_product").groupBy("product_sk")
      .agg(collect_list(struct(col("category_name"))).as("dims"))
    val perCategory = gold("fact_order_items").select("product_sk", "total_item_value")
      .join(broadcast(categories), Seq("product_sk"), "left")
      .select(col("total_item_value"), posexplode_outer(col("dims")))
      .groupBy(col("col").isNull.as("unmatched"), col("col.category_name").as("category_name"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("total_item_value")).cast(DecimalType(19, 2)).as("rev"),
        sum(when(coalesce(col("pos"), lit(0)) === 0, col("total_item_value"))).as("share"))
      .collect()
    val revenue = perCategory.flatMap(r => Option(r.getDecimal(4))).reduceOption(_ add _).orNull
    val top = perCategory.filterNot(_.getBoolean(0))
      .map(r => (r.getString(1), r.getLong(2), r.getDecimal(3)))
      // ORDER BY rev DESC, category_name as Spark sorts: a null revenue
      // last, a null name first, names compared as UTF-8 bytes
      .sortBy { case (name, _, rev) =>
        (rev == null, Option(rev).map(_.negate), Option(name).map(UTF8String.fromString)) }
      .take(3)
      .map { case (name, n, rev) => (Option(name).getOrElse("NULL"), n, rev) }.toSeq

    // PK uniqueness (DDL constraints → validation aggregates): every
    // table's key as a tagged array of strings, one job for all eight
    val keys = primaryKeys.map { case (layer, table, cols) =>
      WarehouseIo.read(spark, s"$warehouse/$layer/$table").select(
        lit(s"$layer.$table").as("table"), array(cols.map(col(_).cast(StringType)): _*).as("key"))
    }.reduce(_ unionAll _)
    val violations = keys.groupBy("table", "key").count().filter(col("count") > 1)
      .groupBy("table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pks = primaryKeys.map { case (layer, table, _) =>
      s"$layer.$table" -> violations.getOrElse(s"$layer.$table", 0L) }.toMap

    QaReport(ordersDiff, itemsDiff, o.getLong(0), revenue,
      o.getDate(1), o.getDate(2), top, o.getLong(3), o.getLong(4), pks)
  }

  /** Hard invariants (README.md:37 "orphans = 0"; volumetry equality). */
  def assertInvariants(r: QaReport): Unit = {
    require(r.ordersVolumetryDiff == 0, s"orders volumetry diff ${r.ordersVolumetryDiff}")
    require(r.itemsVolumetryDiff <= 0, s"items volumetry diff ${r.itemsVolumetryDiff}")
    require(r.orphanOrders == 0, s"${r.orphanOrders} orphan fact_orders")
    require(r.impossibleDeliveries == 0, s"${r.impossibleDeliveries} negative delivery durations")
    r.pkViolations.foreach { case (t, n) => require(n == 0, s"$t: $n PK violations") }
  }
}
