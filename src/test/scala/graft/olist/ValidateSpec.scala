package graft.olist

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.AtomicInteger

/** `Validate.run` answers the QA suite in three Spark actions. Its report
  * must equal the one the query-per-check formulation gives, above all
  * on a warehouse that breaks the invariants the checks look for. */
class ValidateSpec extends SparkTestBase {

  /** The QA suite as one Spark action per check (18 in all): the oracle
    * the folded `Validate.run` is held to. */
  private def oracle(spark: SparkSession, warehouse: String): Validate.QaReport = {
    def silver(n: String) = Silver.table(spark, warehouse, n)
    def gold(n: String) = Gold.table(spark, warehouse, n)

    val ordersDiff = gold("fact_orders").count() - silver("orders").count()
    val itemsDiff = gold("fact_order_items").count() - silver("order_items").count()
    val orphans = gold("fact_orders")
      .join(gold("dim_customer"), Seq("customer_sk"), "left_anti").count()
    val revenue = gold("fact_order_items")
      .agg(sum(col("total_item_value")).cast(DecimalType(19, 2)).as("v"))
      .head.getDecimal(0)
    val range = gold("fact_orders")
      .join(gold("dim_date"), col("purchase_date_key") === col("date_key"), "inner")
      .agg(min(col("date")).as("mn"), max(col("date")).as("mx")).head
    val top = gold("fact_order_items")
      .join(broadcast(gold("dim_product")), Seq("product_sk"), "inner")
      .groupBy("category_name")
      .agg(count(lit(1)).as("n"), sum(col("total_item_value")).cast(DecimalType(19, 2)).as("rev"))
      .orderBy(desc("rev"), col("category_name"))
      .limit(3).collect()
      .map(r => (Option(r.getString(0)).getOrElse("NULL"), r.getLong(1), r.getDecimal(2))).toSeq
    val undelivered = gold("fact_orders").filter(col("delivered_date_key").isNull).count()
    val impossible = gold("fact_orders").filter(col("total_delivery_days") < 0).count()
    def pkCheck(df: DataFrame, cols: Seq[String]): Long =
      df.groupBy(cols.map(col): _*).count().filter(col("count") > 1).count()
    val pks = Map(
      "silver.customers" -> pkCheck(silver("customers"), Seq("customer_id")),
      "silver.orders" -> pkCheck(silver("orders"), Seq("order_id")),
      "silver.order_items" -> pkCheck(silver("order_items"), Seq("order_id", "order_item_id")),
      "silver.order_payments" -> pkCheck(silver("order_payments"), Seq("order_id", "payment_sequential")),
      "silver.order_reviews" -> pkCheck(silver("order_reviews"), Seq("review_id")),
      "silver.geolocation" -> pkCheck(silver("geolocation"),
        Seq("geolocation_zip_code_prefix", "geolocation_city", "geolocation_state")),
      "gold.dim_customer" -> pkCheck(gold("dim_customer"), Seq("customer_sk")),
      "gold.fact_orders" -> pkCheck(gold("fact_orders"), Seq("order_sk")))
    Validate.QaReport(ordersDiff, itemsDiff, orphans, revenue,
      range.getDate(0), range.getDate(1), top, undelivered, impossible, pks)
  }

  private def money(s: String) = new java.math.BigDecimal(s)
  private def date(s: String) = java.sql.Date.valueOf(s)

  /** A warehouse holding the tables QA reads, every one of them broken
    * the way its check looks for, with `items` and `products` given. */
  private def warehouse(items: Seq[Row], products: Seq[Row]): String = {
    val wh = tempDir("validate-wh")
    def table(name: String, ddl: String, rows: Row*): Unit = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType.fromDDL(ddl))
      WarehouseIo.overwrite(df, s"$wh/$name")
    }
    // every PK-checked table holds a duplicate key; order_items also a
    // duplicated key with a null in it
    table("silver/customers", "customer_id STRING", Row("c1"), Row("c2"), Row("c2"))
    table("silver/orders", "order_id STRING", Row("o1"), Row("o2"), Row("o3"), Row("o3"))
    table("silver/order_items", "order_id STRING, order_item_id INT",
      Row("o1", 1), Row("o1", 1), Row("o2", 1), Row("o2", null), Row("o2", null))
    table("silver/order_payments", "order_id STRING, payment_sequential INT",
      Row("o1", 1), Row("o1", 1), Row("o1", 2))
    table("silver/order_reviews", "review_id STRING", Row("r1"), Row("r1"), Row("r2"))
    table("silver/geolocation",
      "geolocation_zip_code_prefix STRING, geolocation_city STRING, geolocation_state STRING",
      Row("01001", "sao paulo", "SP"), Row("01001", "sao paulo", "SP"),
      Row("01001", "sao paul", "SP"))
    table("gold/dim_customer", "customer_sk INT", Row(1), Row(2), Row(2))
    // a repeated date_key with a later date: the range must see both
    table("gold/dim_date", "date_key INT, date DATE",
      Row(20170102, date("2017-01-02")), Row(20170105, date("2017-01-05")),
      Row(20180301, date("2018-03-01")), Row(20180301, date("2018-04-01")))
    // orphans: customer_sk 9 and a null customer_sk; order_sk 3 twice;
    // a negative delivery duration; null delivered keys; a purchase key
    // dim_date does not hold
    table("gold/fact_orders",
      "order_sk INT, customer_sk INT, purchase_date_key INT, delivered_date_key INT, " +
        "total_delivery_days DECIMAL(10,2)",
      Row(1, 1, 20170102, 20170110, money("8.00")),
      Row(2, 2, 20170105, null, null),
      Row(3, 9, 20180301, 20180302, money("-1.00")),
      Row(3, 2, 20170102, 20170105, money("3.00")),
      Row(5, null, 20990101, null, money("2.00")))
    table("gold/fact_order_items", "product_sk INT, total_item_value DECIMAL(10,2)", items: _*)
    table("gold/dim_product", "product_sk INT, category_name STRING", products: _*)
    wh
  }

  private val fullwidthA = "\uFF21"     // UTF-8 EF BC A1
  private val emoji = "\uD83D\uDE00"   // UTF-8 F0 9F 98 80, yet a lower UTF-16 unit

  /** Product 2 sits in two dim rows; product 9 is in none; a null
    * category; fullwidth-A and emoji tie on revenue, and UTF-8 byte order
    * and UTF-16 order rank them differently. */
  private lazy val broken = warehouse(
    items = Seq(Row(1, money("10.00")), Row(1, money("5.00")), Row(1, null),
      Row(2, money("20.00")), Row(3, money("7.00")), Row(4, money("12.00")),
      Row(5, money("12.00")), Row(9, money("100.00")), Row(null, money("3.00"))),
    products = Seq(Row(1, "bed"), Row(2, "toys"), Row(2, "bed"), Row(3, null),
      Row(4, fullwidthA), Row(5, emoji), Row(6, "unsold")))

  private def assertSameReport(wh: String): Validate.QaReport = {
    val want = oracle(spark, wh)
    val got = Validate.run(spark, wh)
    got.productElementNames.zip(got.productIterator.zip(want.productIterator)).foreach {
      case (field, (g, w)) => assert(g == w, s"$field")
    }
    assert(got == want)
    assert(got.toString == want.toString)
    got
  }

  test("folded QA equals the per-check QA on a broken warehouse") {
    val r = assertSameReport(broken)
    // the broken data shows in the report it is meant to show in
    assert(r.ordersVolumetryDiff == 1 && r.itemsVolumetryDiff == 4)
    assert(r.orphanOrders == 2 && r.undeliveredOrders == 2 && r.impossibleDeliveries == 1)
    assert(r.maxPurchaseDate == date("2018-04-01"))
    assert(r.totalRevenue == money("169.00")) // product 2's two dim rows count it once
    assert(r.topCategories.map(_._1) == Seq("bed", "toys", fullwidthA))
    assert(r.pkViolations == Map("silver.customers" -> 1L, "silver.orders" -> 1L,
      "silver.order_items" -> 2L, "silver.order_payments" -> 1L, "silver.order_reviews" -> 1L,
      "silver.geolocation" -> 1L, "gold.dim_customer" -> 1L, "gold.fact_orders" -> 1L))
  }

  test("folded QA equals the per-check QA on an empty fact_order_items") {
    val r = assertSameReport(warehouse(items = Nil, products = Seq(Row(1, "bed"))))
    assert(r.totalRevenue == null && r.topCategories.isEmpty)
  }

  test("folded QA orders a null category first and a null revenue last") {
    val r = assertSameReport(warehouse(
      items = Seq(Row(1, money("5.00")), Row(3, money("5.00")), Row(6, null)),
      products = Seq(Row(1, "bed"), Row(3, null), Row(6, "zz"))))
    assert(r.topCategories.map(_._1) == Seq("NULL", "bed", "zz"))
  }

  test("Validate.run makes at most 3 Spark actions") {
    val wh = broken
    val sc = spark.sparkContext
    val actions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = actions.incrementAndGet()
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = actions.incrementAndGet()
    }
    ListenerBusDrain(sc)
    spark.listenerManager.register(listener)
    try {
      Validate.run(spark, wh)
      ListenerBusDrain(sc)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get > 0 && actions.get <= 3, s"${actions.get} actions")
  }
}
