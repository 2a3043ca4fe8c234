package graft.olist

import org.apache.spark.sql.functions._

/** End-to-end medallion run over the fixture CSVs: bronze ingest → silver
  * → gold star schema → QA suite (SURVEY §5 test plan), including the
  * reference's own invariants (volumetry equality, zero orphans, unique
  * PKs) and idempotent re-run semantics. */
class PipelineSpec extends SparkTestBase {

  // A re-run of the fixture pipeline compiles 18 classes, 23 when the
  // dim_date guard's aggregate is new to the JVM; a codegen cache too
  // small to hold one refresh's classes recompiles nearly all of them (195).
  private val WarmCompileBound = 40

  private lazy val result: (String, Orchestrator.PipelineResult) = {
    val csvDir = tempDir("olist-e2e-csv")
    Fixtures.writeAll(csvDir)
    val wh = tempDir("olist-e2e-wh")
    (wh, Orchestrator.runAll(spark, csvDir, wh))
  }

  test("bronze: all 9 tables land with expected raw counts") {
    val (_, r) = result
    assert(r.bronzeRows("olist_customers") == 5)   // incl. dirty rows
    assert(r.bronzeRows("olist_orders") == 4)
    assert(r.bronzeRows("olist_order_reviews") == 5)
    assert(r.bronzeRows.size == 9)
    assert(r.bronzeRows.values.forall(_ >= 0))
  }

  test("silver: cleansed counts after quality gates") {
    val (_, r) = result
    assert(r.silverRows("customers") == 4)
    assert(r.silverRows("orders") == 4)
    assert(r.silverRows("order_items") == 3)
    assert(r.silverRows("order_reviews") == 3)
    assert(r.silverRows("geolocation") == 2)
  }

  test("gold: fact footers carry the order_id bloom (read-optimized writes)") {
    // Guards the Gold.writeFact tuning (REBALANCE + parquet bloom on
    // order_id) measured at 30M orders in SCALING.md — a dropped write
    // option would silently revert point lookups to full scans.
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val (wh, _) = result
    Seq("fact_orders" -> "order_id", "fact_order_items" -> "order_id",
        "fact_reviews" -> "review_id").foreach { case (t, key) =>
      val parts = new java.io.File(s"$wh/gold/$t").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(parts.nonEmpty, s"no parquet under $wh/gold/$t")
      val conf = new org.apache.hadoop.conf.Configuration()
      parts.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try reader.getFooter.getBlocks.asScala.foreach { b =>
          val cols = b.getColumns.asScala
          val ok = cols.find(_.getPath.toDotString == key).getOrElse(
            fail(s"$t/${f.getName}: no $key column; has " +
              cols.map(_.getPath.toDotString).mkString(", ")))
          // parquet-mr intentionally OMITS the bloom when every data
          // page is dictionary-encoded (the dictionary is an exact
          // membership filter, strictly better): at fixture scale the
          // 3-row facts dict-encode, at 30M the dictionary spills and
          // the bloom is written (ScaleSkipProbe measured 32/32 groups
          // with blooms). The contract is therefore: bloom present OR
          // fully dictionary-encoded — either way the footer can
          // answer point-membership without scanning the group.
          val dictEncoded = ok.getEncodings.asScala.exists(e =>
            e.name.contains("DICTIONARY"))
          assert(ok.getBloomFilterOffset >= 0 || dictEncoded,
            s"$t/${f.getName}: no bloom AND not dictionary-encoded on $key")
        } finally reader.close()
      }
    }
  }

  test("gold: star schema with dense deterministic SKs") {
    val (wh, r) = result
    assert(r.goldRows("dim_date") == 2558) // 2557 days + sentinel
    assert(r.goldRows("fact_orders") == 4)
    assert(r.goldRows("fact_order_items") == 3)
    assert(r.goldRows("fact_reviews") == 3) // r1→o1, r2→o2, r4→o4
    val fo = Gold.table(spark, wh, "fact_orders")
    val sks = fo.select("order_sk").collect().map(_.getInt(0)).sorted
    assert(sks.sameElements(1 to 4)) // dense 1..N
    // SK determinism: order_sk follows order_id order
    val o1sk = fo.filter(col("order_id") === "o1").head.getAs[Int]("order_sk")
    assert(o1sk == 1)
  }

  test("fact_orders: date keys, lead times (hour-boundary /24.0), late flag") {
    val (wh, _) = result
    val fo = Gold.table(spark, wh, "fact_orders").cache()
    val o1 = fo.filter(col("order_id") === "o1").head()
    assert(o1.getAs[Int]("purchase_date_key") == 20171002)
    assert(o1.getAs[Int]("delivered_date_key") == 20171010)
    assert(o1.getAs[Int]("is_late_delivery") == 0)
    val o2 = fo.filter(col("order_id") === "o2").head()
    assert(o2.getAs[Int]("is_late_delivery") == 1)
    val o4 = fo.filter(col("order_id") === "o4").head()
    assert(o4.isNullAt(o4.fieldIndex("delivered_date_key"))) // null-preserved
    assert(o4.getAs[Int]("purchase_date_key") == 20180219)
    // hour-boundary lead time: o1 purchase 10:56:33 → approved 11:07:15
    // crosses exactly 1 hour boundary → 1/24.0 = 0.04
    assert(o1.getAs[java.math.BigDecimal]("lead_time_approved_days")
      .compareTo(new java.math.BigDecimal("0.04")) == 0)
  }

  test("QA suite: reference invariants hold (volumetry, orphans, anomalies)") {
    val (_, r) = result
    assert(r.qa.ordersVolumetryDiff == 0)
    assert(r.qa.orphanOrders == 0)
    assert(r.qa.impossibleDeliveries == 0)
    assert(r.qa.undeliveredOrders == 2) // o3 shipped, o4 canceled
    assert(r.qa.minPurchaseDate.toString == "2017-10-02")
    assert(r.qa.maxPurchaseDate.toString == "2018-02-19")
    assert(r.qa.pkViolations.values.forall(_ == 0))
    // revenue: 72.19 + 259.83 + 216.87
    assert(r.qa.totalRevenue.compareTo(new java.math.BigDecimal("548.89")) == 0)
  }

  test("idempotence: re-running the pipeline reproduces identical gold output") {
    val (wh, first) = result
    val csvDir = tempDir("olist-e2e-csv2")
    Fixtures.writeAll(csvDir)
    val again = Orchestrator.runAll(spark, csvDir, wh)
    assert(again.goldRows("fact_orders") == first.goldRows("fact_orders"))
    // already-loaded guard skipped the rebuild but still reports the real
    // existing row count (2557 days + sentinel), not a -1 sentinel
    assert(again.goldRows("dim_date") == 2558L)
    assert(again.qa.totalRevenue.compareTo(first.qa.totalRevenue) == 0)
    val fo = Gold.table(spark, wh, "fact_orders")
    assert(fo.select("order_sk").collect().map(_.getInt(0)).sorted.sameElements(1 to 4))
  }

  test("audit trail records STARTED and SUCCESS events per load") {
    // own warehouse: checked after the first run and again after the
    // idempotent re-run, whose events add to the first run's
    val csvDir = tempDir("olist-audit-csv")
    Fixtures.writeAll(csvDir)
    val wh = tempDir("olist-audit-wh")
    Seq("first run", "re-run").foreach { pass =>
      val r = Orchestrator.runAll(spark, csvDir, wh)
      val summary = new Audit(spark, wh).runSummary().cache()
      assert(summary.filter(col("status") === "SUCCESS").count() >= 16) // 9 bronze + 9 silver - dim guard
      assert(summary.filter(col("status") === "FAILED").count() == 0)
      val silverOrders = summary.filter(
        col("target_schema") === "silver" && col("target_table") === "orders").head()
      assert(silverOrders.getAs[Long]("rows_inserted") == 4)
      // the count taken during each write is the written table's count
      // and the count the pipeline reports
      val reported = Map("bronze" -> r.bronzeRows, "silver" -> r.silverRows, "gold" -> r.goldRows)
      summary.filter(col("status") === "SUCCESS").collect().foreach { run =>
        val (layer, table) = (run.getAs[String]("target_schema"), run.getAs[String]("target_table"))
        val rows = run.getAs[Long]("rows_inserted")
        assert(rows == WarehouseIo.read(spark, s"$wh/$layer/$table").count(), s"$pass: $layer.$table")
        assert(rows == reported(layer)(table), s"$pass: $layer.$table")
      }
      summary.unpersist()
    }
  }

  test("warm refresh: a re-run reuses the compiled code of the first run") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val csvDir = tempDir("olist-warm-csv")
    Fixtures.writeAll(csvDir)
    val wh = tempDir("olist-warm-wh")
    Orchestrator.runAll(spark, csvDir, wh)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Orchestrator.runAll(spark, csvDir, wh)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // what is left is silver's current_timestamp() lineage, which Spark
    // folds into a new literal in the generated code on every run
    assert(compiles <= WarmCompileBound, s"$compiles classes compiled by the re-run")
  }

  test("bronze: a fatal error in a load is not swallowed") {
    val csvDir = tempDir("olist-fatal-csv")
    Fixtures.writeAll(csvDir)
    val wh = tempDir("olist-fatal-wh")
    val interrupted = new Audit(spark, wh) {
      override def withRun(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String)
                          (load: => Long): Long = throw new InterruptedException("stop")
    }
    intercept[InterruptedException](new Bronze(spark, wh, interrupted).loadAll(csvDir))
  }

  test("fail-fast: a poisoned silver load aborts and audits FAILED") {
    val csvDir = tempDir("olist-poison")
    Fixtures.writeAll(csvDir)
    // poison: an order row with unparseable purchase timestamp → NOT NULL
    // violation → load must throw (not silently drop)
    writeFile(csvDir, "olist_orders.csv",
      Fixtures.orders + "o9,c1,shipped,not-a-timestamp,,,,2018-03-17 00:00:00\n")
    val wh = tempDir("olist-poison-wh")
    val e = intercept[IllegalStateException] {
      Orchestrator.runAll(spark, csvDir, wh)
    }
    assert(e.getMessage.contains("NOT NULL violation"))
    val failed = new Audit(spark, wh).runSummary()
      .filter(col("status") === "FAILED")
    assert(failed.count() == 1)
  }
}
