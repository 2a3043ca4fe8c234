package graft.olist

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

/** Warehouse bookkeeping costs no Spark job: table accessors read their
  * schema from the parquet footer on the driver, writes count their rows
  * as they go, and audit events are written on the driver. */
class WarehouseIoSpec extends SparkTestBase {

  /** Spark jobs started while `f` runs. */
  private def jobsLaunchedBy(f: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { f; ListenerBusDrain(sc); jobs.get } finally sc.removeSparkListener(listener)
  }

  private def sample = spark.range(5).select(
    col("id").cast("int").as("k"),
    concat(lit("v"), col("id").cast("string")).as("s"),
    (col("id") / 4).cast("decimal(10,2)").as("m"),
    timestamp_seconds(col("id") * 86400).as("ts"))

  test("overwrite returns the rows written; read restores the written schema") {
    val path = s"${tempDir("wio-rw")}/t"
    assert(WarehouseIo.overwrite(sample, path) == 5)
    assert(WarehouseIo.overwrite(sample.filter(col("k") < 2), path) == 2) // truncate+insert
    val back = WarehouseIo.read(spark, path)
    assert(back.dtypes.toSeq == sample.dtypes.toSeq)
    assert(back.count() == 2)
    assert(WarehouseIo.overwrite(sample.filter(lit(false)), path) == 0)
    assert(WarehouseIo.read(spark, path).dtypes.toSeq == sample.dtypes.toSeq)
  }

  test("rows sums the footer row counts, without a Spark job") {
    val path = s"${tempDir("wio-rows")}/t"
    WarehouseIo.overwrite(sample.filter(lit(false)), path)
    assert(jobsLaunchedBy(assert(WarehouseIo.rows(spark, path) == 0)) == 0)
    assert(WarehouseIo.read(spark, path).count() == 0)
    WarehouseIo.overwrite(spark.range(0, 1000, 1, 4).select(col("id")), path)
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(jobsLaunchedBy(assert(WarehouseIo.rows(spark, path) == 1000)) == 0)
    assert(WarehouseIo.read(spark, path).count() == 1000)
  }

  test("table accessors launch no Spark job") {
    val wh = tempDir("wio-wh")
    Seq("bronze/olist_orders", "silver/orders", "gold/fact_orders")
      .foreach(t => WarehouseIo.overwrite(sample, s"$wh/$t"))
    val bronze = new Bronze(spark, wh, new Audit(spark, wh))
    assert(jobsLaunchedBy(bronze.table("olist_orders")) == 0)
    assert(jobsLaunchedBy(Silver.table(spark, wh, "orders")) == 0)
    assert(jobsLaunchedBy(Gold.table(spark, wh, "fact_orders")) == 0)
  }

  test("audit events launch no Spark job") {
    val audit = new Audit(spark, tempDir("wio-audit"))
    var runId = 0L
    assert(jobsLaunchedBy { runId = audit.started("csv", "x", "bronze", "x") } == 0)
    assert(jobsLaunchedBy(audit.succeeded(runId, "csv", "x", "bronze", "x", 7L)) == 0)
    assert(jobsLaunchedBy(audit.failed(runId, "csv", "x", "bronze", "x", "boom")) == 0)
  }

  test("read fails loudly instead of inferring a schema") {
    val empty = tempDir("wio-empty")
    val e1 = intercept[IllegalStateException](WarehouseIo.read(spark, empty))
    assert(e1.getMessage.contains("no parquet data file"))
    // a parquet file written by plain parquet-hadoop has no Spark schema key
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val foreign = tempDir("wio-foreign")
    val schema = MessageTypeParser.parseMessageType("message m { required int64 k; }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$foreign/part-0.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L)) finally writer.close()
    val e2 = intercept[IllegalStateException](WarehouseIo.read(spark, foreign))
    assert(e2.getMessage.contains("org.apache.spark.sql.parquet.row.metadata"))
  }
}
