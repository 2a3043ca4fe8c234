package graft.olist

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicLong

/** ETL run audit / lineage — the Spark re-expression of
  * `audit.ingestion_run` (`02_create_tables_bronze.sql:110-124`) and the
  * STARTED→SUCCESS/FAILED row lifecycle every reference SP performs
  * (e.g. `sp_load_silver_customers.sql:14-16,48-52,58-62`).
  *
  * Parquet is append-only, so the reference's in-place UPDATE of the run
  * row becomes an *event* row per state change keyed by run_id (SURVEY §7
  * hard part 4); `runSummary` reconciles latest status per run, which
  * preserves the queryable surface of the reference's load report
  * (`03_load_csv_to_bronze.sql:121-125`).
  *
  * Each event is one single-row parquet file written on the driver with
  * parquet-hadoop — the reference's single-row INSERT, with no Spark job
  * behind it — and published by an atomic rename, so a reader sees a
  * whole event or none. The files are what Spark's own writer would
  * produce for `schema` (same physical types and footer keys), and
  * `runSummary` reads them with Spark.
  */
class Audit(spark: SparkSession, warehouse: String) {

  private val path = s"$warehouse/audit/ingestion_run"
  private val JulianDayOfEpoch = 2440588L
  private val MillisPerDay = 86400000L
  private val counter = new AtomicLong(System.currentTimeMillis())

  private val schema = StructType(Seq(
    StructField("run_id", LongType),
    StructField("source_system", StringType),
    StructField("source_object", StringType),
    StructField("target_schema", StringType),
    StructField("target_table", StringType),
    StructField("status", StringType),
    StructField("rows_inserted", LongType),
    StructField("error_message", StringType),
    StructField("logged_at", TimestampType)))

  /** The same event schema as parquet-hadoop sees it, spelled the way
    * Spark's own writer spells it (INT96 timestamps, UTF-8 strings),
    * with Spark's schema and version keys in the footer. */
  private val parquetSchema: MessageType = {
    def long(name: String) = Types.optional(PrimitiveTypeName.INT64).named(name)
    def string(name: String) = Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    new MessageType("spark_schema",
      long("run_id"), string("source_system"), string("source_object"),
      string("target_schema"), string("target_table"), string("status"),
      long("rows_inserted"), string("error_message"),
      Types.optional(PrimitiveTypeName.INT96).named("logged_at"))
  }
  private val footer = java.util.Map.of(
    "org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT,
    "org.apache.spark.sql.parquet.row.metadata", schema.json)
  private val events = new SimpleGroupFactory(parquetSchema)

  /** Writes the event under a hidden temp name, which Spark's file
    * listing skips, then renames it into place. */
  private def write(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                    tgtTable: String, status: String, rows: Option[Long], err: Option[String]): Unit = {
    val event = events.newGroup()
    event.append("run_id", runId)
    // a null string becomes a null cell, so an exception without a
    // message still gets its FAILED event
    Seq("source_system" -> srcSys, "source_object" -> srcObj, "target_schema" -> tgtSchema,
      "target_table" -> tgtTable, "status" -> status, "error_message" -> err.orNull)
      .foreach { case (k, v) => if (v != null) event.append(k, v) }
    rows.foreach(r => event.append("rows_inserted", r))
    // INT96 = (Julian day number, nanoseconds into that day)
    val millis = System.currentTimeMillis()
    val day = Math.floorDiv(millis, MillisPerDay)
    event.append("logged_at",
      new NanoTime((day + JulianDayOfEpoch).toInt, (millis - day * MillisPerDay) * 1000000L))

    val conf = spark.sparkContext.hadoopConfiguration
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(path, s".$name.tmp")
    val fs = tmp.getFileSystem(conf)
    try {
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(parquetSchema).withExtraMetaData(footer)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try writer.write(event) finally writer.close()
      if (!fs.rename(tmp, new Path(path, name)))
        throw new java.io.IOException(s"audit: cannot publish $tmp")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
  }

  /** INSERT ... 'STARTED'; SCOPE_IDENTITY() → run id (`03:35-37`). */
  def started(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String): Long = {
    val runId = counter.incrementAndGet()
    write(runId, srcSys, srcObj, tgtSchema, tgtTable, "STARTED", None, None)
    runId
  }

  /** UPDATE ... status='SUCCESS', rows_inserted=@@ROWCOUNT (`03:56-61`). */
  def succeeded(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                tgtTable: String, rows: Long): Unit =
    write(runId, srcSys, srcObj, tgtSchema, tgtTable, "SUCCESS", Some(rows), None)

  /** UPDATE ... status='FAILED', error_message=ERROR_MESSAGE() (`03:65-72`). */
  def failed(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
             tgtTable: String, err: String): Unit =
    write(runId, srcSys, srcObj, tgtSchema, tgtTable, "FAILED", Some(-1L), Some(err))

  /** Wrap a load with the STARTED → SUCCESS/FAILED lifecycle; rethrows on
    * failure (fail-fast contract, `05_sp_master_orchestrator_silver.sql:33-40`). */
  def withRun(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String)
             (load: => Long): Long = {
    val runId = started(srcSys, srcObj, tgtSchema, tgtTable)
    try {
      val rows = load
      succeeded(runId, srcSys, srcObj, tgtSchema, tgtTable, rows)
      rows
    } catch {
      case e: Throwable =>
        failed(runId, srcSys, srcObj, tgtSchema, tgtTable, e.getMessage)
        throw e
    }
  }

  /** Latest status per run — the reference's ordered load summary
    * (`03_load_csv_to_bronze.sql:121-125`). */
  def runSummary(): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // terminal states (SUCCESS/FAILED) outrank STARTED at the same
    // millisecond — a raw status sort would report an in-flight state as
    // latest when the start and finish events share a timestamp
    // (SUCCESS and FAILED are mutually exclusive per run, so ranking
    // terminal-vs-start is a total tiebreak)
    val terminalFirst = when(col("status") === "STARTED", 0).otherwise(1).desc
    val w = Window.partitionBy(col("run_id")).orderBy(col("logged_at").desc, terminalFirst)
    spark.read.schema(schema).parquet(path)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("run_id").desc)
  }
}
