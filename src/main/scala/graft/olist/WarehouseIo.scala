package graft.olist

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Warehouse table I/O shared by every layer: the only place a layer
  * table is written or read back.
  *
  * Each Spark job it launches moves table data. The bookkeeping around
  * a load — the `@@ROWCOUNT` the reference reads after each INSERT, and
  * the schema a reader needs — costs no job: the row count is observed
  * during the write itself, and the schema comes from the parquet footer
  * Spark wrote, read on the driver.
  */
object WarehouseIo {

  /** Footer key under which Spark's parquet writer stores the table's
    * Spark schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Truncate+insert: overwrite the table at `path` with `df` and return
    * the rows written, counted by the write job itself (an observed
    * metric), so there is no read-back count after the write. */
  def overwrite(df: DataFrame, path: String, options: Map[String, String] = Map.empty): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).options(options).parquet(path)
    written.get("rows").asInstanceOf[Long]
  }

  /** The table at `path`, read with the schema Spark stored in its own
    * parquet footer: one footer read on the driver instead of a
    * schema-inference job. A table whose footer carries no Spark schema
    * was not written by this warehouse; it is an error, never inferred. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** Rows in the table at `path`: the row-group row counts of its
    * parquet footers, summed on the driver, so a volumetry check costs
    * no Spark job. */
  def rows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, path).map { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally reader.close()
    }.sum
  }

  /** The table's visible data files; names starting with '_' or '.' are
    * commit markers, checksums and temp files, which Spark skips too. */
  private def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val dir = new Path(path)
    val files = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".") &&
        p.getName.endsWith(".parquet"))
    if (files.isEmpty) throw new IllegalStateException(s"$path: no parquet data file")
    files
  }

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = dataFiles(spark, path).head
    val options = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), options)
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
               finally reader.close()
    if (json == null)
      throw new IllegalStateException(s"$file: footer has no $SparkSchemaKey (not written by Spark)")
    DataType.fromJson(json).asInstanceOf[StructType]
  }
}
