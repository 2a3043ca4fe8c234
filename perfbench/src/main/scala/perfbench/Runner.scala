package perfbench

import graft.olist.{Audit, Bronze, Gold, Orchestrator, Silver, Validate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark: builds one session, runs a workload
  * against the program's public entry points and writes raw outcomes,
  * timings and (when traced) spans to a results file. `run.py` owns the
  * statistics and the correctness verdict.
  *
  * Arguments are `key=value`: mode (refresh | ops | record), out, work,
  * cpus, trace (0 | 1); refresh adds csv and reruns; ops and record add
  * data and keys (a file with one query key per line); record adds dump.
  *
  * stdout carries one line, `perfbench-ready`, printed once the session
  * is built and warmed; run.py times set-up up to it. */
object Runner {

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spark = session(conf("cpus").toInt, conf("work"))
    println("perfbench-ready")
    System.out.flush()
    val host = Map("canary_before_s" -> canary(spark), "load_before" -> loadAverage())
    val tracer = if (conf("trace") == "1") Some(new Tracer(spark)) else None
    val trace = tracer.getOrElse(NoTrace)
    try {
      val result = conf("mode") match {
        case "refresh" => Refresh.run(spark, trace, conf("csv"), s"${conf("work")}/warehouse",
          conf("reruns").toInt)
        case "ops" => Ops.run(spark, trace, conf("data"), lines(conf("keys")))
        case "record" => Ops.record(spark, conf("data"), lines(conf("keys")), conf("dump"))
      }
      tracer.foreach(_.close())
      val record = host ++ Map("canary_after_s" -> canary(spark), "load_after" -> loadAverage(),
        "cpus" -> conf("cpus").toInt, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6)
      val out = result ++ Map("host" -> record) ++ tracer.map(t => "trace" -> t.export())
      java.nio.file.Files.writeString(java.nio.file.Paths.get(conf("out")), Json(out))
    } finally spark.stop()
  }

  private def lines(path: String): Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** The session `graft.Bench` builds, with Spark's scratch space kept
    * under the benchmark's work directory, warmed the way Bench warms
    * it. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").count().count()
    spark
  }

  /** `graft.Bench`'s noise canary: fixed work, recorded before and after
    * the timed section and never used to adjust a metric. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").agg(sum("v")).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Wall, process CPU and peak heap of one operation. */
  final case class Timed[T](value: T, wallS: Double, cpuS: Double, peakHeapMb: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def timed[T](f: => T): Timed[T] = {
    heapPools.foreach(_.resetPeakUsage())
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val v = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    Timed(v, wall, cpu, heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
  }

  private def timing(t: Timed[_]): Map[String, Any] =
    Map("wall_s" -> t.wallS, "cpu_s" -> t.cpuS, "peak_heap_mb" -> t.peakHeapMb)

  /** An `Audit` whose lifecycle calls are spans: each load becomes a
    * `<schema>.<table>` span and each audit row write an `audit.*` span. */
  final class TracedAudit(spark: SparkSession, warehouse: String, trace: Trace)
      extends Audit(spark, warehouse) {
    override def started(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String): Long =
      trace.span("audit.started")(super.started(srcSys, srcObj, tgtSchema, tgtTable))
    override def succeeded(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                           tgtTable: String, rows: Long): Unit =
      trace.span("audit.succeeded")(super.succeeded(runId, srcSys, srcObj, tgtSchema, tgtTable, rows))
    override def failed(runId: Long, srcSys: String, srcObj: String, tgtSchema: String,
                        tgtTable: String, err: String): Unit =
      trace.span("audit.failed")(super.failed(runId, srcSys, srcObj, tgtSchema, tgtTable, err))
    override def withRun(srcSys: String, srcObj: String, tgtSchema: String, tgtTable: String)
                        (load: => Long): Long =
      trace.span(s"$tgtSchema.$tgtTable")(super.withRun(srcSys, srcObj, tgtSchema, tgtTable)(load))
  }

  object Refresh {
    /** A full refresh into `warehouse`, then `reruns` refreshes into the
      * same warehouse. Untraced, each refresh is one call to
      * `Orchestrator.runAll`; traced, the runner makes runAll's layer
      * calls itself so that each is a span. */
    def run(spark: SparkSession, trace: Trace, csv: String, warehouse: String,
            reruns: Int): Map[String, Any] = {
      val passes = (0 to reruns).map { i =>
        val pass = if (i == 0) "first" else "warm"
        val t = timed(trace.span("refresh", "pass" -> pass) {
          try Right(refresh(spark, trace, csv, warehouse)) catch { case e: Throwable => Left(e) }
        })
        val base = timing(t) ++ Map("pass" -> pass)
        t.value match {
          case Left(e) => base ++ Map("ok" -> false, "error" -> String.valueOf(e))
          case Right(r) =>
            val summary = trace.span("audit.summary", "pass" -> pass) {
              new Audit(spark, warehouse).runSummary().groupBy("status").count().collect()
                .map(row => row.getString(0) -> row.getLong(1)).toMap
            }
            base ++ Map("ok" -> true,
              "bronze_rows" -> r.bronzeRows, "silver_rows" -> r.silverRows,
              "gold_rows" -> r.goldRows, "qa" -> r.qa.toString,
              "audit_latest" -> summary)
        }
      }
      Map("ops" -> passes)
    }

    private def refresh(spark: SparkSession, trace: Trace, csv: String,
                        warehouse: String): Orchestrator.PipelineResult =
      trace match {
        case NoTrace => Orchestrator.runAll(spark, csv, warehouse)
        case _ =>
          val audit = new TracedAudit(spark, warehouse, trace)
          val bronze = new Bronze(spark, warehouse, audit)
          val b = trace.span("bronze")(bronze.loadAll(csv))
          val s = trace.span("silver")(Silver.run(spark, warehouse, bronze, audit))
          val g = trace.span("gold")(Gold.run(spark, warehouse, audit))
          val qa = trace.span("qa")(Validate.run(spark, warehouse))
          Validate.assertInvariants(qa)
          Orchestrator.PipelineResult(b, s, g, qa)
      }
  }

  object Ops {
    type Query = (SparkSession, String) => DataFrame

    /** Every key gets a first and then a warm rep, keys in the order
      * given, as in `graft.Bench`. A rep builds the DataFrame and
      * materializes it as `Digest.of`; the session cache is cleared
      * after each rep, as `graft.Bench` does. */
    def run(spark: SparkSession, trace: Trace, data: String, keys: Seq[String]): Map[String, Any] = {
      val queries = graft.SparkEntry.queries
      val reps = for (key <- keys; pass <- Seq("first", "warm")) yield
        attempt(spark, trace, key, pass, queries.getOrElse(key, missing(key)), data)
      Map("ops" -> reps)
    }

    private def missing(key: String): Query =
      (_, _) => throw new NoSuchElementException(s"no query named $key")

    /** One rep of one query. A rep that throws is reported with its error
      * and without timings, so it can never enter a latency statistic. */
    def attempt(spark: SparkSession, trace: Trace, key: String, pass: String,
                q: Query, data: String): Map[String, Any] = {
      val t = timed(trace.span("op", "key" -> key, "pass" -> pass) {
        try {
          val df = trace.span("ops.build")(q(spark, data))
          val d = trace.span("ops.exec")(Digest.of(df))
          trace match {
            case tr: Tracer => tr.note("cache.stored_mb", storedMb(spark))
            case _ =>
          }
          Right(d)
        } catch { case e: Throwable => Left(e) }
      })
      spark.catalog.clearCache()
      val base = Map("key" -> key, "pass" -> pass)
      t.value match {
        case Right(d) => base ++ timing(t) ++ Map("ok" -> true, "digest" -> d)
        case Left(e) => base ++ Map("ok" -> false, "error" -> String.valueOf(e))
      }
    }

    private def storedMb(spark: SparkSession): Double =
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

    /** Golden digests: each key's output is written the way `graft.Verify`
      * writes it (so `tools/selfcheck.py` can compare it with the DuckDB
      * oracle), and the digest is taken of what was written. */
    def record(spark: SparkSession, data: String, keys: Seq[String], dump: String): Map[String, Any] = {
      val queries = graft.SparkEntry.queries
      val digests = keys.map { key =>
        System.err.println(s"[perfbench] record $key")
        val d = try {
          queries(key)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$key")
          Digest.of(spark.read.parquet(s"$dump/$key"))
        } catch { case e: Throwable => s"error: $e" }
        spark.catalog.clearCache()
        key -> d
      }
      val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"), Json(oracles))
      Map("digests" -> digests.toMap)
    }
  }
}

/** An order-insensitive digest of every row and column of a result:
  * `rows:sum` of a 64-bit hash per row, with columns taken in name order
  * (the oracle compare also ignores column order). Hashing every column
  * keeps column pruning from skipping work that `count()` would skip. */
object Digest {
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => hashable(col(s"c$i"), f.dataType) }
    val r = renamed.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  // Spark refuses to hash maps; hash their entries in key order instead
  private def hashable(c: org.apache.spark.sql.Column, t: DataType) = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}

/** The results file's JSON: Scala maps, sequences and scalars. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
