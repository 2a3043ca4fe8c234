package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the runner's calls into the program. `NoTrace` is the
  * untraced mode the end-to-end metrics are measured in. */
trait Trace {
  def span[T](name: String, attrs: (String, Any)*)(f: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = f
}

/** Records spans in memory, with the Spark-side work each span caused.
  *
  * Attribution: the listener bus is drained at every span boundary, so
  * each scheduler, executor and Catalyst event is processed while the
  * innermost span that caused it is still current, and is counted on
  * that span alone (exclusive counts; parents sum their subtree later).
  * Codegen counters are global, so their change between two boundaries
  * is charged to the span current in between. */
final class Tracer(spark: SparkSession) extends Trace {
  import Tracer.Span

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile private var current = 0
  private val counts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // span, start ns, end ns
  private val jobStarts = mutable.Map.empty[Int, (Int, Long)]
  private var codegenCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var codegenNs = CodeGenerator.compileTime

  private def add(span: Int, key: String, v: Double): Unit = counts.synchronized {
    val m = counts.getOrElseUpdate(span, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  private def now(): Long = System.nanoTime() - t0
  // listener events carry epoch milliseconds; map them onto the same
  // clock as the spans
  private val epochMs0 = System.currentTimeMillis()
  private def fromEvent(ms: Long): Long = (ms - epochMs0) * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counts.synchronized {
      jobStarts(e.jobId) = (current, fromEvent(e.time))
      add(current, "spark.jobs", 1)
      add(current, "spark.stages", e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counts.synchronized {
      jobStarts.remove(e.jobId).foreach { case (s, st) => jobs += ((s, st, fromEvent(e.time))) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = current
      val m = e.taskMetrics
      val info = e.taskInfo
      add(s, "spark.tasks", 1)
      if (m != null) {
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (records == 0) add(s, "spark.tasks_empty", 1)
        add(s, "spark.exec_run_s", m.executorRunTime / 1e3)
        add(s, "spark.exec_cpu_s", m.executorCpuTime / 1e9)
        add(s, "spark.gc_s", m.jvmGCTime / 1e3)
        add(s, "spark.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        add(s, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add(s, "spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add(s, "spark.input_mb", m.inputMetrics.bytesRead / 1e6)
        add(s, "spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
        // the scheduler-delay formula Spark's own UI uses
        val delayMs = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        add(s, "spark.sched_delay_s", math.max(0L, delayMs) / 1e3)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val s = current
      add(s, "catalyst.actions", 1)
      Seq("analysis", "optimization", "planning").foreach { p =>
        qe.tracker.phases.get(p).foreach(ph => add(s, s"catalyst.${p}_s", ph.durationMs / 1e3))
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Drain the bus, then charge the codegen work since the last
    * boundary to the span that was current. */
  private def boundary(): Unit = {
    PerfbenchBus.drain(sc)
    val c = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ns = CodeGenerator.compileTime
    if (c > codegenCount) add(current, "codegen.compiles", (c - codegenCount).toDouble)
    if (ns > codegenNs) add(current, "codegen.compile_s", (ns - codegenNs) / 1e9)
    codegenCount = c
    codegenNs = ns
  }

  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = {
    boundary()
    val s = Span(spans.size + 1, current, name, attrs.toMap, now())
    spans += s
    open = s :: open
    current = s.id
    try f
    finally {
      boundary()
      s.end = now()
      open = open.tail
      current = s.parent
    }
  }

  /** Attach a gauge or attribute to the innermost open span. */
  def note(key: String, v: Double): Unit = open.headOption.foreach(s => add(s.id, key, v))

  def close(): Unit = {
    boundary()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spans with their exclusive counts, and job intervals, as plain
    * values for the results file. Times are seconds since the tracer
    * started. */
  def export(): Map[String, Any] = counts.synchronized {
    Map(
      "spans" -> spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "attrs" -> s.attrs,
          "start" -> s.start / 1e9, "end" -> s.end / 1e9,
          "counts" -> counts.get(s.id).map(_.toMap).getOrElse(Map.empty))
      },
      "jobs" -> jobs.toSeq.map { case (s, a, b) => Seq(s, a / 1e9, b / 1e9) })
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, attrs: Map[String, Any],
                        start: Long, var end: Long = 0L)
}
