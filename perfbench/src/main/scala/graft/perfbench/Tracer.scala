package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: an op (root), a layer call the benchmark makes
  * inside it, or a Spark job the listener saw. Every span of one op
  * carries that op's id; counters accumulate what happened inside it. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                 val startMs: Double) {
  var endMs: Double = Double.NaN
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spans kept in memory for the whole run and written out at the end.
  *
  * Only the client thread opens and closes spans. Listener events arrive
  * on Spark's listener-bus thread, so each span boundary drains the bus:
  * every event posted inside a span is delivered while that span is still
  * the innermost one. Jobs are attributed through a local property the
  * client sets on entry, which Spark copies into each job's properties.
  * With `tracing` off no span is opened and the bus is never drained. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  @volatile var tracing = false
  @volatile private var current: Span = null

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  private def epochToMs(t: Long): Double = (t - t0Epoch).toDouble

  private def open(name: String, op: Int): Span = synchronized {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
      name, nowMs)
    spans += s
    s
  }

  private def within[A](s: Span)(f: => A): A = {
    PerfbenchBus.drain(sc)
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    stack = s :: stack
    current = s
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try f
    finally {
      PerfbenchBus.drain(sc)
      s.endMs = nowMs
      stack = stack.tail
      current = stack.headOption.orNull
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  /** The id of the latest op span. */
  def lastOp: Int = nextOp

  /** A root span for one op; a no-op when tracing is off. */
  def op[A](name: String)(f: => A): A =
    if (!tracing) f
    else { nextOp += 1; within(open(name, nextOp))(f) }

  /** A child span around one call into a layer; a no-op when tracing is
    * off or no op is open. */
  def layer[A](name: String)(f: => A): A =
    if (!tracing || stack.isEmpty) f
    else within(open(name, stack.head.op))(f)

  /** Adds a counter to the innermost open span. */
  def count(k: String, v: Double): Unit =
    if (tracing && stack.nonEmpty) synchronized { stack.head.add(k, v) }

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val owner = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
      owner.filter(_ < spans.size).foreach { id =>
        val parent = spans(id)
        val s = new Span(spans.size, parent.id, parent.op, "job",
          epochToMs(e.time))
        spans += s
        jobSpans(e.jobId) = s
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.remove(e.jobId).foreach(_.endMs = epochToMs(e.time))
    }
    private def jobOfStage(stage: Int): Option[Span] =
      stageJob.get(stage).flatMap(jobSpans.get)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { jobOfStage(e.stageInfo.stageId).foreach(_.add("stages", 1)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      jobOfStage(e.stageId).foreach { s =>
        s.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_cpu_ms", m.executorCpuTime / 1e6)
          s.add("task_run_ms", m.executorRunTime.toDouble)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val s = current
      if (tracing && s != null) Tracer.this.synchronized {
        s.add("qe", 1)
        qe.tracker.phases.foreach { case (phase, p) =>
          s.add(s"${phase}_ms", p.durationMs.toDouble)
        }
        Tracer.scans(qe).foreach(_.metrics.get("numFiles")
          .foreach(m => s.add("files_read", m.value.toDouble)))
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanProp = "perfbench.span"

  def scans(qe: QueryExecution): Seq[DataSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case s: DataSourceScanExec => s }
}
