package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, run the timed window as
  * closed-loop rounds of ops from a single client thread, and write every
  * op record (and, when traced, every span) to `<out>/raw.json`. Output
  * checks and metrics are computed from that record by `run.py`.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <fixtures> <inputs> <out>`
  */
object Main {
  def main(argv: Array[String]): Unit = {
    require(argv.length == 7,
      "usage: Main <workload> <seed> <seconds> <trace> <fixtures> <inputs> <out>")
    val Array(workload, seed, seconds, trace, fixtures, inputs, out) = argv
    val spark = graft.PerfConf(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, seconds.toDouble, trace == "1", fixtures, inputs, out)
    try {
      workload match {
        case "analytics" => new Analytics(run).apply()
        case "serve_ingest" => new ServeIngest(run).apply()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.meta("seed") = seed.toLong
      Files.writeString(Paths.get(s"$out/raw.json"),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(run.record))
    } finally spark.stop()
  }
}

/** What one op hands back: its layer-call timings and its outputs. */
final class OpCtx(run: Run) {
  val t: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val out: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  /** Times one call into a layer, as a child span when traced. */
  def layer[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try run.tracer.layer(name)(f)
    finally t(name) = t.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }
}

/** State shared by the workloads: the session, the tracer, the op log. */
final class Run(val spark: SparkSession, val seconds: Double,
                val traced: Boolean, val fixtures: String,
                val inputs: String, val out: String) {
  val tracer = new Tracer(spark)
  if (traced) tracer.install()
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setup: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  val meta: mutable.Map[String, Any] = mutable.LinkedHashMap(
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "fixtures" -> fixtures)
  // JVM and session start, the first part of setup_s
  setup("session_s") = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  private var round = 0
  private var setupS = Double.NaN
  private val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gc.map(_.getCollectionTime).sum

  /** Runs one op: times it, catches what it throws, sweeps what it
    * persisted, runs `check` (which may read back what the op wrote), and
    * logs it. The sweep and the check are outside the op's timing. */
  def op(kind: String, name: String, check: OpCtx => Unit = _ => ())(
      body: OpCtx => Unit): Unit = {
    def fail(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    val ctx = new OpCtx(this)
    val start = tracer.nowMs
    val bodyErr = try { tracer.op(s"$kind:$name")(body(ctx)); null }
    catch { case e: Throwable => fail(e) }
    val dur = tracer.nowMs - start
    sweep()
    val checkErr = try { check(ctx); null } catch { case e: Throwable => s"check: ${fail(e)}" }
    val err = Option(bodyErr).orElse(Option(checkErr)).orNull
    ops += Map("kind" -> kind, "name" -> name, "round" -> round,
      "traced" -> tracer.tracing, "op_id" -> (if (tracer.tracing) tracer.lastOp else -1),
      "start_ms" -> start, "dur_ms" -> dur,
      "ok" -> (err == null), "err" -> Option(err).map(_.take(500)),
      "t" -> ctx.t.toMap, "out" -> ctx.out.toMap)
  }

  /** Releases what ops persisted (localCheckpoint'd frames and cached
    * plans), as the engine's own harness does between queries. */
  def sweep(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The timed window: whole rounds until `seconds` have passed. A traced
    * run has at least four rounds and traces the even ones: round 0 gives
    * the per-layer metrics of the round an untraced run measures, and the
    * tracing overhead sets each later traced round against its untraced
    * neighbours on both sides, on the same op mix.
    * Everything from JVM start until the window opens counts as setup. */
  def window(roundOps: Int => Unit): Unit = {
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val t0 = tracer.nowMs
    val minRounds = if (traced) 4 else 1
    while (round < minRounds || tracer.nowMs - t0 < seconds * 1e3) {
      tracer.tracing = traced && round % 2 == 0
      val (start, gc0) = (tracer.nowMs, gcMs)
      roundOps(round)
      rounds += Map("round" -> round, "traced" -> tracer.tracing,
        "start_ms" -> start, "end_ms" -> tracer.nowMs, "gc_ms" -> (gcMs - gc0))
      round += 1
    }
    tracer.tracing = false
    meta("heap_used_peak_mb") = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def record: Map[String, Any] = Map(
    "meta" -> meta.toMap, "setup_s" -> setupS, "setup" -> setup.toMap,
    "rounds" -> rounds.toSeq, "ops" -> ops.toSeq,
    "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> Option(s.endMs).filterNot(_.isNaN), "c" -> s.counters.toMap)).toSeq)

  def readLines(name: String): Seq[String] =
    Files.readAllLines(Paths.get(s"$inputs/$name")).asScala.toSeq
}
