package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Hands `on` every listener event that `body` posts, as seen between
    * two marker jobs: the bus delivers events in order, so the end
    * marker's arrival proves every event of `body` was seen, and events
    * queued before the start marker are not counted. `on` runs on the
    * listener thread. */
  protected def eventsOf(body: => Unit)(
      on: org.apache.spark.scheduler.SparkListenerEvent => Unit): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val (startMark, endMark) = ("jobsOf-start", "jobsOf-end")
    val counting = new java.util.concurrent.atomic.AtomicBoolean(false)
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `startMark` => counting.set(true)
          case `endMark` => counting.set(false); done.countDown()
          case _ => if (counting.get) on(e)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (counting.get) on(e)
    }
    def mark(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      ()
    }
    sc.addSparkListener(l)
    try {
      mark(startMark)
      body
      mark(endMark)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs started by `body` ([[eventsOf]]). */
  protected def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    eventsOf(body) {
      case _: org.apache.spark.scheduler.SparkListenerJobStart =>
        n.incrementAndGet()
      case _ =>
    }
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // PerfConf rides the test session too (r18, the ADVICE r17 Profile
    // rationale): results are conf-neutral, and the codegen-class cache
    // matters most here — 325 tests in one JVM re-compile thousands of
    // whole-stage units through a 100-entry LRU otherwise, which is a
    // real share of the suite wall the driver's test budget pays.
    val s = PerfConf(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
