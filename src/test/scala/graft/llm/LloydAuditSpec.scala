package graft.llm

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-job Lloyd round and the concurrent lifecycle audits. */
class LloydAuditSpec extends SparkSpec {

  private def centroids(df: DataFrame): Seq[(Long, Seq[Long])] =
    df.select(col("cluster").cast("long"), col("ce")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq.sortBy(_._1)

  /** The DataFrame round the one-job round replaced: the kernel
    * assignment, then the per-cluster floor(sum/count) aggregate. */
  private def frameRound(q: DataFrame, cents: DataFrame, dim: Int): DataFrame =
    Similarity.recomputeCentroids(Similarity.assignFullQ(q, cents), q, dim)

  test("one-job Lloyd round = the DataFrame round on a planted frame: an " +
    "empty cell drops out, an equidistant tie goes to the smaller id, a " +
    "negative mean floors down") {
    val s = spark
    import s.implicits._
    val q = Seq(
      1L -> Seq(-3L, -1L), 2L -> Seq(-2L, -3L),
      3L -> Seq(5L, 0L), // equidistant from cells 4 and 10: goes to 4
      4L -> Seq(10L, 1L), 5L -> Seq(11L, 1L), 6L -> Seq(9L, -1L))
      .toDF("vec_id", "qe").repartition(3)
    // cell 40 is the nearest centroid of no point
    val cents = Seq(4L -> Seq(0L, 0L), 10L -> Seq(10L, 0L),
        40L -> Seq(400L, 400L))
      .toDF("cluster", "ce")
    val got = centroids(Similarity.lloydRound(q.select(col("qe")), cents, 2))
    assert(got === centroids(frameRound(q, cents, 2)))
    // cell 4: (-3-2+5)/3 = 0 and floor(-4/3) = -2, not the truncated -1;
    // cell 10: 30/3 = 10 and floor(1/3) = 0
    assert(got === Seq(4L -> Seq(0L, -2L), 10L -> Seq(10L, 0L)))
  }

  test("one-job Lloyd round = the DataFrame round on the fixture corpus") {
    val q = Similarity.quantized(Tables.embeddings(spark, sf), 1000)
    val seed = q.filter(col("vec_id") < 9)
      .select(col("vec_id").as("cluster"), col("qe").as("ce"))
    val r1 = Similarity.lloydRound(q.select(col("qe")), seed, 64)
    assert(centroids(r1) === centroids(frameRound(q, seed, 64)))
    assert(centroids(Similarity.lloydRound(q.select(col("qe")), r1, 64)) ===
      centroids(frameRound(q, r1, 64)))
  }

  test("the Lloyd trainer runs one job per round") {
    val q = Similarity.quantized(Tables.embeddings(spark, sf), 1000)
    def jobs(iters: Int): Int =
      jobsOf(Similarity.sweepAfter(spark) {
        Similarity.lloydTrainCentsQ(q, 0, iters, 64).collect()
        ()
      })
    val (one, four) = (jobs(1), jobs(4))
    assert(four - one === 3, s"4 rounds ran $four jobs, 1 round $one")
  }

  test("the flat LSM seed lifecycle (indexTo) stays inside its job budget") {
    val emb = Tables.embeddings(spark, sf)
    val root = Files.createTempDirectory("graft_lsmbudget_").toString
    try {
      val jobs = jobsOf(Similarity.FlatLsm.indexTo(emb, root, _ => ()).collect())
      // training 8 (the k aggregate and its broadcast, the sample
      // checkpoint, the seed means, 4 rounds), the centroid and base
      // writes 3, the three delta writes, compaction 5, and the five
      // audits' aggregates 24 (two concurrent flushes)
      assert(jobs <= 43, s"indexTo ran $jobs jobs (bound 43)")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
  }

  for (store <- Seq(Similarity.FlatLsm, Similarity.Sq8Lsm,
      Similarity.ComposedLsm))
    test(s"concurrent lifecycle audits = the same aggregates run one by one " +
        s"over the same snapshots (${store.codec.tag} codec)") {
      val emb = Tables.embeddings(spark, sf)
      val root = Files.createTempDirectory(s"graft_${store.codec.tag}aud_").toString
      try {
        val oneByOne = scala.collection.mutable.Map.empty[String, Seq[Any]]
        var g3: Option[Similarity.Snapshot] = None
        val rows = store.indexTo(emb, root, { state =>
          val snap = Similarity.snapshot(root)
          if (state == "g3") g3 = Some(snap)
          oneByOne(state) = store.auditOf(spark, root, snap, state,
            if (state.endsWith("c")) 1L else 0L)().head().toSeq
        }).collect()
        assert(rows.map(_.getString(0)).toSeq === Seq("g0", "g1", "g2", "g3", "g3c"))
        rows.foreach(r => assert(r.toSeq === oneByOne(r.getString(0)), r))
        // g3's snapshot read delta1..3, which compaction then deleted: its
        // audit ran before the delete, and an audit that ran after it
        // would fail on the snapshot check
        val e = intercept[IllegalArgumentException](
          store.auditOf(spark, root, g3.get, "g3", 0L)())
        assert(e.getMessage.contains("is gone"), e.getMessage)
      } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
    }

  test("audit threads carry the caller's job group and local properties, " +
    "one named thread per frame") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val group = p.getProperty("spark.jobGroup.id")
          if (group == "auditspec-end") done.countDown()
          else if (p.getProperty("graft.spec.span") != null ||
              group == "auditgrp")
            seen.add(group -> p.getProperty("graft.spec.span"))
        }
    }
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("auditgrp", "audits")
      sc.setLocalProperty("graft.spec.span", "7")
      val out = Similarity.localRows((0 until 3).map(i => () => {
        threads.add(Thread.currentThread().getName)
        spark.range(0, 100 * (i + 1), 1, 2)
          .agg(lit(s"s$i").as("state"), count(lit(1)).as("n"))
      }))
      assert(out.map(_._2.head.getLong(1)) === Seq(100L, 200L, 300L))
      sc.setLocalProperty("graft.spec.span", null)
      // the bus delivers in order: the marker's arrival proves every
      // audit job was seen
      sc.setJobGroup("auditspec-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.span", null)
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    assert(threads.asScala.toSet.size === 3 &&
      threads.asScala.forall(_.startsWith("graft-audit-")), threads)
    assert(seen.size >= 3 && seen.asScala.forall(_ == ("auditgrp" -> "7")),
      seen)
  }
}
