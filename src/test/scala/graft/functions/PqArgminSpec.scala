package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r10 PQ encode kernel must be bit-identical to the r9 plan it
  * replaces — the broadcast-join fan-out + min(struct(d2, cw)) argmin —
  * including the smallest-cw tie rule, and must stay in codegen. Also
  * covers the array<bigint> extension of VectorDotProduct. */
class PqArgminSpec extends SparkSpec {

  test("argmin kernel equals the join + min(struct) reference on " +
    "fixture subspace rows") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.select(col("vec_id"), transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long")).as("qe"))
    // subspace rows (m=16, sd=4) and a small codebook from the first
    // vectors' slices — cw NOT dense so ids must be carried, not indexed
    val sub = q.select(col("vec_id"), explode(expr(
      "transform(sequence(0, 15), m -> struct(m, slice(qe, m * 4 + 1, 4) AS sq))"))
      .as("x")).select(col("vec_id"), col("x.m").as("m"), col("x.sq").as("sq"))
    val cb = sub.filter(col("vec_id") < 7)
      .select(col("m"), (col("vec_id") * 3).as("cw"), col("sq").as("cv"))
    // reference: the r9 shape
    val ref = sub.join(broadcast(cb), Seq("m"))
      .withColumn("d2", VectorFunctions.longSqDist(col("sq"), col("cv")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("cw"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.cw").as("cw"))
    // kernel: flattened cw-ascending codebook, one expression per row
    val cbFlat = cb.groupBy(col("m"))
      .agg(sort_array(collect_list(struct(col("cw"), col("cv")))).as("lst"))
      .select(col("m"),
        transform(col("lst"), x => x.getField("cw")).as("cws"),
        flatten(transform(col("lst"), x => x.getField("cv"))).as("cvflat"))
    val got = sub.join(broadcast(cbFlat), Seq("m"))
      .select(col("vec_id"), col("m"),
        VectorFunctions.pqArgmin(col("sq"), col("cvflat"), col("cws")).as("cw"))
    assert(got.count() === ref.count())
    assert(got.except(ref).isEmpty && ref.except(got).isEmpty,
      "kernel argmin deviated from the join+min(struct) reference")
  }

  test("tie rule: equidistant codewords resolve to the smallest cw") {
    import spark.implicits._
    // codewords at +2 and -2 around the query: equal distance 4
    val d = Seq((Array(0L, 0L), Array(2L, 0L, -2L, 0L), Array(9L, 4L)))
      .toDF("sq", "cvflat", "cws")
    val got = d.select(VectorFunctions.pqArgmin(
      col("sq"), col("cvflat"), col("cws"))).collect()
    // cws ascending is the caller contract — here (4, 9) after sorting
    // would win 4; the kernel scans in GIVEN order and keeps the first
    // strict minimum, so with the unsorted (9, 4) input the first of the
    // two equal distances (cw=9) wins: assert the documented semantics
    assert(got.head.getLong(0) === 9L)
    val sorted = Seq((Array(0L, 0L), Array(-2L, 0L, 2L, 0L), Array(4L, 9L)))
      .toDF("sq", "cvflat", "cws")
      .select(VectorFunctions.pqArgmin(col("sq"), col("cvflat"), col("cws")))
      .collect()
    assert(sorted.head.getLong(0) === 4L,
      "cw-ascending input must resolve ties to the smallest cw")
  }

  test("null semantics: empty or misshapen codebook yields NULL") {
    import spark.implicits._
    val d = Seq(
      (Array(1L, 2L), Array.empty[Long], Array.empty[Long]), // empty
      (Array(1L, 2L), Array(1L, 2L, 3L), Array(5L)),         // stride off
      (Array(1L, 2L), Array(1L, 2L), Array(5L))              // clean
    ).toDF("sq", "cvflat", "cws")
    val got = d.select(VectorFunctions.pqArgmin(
      col("sq"), col("cvflat"), col("cws"))).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq === Seq(null, null, 5L))
  }

  test("argmin kernel stays inside whole-stage codegen") {
    val q = graft.Tables.embeddings(spark, sf)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("qe"))
    val df = q.select(VectorFunctions.pqArgmin(
      slice(col("qe"), 1, 4), slice(col("qe"), 1, 8),
      slice(col("qe"), 1, 2)).as("cw"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[pq_argmin_codeword""".r
        .findFirstIn(plan).isDefined,
      s"kernel fell out of codegen:\n$plan")
  }

  test("IVF centroid kernel: 64-dim id and distance equal the cross join " +
    "+ min(struct(dist, cluster)) reference; ties take the smaller id") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.select(col("vec_id"), transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long")).as("qe"))
    // centroids from the first vectors, ids NOT dense, plus a planted
    // equidistant pair: cluster 4 and cluster 2 both sit at qe(0) + 1
    // in coordinate 0, so vec 0 must resolve to the smaller id 2
    val base = q.filter(col("vec_id") < 9)
      .select((col("vec_id") * 5 + 7).as("cluster"), col("qe").as("ce"))
    val v0 = q.filter(col("vec_id") === 0).head().getSeq[Long](1)
    val bump = (v0.head + 1) +: v0.tail
    val cents = base.filter(col("cluster") =!= 7)
      .union(Seq((4L, bump), (2L, bump)).toDF("cluster", "ce"))
    val ref = q.crossJoin(broadcast(cents))
      .withColumn("dist", VectorFunctions.longSqDist(col("qe"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.dist").as("dist"))
    val flat = cents.orderBy(col("cluster")).collect()
    val kernel = q.crossJoin(broadcast(Seq((
        flat.map(_.getLong(0)).toSeq, flat.toSeq.flatMap(_.getSeq[Long](1))))
        .toDF("cids", "cflat")))
      .select(col("vec_id"), VectorFunctions.argminCentroid(
        col("qe"), col("cflat"), col("cids")).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.dist").as("dist"))
    assert(kernel.count() === q.count())
    assert(kernel.except(ref).isEmpty && ref.except(kernel).isEmpty,
      "centroid kernel deviated from the join+min(struct) reference")
    // collect through the frame's OWN execution, so its adaptive plan
    // is final (codegen stages rendered) when the plan string is read
    val v0Cluster = kernel.collect()
      .collectFirst { case r if r.getLong(0) == 0L => r.getLong(1) }
    assert(v0Cluster === Some(2L),
      "equidistant centroids must resolve to the smaller id")
    val plan = kernel.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*argmin_centroid""".r
        .findFirstIn(plan).isDefined,
      s"centroid kernel fell out of codegen:\n$plan")
  }

  test("vector_dot over array<bigint> equals the interpreted cast fold " +
    "(the ADC scan kernel)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.select(col("vec_id"), col("embedding"), transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long")).as("qe"))
    val paired = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(300)
    // float × long (the probe·reconstruction dot) and long × long (the
    // reconstruction norm) both match the interpreted double fold exactly
    val diff = paired.select(
        VectorFunctions.floatDot(col("a.embedding"), col("b.qe")).as("k1"),
        aggregate(zip_with(col("a.embedding"), col("b.qe"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
          (acc, v) => acc + v).as("i1"),
        VectorFunctions.floatDot(col("a.qe"), col("b.qe")).as("k2"),
        aggregate(zip_with(col("a.qe"), col("b.qe"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
          (acc, v) => acc + v).as("i2"))
      .filter(col("k1") =!= col("i1") || col("k2") =!= col("i2"))
    assert(diff.isEmpty, "long-array dot deviated from the interpreted fold")
  }
}
