package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class GraphAnnSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)

  test("adjacency is symmetric, self-loop-free, and edge-count bounded") {
    val (v, edgesRaw, _, _, _) = GraphAnn.graphFrames(emb)
    val edges = edgesRaw.localCheckpoint()
    assert(edges.filter(col("src") === col("dst")).isEmpty,
      "self loop in adjacency")
    // symmetrization contract: the edge SET equals its own reverse
    val fwd = edges.select(col("src"), col("dst"), col("cos"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      col("cos"))
    assert(fwd.except(rev).isEmpty && rev.except(fwd).isEmpty,
      "adjacency is not symmetric")
    // the carried destination cell (r15: the serve-time census the
    // partition-pruned vector reads ride on) must be the destination's
    // actual blocking cell on EVERY row
    val wrong = edges.join(
      v.select(col("vec_id").as("dst"), col("cluster").as("truecell")),
      Seq("dst"))
      .filter(col("dcell") =!= col("truecell")).count()
    assert(wrong === 0, s"$wrong adjacency rows carry a wrong dcell")
    // and the carried SOURCE cell (r17: the edge-store bucketing key
    // the per-hop adjacency prune rides on) must be the source's actual
    // blocking cell on EVERY row
    val wrongS = edges.join(
      v.select(col("vec_id").as("src"), col("cluster").as("struecell")),
      Seq("src"))
      .filter(col("scell") =!= col("struecell")).count()
    assert(wrongS === 0, s"$wrongS adjacency rows carry a wrong scell")
    // ≤ 2·(DegreeIn + DegreeOut) directed rows per node: the α-pruned
    // in-cell + foreign budgets, doubled by symmetrization (the prune
    // and the dedup only shrink)
    val n = emb.count()
    assert(edges.count() <= 2 * n * GraphAnn.Degree)
    // every endpoint is a corpus vector
    val ids = emb.select(col("vec_id"))
    assert(edges.select(col("src").as("vec_id")).except(ids).isEmpty)
  }

  test("served vector reads prune to the candidate cells IN-PLAN: the " +
    "stored node scan carries a dynamic-partition-pruning subquery on " +
    "bucket, and the store's file count is bounded (VERDICT r15 #1/#2)") {
    val root = GraphAnn.GannIndex.root(emb, s"gann-spec-$sf")
    val all = spark.read.parquet(s"$root/nodes")
      .select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val cells = all.take(math.max(1, all.size / 3))
    assert(cells.size < all.size,
      "fixture degenerate: census covers every cell")
    // the census must be a PLAN-backed frame (a real beam pass's census
    // is the checkpointed candidate frame's distinct cells) — a local
    // in-memory relation is statically foldable and gets constraint
    // propagation instead of a DPP subquery
    val cellsF = spark.read.parquet(s"$root/nodes")
      .select(col("cluster").as("cell")).distinct()
      .filter(col("cell").isin(cells: _*))
    val pruned = GraphAnn.servedBaseRead(spark, root)(cellsF)
    // (a) semantic pin: the pruned read is exactly the cells' members
    val expect = spark.read.parquet(s"$root/nodes")
      .select(col("vec_id"), col("cluster"))
      .filter(col("cluster").isin(cells: _*))
    val got = pruned.select(col("vec_id"), col("cluster"))
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    // (b) plan pin: the census semi-join's bucket key reaches the scan
    // as a DPP subquery — each beam pass's vector read IS this shape
    // (no per-pass driver collect), so the serve never streams
    // unprobed buckets' partitions
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"stored node scan lost dynamic partition pruning on bucket:\n$p")
    // (c) layout pin (VERDICT r15 #1): data files bounded by the bucket
    // count — never one file per cell
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val nDataFiles = walk(new java.io.File(s"$root/nodes"))
      .count(_.getName.endsWith(".parquet"))
    val nb = CellStore.bucketCount(
      spark.read.parquet(s"$root/centroids").count())
    assert(nDataFiles <= nb, s"$nDataFiles node files > $nb buckets")
    assert(nb <= CellStore.MaxBuckets)
  }

  test("r18 candidate-join base read (servedJoinBase): the scoring " +
    "join itself prunes the stored node scan — DPP on bucket plants " +
    "from the candidate frame, no census semi-join, no checkpoint") {
    val root = GraphAnn.GannIndex.root(emb, s"gann-spec-$sf")
    val nodes = spark.read.parquet(s"$root/nodes")
    val all = nodes.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val cells = all.take(math.max(1, all.size / 3))
    assert(cells.size < all.size,
      "fixture degenerate: candidates cover every cell")
    // a plan-backed candidate frame in a real pass's shape: every
    // candidate carries its node's own cell (the scored() invariant)
    val candF = nodes.filter(col("cluster").isin(cells: _*))
      .select(col("vec_id").as("probe_id"), col("vec_id").as("node"),
        col("cluster").as("cell"))
    val joined = GraphAnn.servedJoinBase(spark, root)(candF)
    // (a) semantic pin: the fold-in scores exactly the candidates —
    // same rows the census-pruned semi-join + node equi-join produced
    val got = joined.select(col("probe_id"), col("node"), col("cell"))
    assert(got.except(candF).isEmpty && candF.except(got).isEmpty,
      "candidate-join read is not candidate-exact")
    // (b) plan pin: DPP reaches the node scan from the scoring join's
    // bucket key — each pass's vector read IS this single join
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"candidate-join node scan lost dynamic partition pruning:\n$p")
  }

  test("served ADJACENCY expansion prunes to the frontier's buckets " +
    "IN-PLAN (r17, VERDICT r16 #1): the stored edge scan carries a DPP " +
    "subquery on its source-cell bucket, the expansion is exact, and " +
    "the edge store's file count is bounded") {
    val root = GraphAnn.GannIndex.root(emb, s"gann-spec-$sf")
    val stored = spark.read.parquet(s"$root/edges")
    val nodes = spark.read.parquet(s"$root/nodes")
    val all = nodes.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val cells = all.take(math.max(1, all.size / 3))
    assert(cells.size < all.size,
      "fixture degenerate: frontier covers every source cell")
    // plan-backed frontier over the cells' members — a real hop's
    // frontier is exactly this shape: (probe_id, node, the node's cell)
    val frontier = nodes.filter(col("cluster").isin(cells: _*))
      .select(col("vec_id").as("probe_id"), col("vec_id").as("node"),
        col("cluster").as("cell"))
    val got = GraphAnn.servedExpand(spark, root)(frontier)
    // (a) semantic pin: exactly the flat frontier⨝edges expansion —
    // the store co-locates each edge with its source's cell, so the
    // bucket key loses no expansion
    val expect = stored
      .join(frontier.select(col("probe_id"), col("node")),
        col("src") === col("node"))
      .select(col("probe_id"), col("dst").as("node"),
        col("dcell").as("cell"))
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    // (b) plan pin: DPP reaches the edge scan off the frontier's
    // bucket key — each hop's expansion IS this shape, so the serve
    // never streams unprobed cells' edge buckets
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"stored edge scan lost dynamic partition pruning on bucket:\n$p")
    // (c) layout pin: edge data files bounded by the bucket count
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val nDataFiles = walk(new java.io.File(s"$root/edges"))
      .count(_.getName.endsWith(".parquet"))
    val nb = CellStore.bucketCount(
      spark.read.parquet(s"$root/centroids").count())
    assert(nDataFiles <= nb, s"$nDataFiles edge files > $nb buckets")
  }

  test("medoids: exactly one per populated cell, each a cell member") {
    val (v, _, medoidsRaw, _, _) = GraphAnn.graphFrames(emb)
    val medoids = medoidsRaw.localCheckpoint()
    val nCells = v.select(col("cluster")).distinct().count()
    assert(medoids.count() === nCells)
    assert(medoids.select(col("cluster")).distinct().count() === nCells)
    // membership: (cluster, node) must appear in the blocked corpus
    val miss = medoids.join(
      v.select(col("cluster"), col("vec_id").as("node")),
      Seq("cluster", "node"), "left_anti").count()
    assert(miss === 0, s"$miss medoids are not members of their cell")
  }

  test("beam top-k: shape, rank contract, and no self neighbors") {
    val r = GraphAnn.beamTopK(emb).localCheckpoint()
    assert(r.count() === 50)
    assert(r.filter(col("neighbor_id") === col("probe_id")).isEmpty)
    assert(r.groupBy(col("probe_id")).count()
      .filter(col("count") =!= 5).isEmpty)
    // cos is non-increasing in rnk within each probe
    val a = r.select(col("probe_id"), col("rnk"), col("cos"))
    val b = r.select(col("probe_id"), (col("rnk") - 1).as("rnk"),
      col("cos").as("cos_next"))
    val inversions = a.join(b, Seq("probe_id", "rnk"))
      .filter(col("cos") < col("cos_next")).count()
    assert(inversions === 0)
  }

  test("probe-seeded beam recall@5 clears the graph tier's floor " +
    "(degree-16/beam-96 operating point; PERF.md r13)") {
    val brute = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = GraphAnn.beamTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.55, s"graph beam recall $recall below 5500 bp")
  }

  test("served graph search (q203) equals the recompute bit-for-bit") {
    val recompute = GraphAnn.beamTopK(emb)
    val served = GraphAnn.beamTopKServed(emb, s"gann-spec-$sf")
    assert(served.count() === recompute.count())
    assert(served.except(recompute).isEmpty &&
      recompute.except(served).isEmpty)
  }
}
