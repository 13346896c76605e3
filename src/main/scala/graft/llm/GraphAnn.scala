package graft.llm

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based approximate nearest-neighbor search — the third
  * production ANN family next to the IVF (q37) and PQ (q82/q178) tiers:
  * a navigable kNN graph (the NSW/Vamana shape behind HNSW and DiskANN,
  * Malkov & Yashunin 2018; Subramanya et al. 2019) built ONCE as a
  * stored table, served by bounded beam search.
  *
  * Spark-first re-expression: the serving structure is a plain
  * (src, dst, cos) adjacency TABLE, and one beam-search hop is one
  * equi-join of the (tiny, broadcast) frontier against it — no pointer
  * chasing, no driver-side traversal. A fixed hop budget H and beam
  * width B make the whole search a statically-unrolled DAG of H
  * (join → dedup → score → window-rank) stages, so the per-batch serve
  * cost is H corpus-column scans and B·degree·probes scored rows —
  * NOT a corpus-wide vector scan like the flat tiers.
  *
  * Graph construction is the standard two-layer recipe, with r14's
  * α-PRUNED edge selection (the Vamana/NSG occlusion rule — Subramanya
  * et al. 2019 §2; Fu et al. 2019's MRNG edge test) on both layers:
  *  - in-cell layer: each node's [[PoolIn]] nearest in-cell candidates
  *    (the q147 kNN-join machinery — candidate volume ~N·targetBlock,
  *    row-linear) α-pruned to [[DegreeIn]] kept edges;
  *  - foreign layer: candidates from the node's [[ForeignCells]]
  *    nearest FOREIGN candidate cells (by int64 quantized centroid
  *    distance — the Lloyd assignment kernel), top [[PoolOut]] by
  *    cosine, α-pruned to [[DegreeOut]] — replacing r12's single
  *    bridge edge with a diverse cross-cell budget (the pool's rank-1
  *    member has no predecessors, so at least one cross-cell edge
  *    always survives — the old bridge guarantee is preserved);
  *  - the α-prune itself ([[alphaPrune]]): candidate c is OCCLUDED by
  *    any higher-ranked candidate c' with α²·d²(c',c) ≤ d²(p,c) —
  *    routing can reach c through c', so the direct edge is redundant;
  *    keeping only un-occluded candidates spends the same degree
  *    budget on DIVERSE directions instead of a top-cos near-clique.
  *    The test runs in the QUANTIZED INTEGER domain
  *    (α² = [[AlphaNum]]/[[AlphaDen]] over int64 squared distances),
  *    so it is bit-reproducible and the oracle replays it as one
  *    pairwise self-join — the order-free MRNG form rather than
  *    Vamana's sequential greedy, which would need a kept-set
  *    recursion neither engine can express declaratively;
  *  - symmetrization: the union with every edge reversed, distinct —
  *    undirected navigability, degree ≤ 2·([[DegreeIn]]+[[DegreeOut]]).
  *
  * Entry points are PER-PROBE: each probe's beam seeds with the
  * medoids (min quantized distance to own centroid, per cell) of its
  * [[SeedCells]] nearest cells by centroid cosine — the DiskANN-style
  * "start near the query" rule, measured 3× better than fixed global
  * entries on the isotropic fixture (PERF.md r12).
  *
  * 100 TB shape: the build is the q147 kNN join plus one extra
  * N·targetBlock bridge join — row-linear candidate volume, document
  * bodies never move, only (id, id, double) edges shuffle. The serve
  * leg never shuffles the corpus: per hop, the frontier
  * (probes × [[Beam]] rows) broadcasts against the adjacency table and
  * the candidate list broadcasts against the NODE table — two
  * broadcast-hash joins whose big sides stream. Scored rows per probe
  * are bounded by B·2·degree·H, constant in N at fixed parameters, and
  * since r15 the SCAN IO matches (VERDICT r14 #1): the stored index
  * co-locates node vectors partitionBy(cluster), adjacency rows carry
  * the destination's cell, and each pass's node read is statically
  * pruned to the hop's candidate-cell census — ≤ probes·(seed budget +
  * B·2·degree) cells per batch, a vanishing fraction of the N/128 cells
  * at production N (the fixture-scale caveat and measured fractions
  * live in PERF.md r15).
  */
object GraphAnn {

  /** In-cell α-pruned degree budget. r13 raised the flat kNN degree
    * 4 → 16 after the N=1e5 GraphSweep showed graph QUALITY, not search
    * budget, was the recall ceiling; r14 splits the same 16-edge budget
    * into [[DegreeIn]] diverse in-cell + [[DegreeOut]] diverse
    * cross-cell edges (α-pruned on both layers). The measured optimum
    * is FOREIGN-heavy — the seed scan already covers the probe's
    * seeded cells, so in-cell edges are largely redundant with the
    * medoid entry points, while cross-cell edges are the only way the
    * beam reaches a true neighbor whose cell was NOT seeded. The
    * N=1e5 split sweep (PERF.md r14): 12+4 → 6400 bp, 8+8 → 6600,
    * 6+10 → 7000, **4+12 → 8000**, 2+14 → 7800 (beam 96, hops 4) —
    * same 16-edge budget throughout. */
  val DegreeIn: Int = 4

  /** Foreign (cross-cell) α-pruned degree budget — replaces r12's
    * single bridge edge. Cross-cell edges are what let the beam leave
    * a seeded cell, so they carry most of the budget (see
    * [[DegreeIn]]'s sweep). */
  val DegreeOut: Int = 12

  /** Total directed out-degree budget — the serve-cost constant
    * (per-probe raw-vector reads are bounded by Beam·2·Degree·Hops
    * after symmetrization). */
  val Degree: Int = DegreeIn + DegreeOut

  /** In-cell candidate pool the α-prune selects from: the node's
    * [[PoolIn]] nearest in-cell neighbors by cosine. The candidate-JOIN
    * volume is unchanged from the flat recipe (all in-cell pairs); the
    * window just keeps a pool for the prune to choose from. */
  val PoolIn: Int = 32

  /** Foreign candidate pool: top [[PoolOut]] members by cosine across
    * the node's [[ForeignCells]] nearest foreign candidate cells
    * (2·DegreeOut — widening to 32 moved nothing in the sweep). */
  val PoolOut: Int = 24

  /** Foreign candidate cells feeding the cross-cell pool — the node's
    * nearest foreign cells by quantized centroid distance, drawn from
    * its two-level CANDIDATE cells (never all k cells). At the oracle
    * fixtures the candidate set holds ≤ 7 foreign cells, so the rank
    * keeps what exists; 6 cells at pool 32 measured WORSE (2+14 row of
    * the sweep) — the budget wants depth in near cells over spread. */
  val ForeignCells: Int = 4

  /** α² = [[AlphaNum]]/[[AlphaDen]] = 1.44 (α = 1.2, the DiskANN
    * default): candidate c is occluded by a higher-ranked c' iff
    * AlphaNum·d²(c',c) ≤ AlphaDen·d²(p,c) — int64 arithmetic end to
    * end, bit-identical across engines. */
  val AlphaNum: Long = 36L
  val AlphaDen: Long = 25L

  /** Beam width of the search — candidates kept per probe per hop.
    * r13 raised 24 → 96; at the r14 operating point (α-pruned 4+12
    * graph, hops 4) beam 96 measures 8000 bp at N=1e5 and beam 192
    * measures 8800 bp inside the same ~4–5 s serve wall — per-probe
    * vector reads stay bounded by Beam·2·Degree·Hops, constant in
    * N. */
  val Beam: Int = 96

  /** Hop budget — the number of frontier expansions. The search DAG is
    * statically unrolled H times (and the oracle's CTE chain with it),
    * so H is a structural constant, not a tuning knob. r14: 3 → 4 with
    * the α-pruned graph — at N=1e5 the fourth hop buys +400 bp
    * (7600 → 8000 at beam 96 on the 4+12 recipe) now that the
    * foreign-edge budget gives each hop real cross-cell reach; under
    * the r13 flat graph hops 3 vs 4 were indistinguishable (the beams
    * converged). Per-probe vector reads stay Beam·2·Degree·Hops —
    * constant in N. */
  val Hops: Int = 4

  /** Per-probe entry cells: each probe's beam is seeded with the
    * MEDOIDS of its [[SeedCells]] nearest blocking cells (by centroid
    * cosine), the DiskANN-style "start near the query" rule. Measured
    * on the sf0.1 fixture (PERF.md r12): probe-seeded entries more than
    * triple the recall of fixed global entry points (1600 → 4800 bp) at
    * the same beam budget, and at ~13% visited the graph matches the
    * IVF tier's recall at its 13% scan budget while its per-probe
    * vector reads stay bounded by Beam·degree·Hops — constant in N.
    * Since r13 the rank is TWO-LEVEL (the [[Similarity.twoLevelBlocked]]
    * tree): [[SeedCoarse]] nearest coarse cells first (√k-row
    * broadcast), then the [[SeedCells]] nearest fine children — the
    * per-probe rank work and the broadcast are bounded at √k instead of
    * the former k = N/128 full-centroid scan. */
  val SeedCells: Int = 6

  /** Coarse cells probed by the seed rank — 3·√k fine children ranked
    * per probe, comfortably above [[SeedCells]] on any balanced tree. */
  val SeedCoarse: Int = 3

  /** The seed budgets SCALE with the stored tree (r13, AnnScale): at
    * N = 1e5 a FIXED 6-cell seed covers 6 of ~800 fine cells and beam
    * recall collapsed to 1000 bp — the entry points must track the cell
    * count exactly like the IVF probe budget does. Dynamic rule, both
    * engines: seed cells = max(SeedCells, ⌈0.13·|fine|⌉) (the
    * [[Similarity.IvfProbeFrac]] budget over the fine-cell count),
    * coarse cells ranked = max(SeedCoarse, ⌈0.4·|coarse|⌉). At every
    * oracle fixture the dynamic values equal the constants (|fine| ≤ 16,
    * |coarse| ≤ 4), so fixture hashes are unchanged; at N = 1e5 the
    * seed rank widens to ~104 of 797 cells and recall recovers (PERF.md
    * r13). The counts come from the stored centroid TABLES (not a
    * corpus aggregate), so the served legs derive them identically —
    * store ≡ recompute is preserved. */
  /** `widen` (r15, the q204 discipline applied to the graph tier) is a
    * 1-row (w: double) frame — the measured 1/selectivity of a
    * candidate predicate; seed-cell, coarse-cell AND beam budgets all
    * scale by it, restoring the ELIGIBLE candidate volume of the
    * unfiltered search. None ≡ w = 1.0 (×1.0 is exact, so the
    * unfiltered budgets are bit-identical to r14's). */
  private def seedBudgets(cents: DataFrame, coarse: DataFrame,
                          beam: Int,
                          widen: Option[DataFrame]): DataFrame = {
    val nf = cents.agg(count(lit(1)).cast("double").as("nf"))
    val ng = coarse.agg(count(lit(1)).cast("double").as("ng"))
    val base = nf.crossJoin(ng)
    val withW = widen.map(w => base.crossJoin(broadcast(w)))
      .getOrElse(base.withColumn("w", lit(1.0)))
    withW.select(
      greatest(lit(SeedCells.toLong),
        ceil(lit(Similarity.IvfProbeFrac) * col("nf") * col("w"))
          .cast("long")).as("scells"),
      greatest(lit(SeedCoarse.toLong),
        ceil(lit(0.4) * col("ng") * col("w")).cast("long")).as("gcells"),
      ceil(lit(beam.toDouble) * col("w")).cast("long").as("beamw"))
  }

  private def dot = VectorFunctions.floatDot _

  /** The α-occlusion prune over a ranked candidate pool `pool(src, dst,
    * cos, qd, qe, rnk)` — qd = int64 squared quantized distance
    * src→dst, qe = the CANDIDATE's quantized vector, rnk = pool rank by
    * (cos desc, dst). The MRNG/Vamana rule, order-free form: candidate
    * c is occluded iff ANY higher-ranked pool member c' satisfies
    * [[AlphaNum]]·d²(c',c) ≤ [[AlphaDen]]·d²(p,c); survivors keep their
    * pool order and the top `budget` are the edges. One self-join on
    * src (pool²·dim integer work per node, pool ≤ 32 → ≤ ~500 pairs) +
    * one anti-join — no recursion, no driver loop, bit-exact on both
    * engines. The pool's rank-1 row has no predecessors and always
    * survives. `key` carries any extra equi-columns (the lifecycle's
    * per-generation chains prune within a generation); `carry` passes
    * extra pool columns through to the kept edges (r15: the endpoint
    * CELL ids the serve-time partition pruning rides on). */
  private[llm] def alphaPrune(pool: DataFrame, budget: Int,
                              key: Seq[String] = Seq("src"),
                              aNum: Long = AlphaNum,
                              aDen: Long = AlphaDen,
                              carry: Seq[String] = Seq.empty): DataFrame = {
    val cond = key.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _) && col("x.rnk") < col("y.rnk")
    val occ = pool.as("x").join(pool.as("y"), cond)
      .filter(lit(aNum) *
          graft.functions.VectorFunctions.longSqDist(col("x.qe"), col("y.qe"))
        <= lit(aDen) * col("y.qd"))
      .select(key.map(c => col(s"y.$c")) :+ col("y.dst").as("dst"): _*)
      .distinct()
    val w2 = Window.partitionBy(key.map(col): _*).orderBy(col("rnk"))
    pool.join(occ, key :+ "dst", "left_anti")
      .withColumn("rn2", row_number().over(w2))
      .filter(col("rn2") <= budget)
      .select(key.map(col) ++ Seq(col("dst"), col("cos")) ++
        carry.map(col): _*)
  }

  /** The build frames: the blocked corpus `v(vec_id, embedding, nrm,
    * cluster)`, the symmetrized adjacency `edges(src, dst, cos)`, the
    * per-cell entry medoids `medoids(cluster, node)`, the fine blocking
    * centroids `cents(cluster, parent, ce)` and the coarse centroids
    * `coarse(cluster, ce)` the two-level seed rank probes against. */
  private[llm] def graphFrames(embeddings: DataFrame,
                               targetBlock: Int = 128, iters: Int = 2,
                               dim: Int = 64,
                               degreeIn: Int = DegreeIn,
                               degreeOut: Int = DegreeOut,
                               poolIn: Int = PoolIn,
                               poolOut: Int = PoolOut,
                               fcells: Int = ForeignCells,
                               aNum: Long = AlphaNum,
                               aDen: Long = AlphaDen)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val b = Similarity.twoLevelBlocked(embeddings, targetBlock, iters, dim)
    // the blocked corpus plus its quantized vectors — the α-prune's
    // domination test runs in the int64 domain (one extra projection
    // over the corpus; the heavy work below is the candidate joins)
    val vq = b.v.join(
      Similarity.quantized(
        embeddings.select(col("vec_id"), col("embedding")), 1000),
      "vec_id")
    val v = b.v

    // per-node distance to the updated fine centroids of its CANDIDATE
    // cells (the two-level prune — never all k cells): the foreign pool
    // draws from the fcells nearest FOREIGN candidates (ADVICE r12: a
    // rank-over-all rule could land in-cell when the assignment and the
    // updated-centroid rank disagree; foreign-only ranks cannot), the
    // medoid rank uses the own-cell row. Consumed twice — checkpoint
    // (blocked discipline).
    val cand = b.cand.localCheckpoint()
    val own = v.select(col("vec_id"), col("cluster"))
    val wb = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cluster"))
    val fcell = cand
      .join(own.withColumnRenamed("cluster", "ocell"), "vec_id")
      .filter(col("cluster") =!= col("ocell"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= fcells)
      .select(col("vec_id"), col("cluster").as("fcell"))

    // cosine between the `a`/`b` sides of the self-joins below; qd is
    // the int64 squared distance feeding the α test
    def pairCos: org.apache.spark.sql.Column =
      round(dot(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm")), 4)
    def pairQd: org.apache.spark.sql.Column =
      graft.functions.VectorFunctions.longSqDist(col("a.qe"), col("b.qe"))
    val wk = Window.partitionBy(col("a.vec_id"))
      .orderBy(col("cos").desc, col("b.vec_id"))
    // scell/dcell ride along so the symmetrized adjacency can carry the
    // DESTINATION's cell — the serve-time census the partition-pruned
    // vector reads need (VERDICT r14 #1)
    def poolCols = Seq(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
      col("cos"), col("qd"), col("b.qe").as("qe"), col("rnk"),
      col("a.cluster").as("scell"), col("b.cluster").as("dcell"))

    // layer 1: in-cell candidate pool (the q147 join at k = poolIn),
    // α-pruned to degreeIn. Checkpointed: consumed three times by the
    // prune (both self-join sides + the anti-join).
    val icp = vq.as("a").join(vq.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", pairCos)
      .withColumn("qd", pairQd)
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= poolIn)
      .select(poolCols: _*)
      .localCheckpoint()

    // layer 2: foreign pool — members of the fcells nearest foreign
    // candidate cells, top poolOut by cosine, α-pruned to degreeOut.
    // The a-side rides an EXPLICIT vec_id repartition at the session's
    // configured shuffle width (r18, VERDICT r17 Next #5 / guide §8):
    // this stage is "tiny exchange, huge intermediate" — ~1 MB of
    // pre-join rows explode ~fcells·targetBlock× into per-row dot/
    // sqdist kernels + the pool window, all pipelined above this one
    // exchange. AQE coalesces exchanges by BYTES (at fixture scale to
    // ONE task: 2.1 s of kernel CPU serialized — the r17 profile's
    // single-task stage), which it may not do to a REPARTITION_BY_NUM
    // shuffle; the width is the session's shuffle.partitions — the
    // same value the ensure-requirements exchange it replaces would
    // have used before coalescing — never a local constant, and the
    // downstream window reuses the partitioning (no second exchange,
    // same 1 MB shuffled).
    val np = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val fcp = vq.repartition(np, col("vec_id")).as("a")
      .join(fcell, col("a.vec_id") === fcell("vec_id"))
      .join(vq.as("b"), col("b.cluster") === col("fcell"))
      .withColumn("cos", pairCos)
      .withColumn("qd", pairQd)
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= poolOut)
      .select(poolCols: _*)
      .localCheckpoint()

    val carry = Seq("scell", "dcell")
    val dir = alphaPrune(icp, degreeIn, aNum = aNum, aDen = aDen,
        carry = carry)
      .unionAll(alphaPrune(fcp, degreeOut, aNum = aNum, aDen = aDen,
        carry = carry))
    // symmetrize carrying BOTH endpoints' cells: dcell (the destination's
    // — the serve-time node-read census, r15) and scell (the SOURCE's —
    // the r17 edge-store bucketing key, so each hop's adjacency read can
    // prune to the frontier's cell census). Both are functionally
    // determined by their endpoint, so the distinct edge set is
    // unchanged.
    val edges = dir.select(col("src"), col("dst"), col("cos"),
        col("scell"), col("dcell"))
      .unionAll(dir.select(col("dst").as("src"), col("src").as("dst"),
        col("cos"), col("dcell").as("scell"), col("scell").as("dcell")))
      .distinct()

    // per-cell entry medoids: min distance to own centroid, tie vec_id
    val ownd = cand.join(own, Seq("vec_id", "cluster"))
    val we = Window.partitionBy(col("cluster"))
      .orderBy(col("dist"), col("vec_id"))
    val medoids = ownd
      .withColumn("rn", row_number().over(we))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("vec_id").as("node"))

    (v, edges, medoids, b.cents, b.coarse)
  }

  /** q201: the stored navigable-graph build, emitted as the adjacency
    * table itself — (src, dst, cos), symmetrized and deduplicated. The
    * oracle rebuilds it through the shared two-level Lloyd CTE, so a
    * green hash pins BOTH edge layers and the symmetrization. */
  def knnGraph(embeddings: DataFrame): DataFrame = {
    val (_, edges, _, _, _) = graphFrames(embeddings)
    edges.select(col("src"), col("dst"), col("cos"))
      .orderBy(col("src"), col("dst"))
  }

  /** Scores a (probe_id, node, cell) candidate frame: `joinBase(cand)`
    * must return the candidates joined with the node table — columns
    * (probe_id, node, cell = the node's stored cluster, embedding,
    * nrm). Since r18 the base prune is FOLDED INTO the scoring join
    * (VERDICT r17 Next #6, guide §2.4 "share one exchange"): the
    * candidate frame itself is the single broadcast build side, its
    * (cell → bucket) key carries dynamic partition pruning to the
    * stored scan, and the r15–r17 shape's separate census semi-join
    * AND per-pass candidate localCheckpoint (one extra Spark job per
    * pass — 6 per serve) are gone. Exactness rides the cell
    * invariant: every candidate's `cell` IS its node's stored cluster
    * (medoids carry their own cell, adjacency rows the destination's
    * write-time cell of an immutable store, beam rows the previous
    * pass's scored base cluster), so the extra (bucket, cell) equi-keys
    * drop no row the vec_id = node key would keep — and conversely the
    * old census semi-join (cluster ∈ candidate cells) is implied by
    * them. Serve paths whose base is NOT keyed by the candidates'
    * cells (the lifecycle's latest-wins view) adapt via [[censusJoin]].
    * House cosine discipline: round(4) before any ranking, ties on
    * ascending node id. */
  private def scored(cand: DataFrame, joinBase: DataFrame => DataFrame,
                     probes: DataFrame): DataFrame =
    joinBase(cand)
      .join(broadcast(probes), "probe_id")
      .withColumn("cos",
        round(dot(col("pe"), col("embedding")) / (col("pn") * col("nrm")), 4))
      .select(col("probe_id"), col("node"), col("cell"), col("cos"))

  /** Adapts a census-style base read (`cellsF(cell)` => base rows
    * (vec_id, embedding, nrm, cluster)) to [[scored]]'s candidate-join
    * contract — the pre-r18 two-step shape, kept for serve paths whose
    * base rows are NOT statically keyed by the candidates' cells: the
    * lifecycle's latest-wins view, where a drifted entity's CURRENT
    * cluster may differ from the cell a stored edge carries, so the
    * base read must stay census-driven (a (cell = cluster) equi-join
    * would change which drifted candidates resolve). The candidate
    * frame is consumed twice (census + scoring join) — checkpointed,
    * exactly as the pre-r18 shape did. */
  private[llm] def censusJoin(baseFor: DataFrame => DataFrame)
      : DataFrame => DataFrame = cand0 => {
    val cand = cand0.localCheckpoint()
    val base = baseFor(cand.select(col("cell").cast("long").as("cell"))
      .distinct())
    // unqualified probe_id/node: base exposes neither, and qualifying
    // them through `cand` trips the self-join ambiguity check (the
    // census subtree inside `base` is derived from the same dataset)
    base.join(broadcast(cand), base("vec_id") === cand("node"))
      .select(col("probe_id"), col("node"), base("cluster").as("cell"),
        col("embedding"), col("nrm"))
  }

  /** Beam search over a prebuilt graph: each probe's beam is seeded
    * with the medoids of its [[SeedCells]] nearest cells (centroid-
    * cosine rank — the IVF coarse probe, so the graph serve pays the
    * same O(probes·k) coarse cost the IVF tier already pays), then
    * [[Hops]] statically-unrolled frontier expansions at beam [[Beam]],
    * final top-k from the last beam. Every hop's beam is a tiny
    * (probes·B) frame — localCheckpoint'd so the unrolled DAG stays
    * flat for Catalyst (the dynamicKBlocked lineage lesson) and each
    * hop's joins replan against materialized sizes.
    *
    * Vector reads (r15/r16, re-shaped r18): `joinBase(cand)` must
    * return the candidate frame joined with the node table per
    * [[scored]]'s contract. The serve legs pass [[servedJoinBase]] —
    * ONE broadcast join per pass whose (cell → bucket) key carries
    * dynamic partition pruning to the stored scan, so each pass's scan
    * IO is the candidate cells' buckets, not the corpus (VERDICT r14
    * #1), no pass pays a driver collect (VERDICT r15 #2), and no pass
    * pays a separate census semi-join or candidate checkpoint job
    * (VERDICT r17 Next #6). Census-driven bases adapt via
    * [[censusJoin]].
    *
    * Adjacency reads (r17 — VERDICT r16 #1, the node fix's twin):
    * `expandFor(bm)` must return one hop's expansion — the frontier
    * frame `bm(probe_id, node, cell)` joined against the adjacency
    * rows on src = node, emitted as (probe_id, node = dst, cell =
    * dcell). The serve legs fold the edge-store prune INTO this join:
    * the stored edge table is bucketed on the SOURCE's cell, the
    * broadcast frontier carries its cells' buckets as a second
    * equi-key, and dynamic partition pruning plants off that key — so
    * each hop scans the frontier's buckets of the edge table (E ≈
    * 28·N rows at production N) instead of streaming it whole 4–6×
    * per serve batch, at the SAME single broadcast join per hop the
    * unpruned shape paid. Exactness: a frontier node's cell IS the
    * stored scell of all its live outgoing edges (scell is written
    * from the same blocked view the node row came from), so the prune
    * drops no reachable expansion. `medoids` carry (cluster = seed
    * cell, node, cell = the node's own cell). */
  private[llm] def beamFrom(probes: DataFrame,
                            joinBase: DataFrame => DataFrame,
                            expandFor: DataFrame => DataFrame,
                            medoids: DataFrame,
                            cents: DataFrame, coarse: DataFrame,
                            k: Int, beam: Int = Beam,
                            hops: Int = Hops,
                            widen: Option[DataFrame] = None): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("node"))
    // budgets materialize ONCE per beamFrom call (ADVICE r15 #1): the
    // 1-row frame is crossJoined into every pass and each pass ends in
    // its own action, so without the checkpoint the budget subtree —
    // including a filtered serve's full-corpus `widen` aggregate —
    // would re-execute H+2 times per serve
    val budgets: DataFrame =
      broadcast(seedBudgets(cents, coarse, beam, widen).localCheckpoint())
    // beam ranks cut at the (possibly widened) beamw budget, the final
    // rank at the literal k — the 1-row budget frame rides a broadcast
    // crossJoin exactly like the seed budgets
    def rank(s: DataFrame, lim: Column): DataFrame =
      s.crossJoin(budgets)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= lim)
        .drop("scells", "gcells", "beamw")

    // seed: two-level cell rank (unrounded centroid cosine, ties on
    // ascending cell id at both levels) — SeedCoarse nearest coarse
    // cells via a √k-row broadcast, then the SeedCells nearest fine
    // children via a parent equi-join; the k-row fine frame is never
    // broadcast and never fully ranked
    val gcells = coarse.select(col("cluster").as("ccell"),
      transform(col("ce"), x => x.cast("double")).as("gcent"))
    val wg = Window.partitionBy(col("probe_id"))
      .orderBy(col("gcos").desc, col("ccell"))
    val pg = probes.crossJoin(broadcast(gcells))
      .withColumn("gcos", dot(col("pe"), col("gcent")) /
        (col("pn") * Similarity.l2norm(col("gcent"))))
      .withColumn("grnk", row_number().over(wg))
      .crossJoin(budgets)
      .filter(col("grnk") <= col("gcells"))
      .select(col("probe_id"), col("pe"), col("pn"), col("ccell"))
    val fcells = cents.select(col("parent"), col("cluster"),
      transform(col("ce"), x => x.cast("double")).as("centroid"))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("cluster"))
    val selc = broadcast(pg).join(fcells, col("ccell") === col("parent"))
      .withColumn("ccos", dot(col("pe"), col("centroid")) /
        (col("pn") * Similarity.l2norm(col("centroid"))))
      .withColumn("crnk", row_number().over(wc))
      .crossJoin(budgets)
      .filter(col("crnk") <= col("scells"))
      .select(col("probe_id"), col("cluster"))
    val c0 = selc.join(broadcast(medoids), "cluster")
      .filter(col("node") =!= col("probe_id"))
      .select(col("probe_id"), col("node"), col("cell"))
    var bm = rank(scored(c0, joinBase, probes), col("beamw"))
      .select(col("probe_id"), col("node"), col("cell")).localCheckpoint()
    for (_ <- 1 to hops) {
      // the hop's adjacency read prunes to the FRONTIER's cells (r17):
      // every frontier node's outgoing edges live in its own cell's
      // bucket of the edge store, so the pruned expansion is exact
      val expand = expandFor(bm)
      // cell is functionally determined by node, so the 3-column
      // distinct keeps exactly the (probe, node) candidate set
      val cand = bm.unionAll(expand)
        .filter(col("node") =!= col("probe_id"))
        .distinct()
      bm = rank(scored(cand, joinBase, probes), col("beamw"))
        .select(col("probe_id"), col("node"), col("cell")).localCheckpoint()
    }
    rank(scored(bm, joinBase, probes), lit(k))
      .select(col("probe_id"), col("node").as("neighbor_id"), col("cos"),
        col("rn").cast("long").as("rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** The fresh paths' hop expansion: a plain broadcast join of the
    * frontier against an in-memory edge frame — pruning buys no scan
    * IO there (the stored paths' bucket-pruned join is
    * [[servedExpand]]). */
  private[llm] def expandWith(edges: DataFrame): DataFrame => DataFrame =
    bm => edges.join(broadcast(bm), col("src") === col("node"))
      .select(col("probe_id"), col("dst").as("node"),
        col("dcell").as("cell"))

  /** q202: build + search in one self-contained query — the registered
    * probe set (vec_id < nProbes) beam-searched through the fresh
    * graph. The oracle replays the whole chain: blocking, both edge
    * layers, symmetrization, per-cell medoids, per-probe seed cells,
    * and all [[Hops]] unrolled expansions with identical rounding and
    * tie rules. */
  def beamTopK(embeddings: DataFrame, nProbes: Int = 10,
               k: Int = 5): DataFrame = {
    val (v0, edgesRaw, medoidsRaw, cents, coarse) = graphFrames(embeddings)
    val edges = edgesRaw.localCheckpoint()
    val medoids = medoidsRaw.withColumn("cell", col("cluster"))
      .localCheckpoint()
    // consumed once per seed/hop/final pass — checkpoint so the blocking
    // lineage is not replayed 6×; the fresh path's scoring join carries
    // the (cluster = cell) prune key directly (r18 — the stored path's
    // partition pruning additionally needs the parquet layout, q203)
    val v = v0.select(col("vec_id"), col("embedding"), col("nrm"),
      col("cluster")).localCheckpoint()
    beamFrom(Similarity.probesFrame(embeddings, nProbes), freshJoinBase(v),
      expandWith(edges), medoids, cents, coarse, k)
  }

  /** The fresh (in-memory) paths' [[scored]] join: one broadcast join
    * of the candidate frame against the checkpointed blocked corpus,
    * with the candidate's cell as an extra equi-key — exact by the
    * cell invariant ([[scored]]), and the prune the census semi-join
    * used to provide now rides the same single join. */
  private[llm] def freshJoinBase(v: DataFrame): DataFrame => DataFrame =
    cand0 => {
      val cand = broadcast(cand0)
      v.join(cand, v("cluster") === cand("cell").cast("long") &&
          v("vec_id") === cand("node"))
        .select(cand("probe_id"), cand("node"), v("cluster").as("cell"),
          v("embedding"), v("nrm"))
    }

  /** Writes the five serving tables — the node table `nodes(vec_id,
    * embedding, nrm, label, cluster)` AND the edge table `edges(src,
    * dst, cos, cluster = the SOURCE's cell, dcell)` both in the
    * BUCKETED block-file layout ([[CellStore]], VERDICT r15 #1 / r16
    * #1: one dir per ~64-cell bucket with a bounded bucket count,
    * in-file cluster sort for row-group skipping — file count
    * sublinear in N instead of one file per cell, and each beam hop's
    * adjacency read prunes to the frontier's cells instead of
    * streaming all E ≈ 28·N edge rows), plus `medoids(cluster, node)`,
    * the fine `centroids(cluster, parent, ce)` and the `coarse
    * (cluster, ce)` seed level — under `root`. The build (two-level
    * Lloyd blocking + two kNN layers) runs here, once per corpus; the
    * serve leg reads them back and pays only the two-level seed rank
    * plus the H broadcast-join hops over bucket-pruned node AND edge
    * reads. Both stores share one bucket count, derived from the
    * stored centroid table on write and read alike. */
  private[llm] def writeGraphIndex(embeddings: DataFrame,
                                   root: String): Unit =
    Similarity.sweepAfter(embeddings.sparkSession) {
      val (v, edges, medoids, cents, coarse) = graphFrames(embeddings)
      cents.write.mode("overwrite").parquet(s"$root/centroids")
      // bucket count derives from the STORED centroid table — the same
      // deterministic rule the readers apply, so no meta file
      val nb = CellStore.bucketsOf(v.sparkSession, root)
      // label rides along as co-stored metadata — the filtered search
      // (q219/q220) reads it as a pushed parquet filter, the way a
      // production filtered-ANN index stores its filterable attributes
      CellStore.write(
        v.join(embeddings.select(col("vec_id"), col("label")), "vec_id")
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("label"), col("cluster")),
        nb, s"$root/nodes")
      CellStore.write(edges.withColumnRenamed("scell", "cluster"),
        nb, s"$root/edges")
      medoids.write.mode("overwrite").parquet(s"$root/medoids")
      coarse.write.mode("overwrite").parquet(s"$root/coarse")
    }

  /** q203: the q202 search SERVED from the stored graph (oracle: q202's
    * VERBATIM — store ≡ recompute). First call per corpus builds under
    * the shared [[graft.FsUtil.ServedRoots]] cache; afterwards the
    * query-time work is what a production graph-ANN tier pays: H
    * frontier joins against the stored adjacency plus B·degree·H
    * vector reads per probe — constant in N. */
  def beamTopKServed(embeddings: DataFrame, corpusTag: String,
                     nProbes: Int = 10, k: Int = 5): DataFrame =
    serveRoot(GannIndex.root(embeddings, corpusTag),
      Similarity.probesFrame(embeddings, nProbes),
      embeddings.sparkSession, k)

  /** The stored graph as a served index (exposed so the plan-shape
    * spec can pin the pruned node read against the real store). */
  private[llm] val GannIndex = Similarity.ServedIndex("gann", writeGraphIndex)

  /** The stored node table pruned to a census frame `cellsF(cell)`: a
    * broadcast semi-join whose bucket key is the store's partition
    * column, so DYNAMIC partition pruning reaches the scan
    * ([[CellStore.prunedToF]] — the q217 shape; VERDICT r15 #2 retired
    * the per-pass collect()+isin driver barrier). Since r18 the SERVE
    * passes no longer route through this census shape — their scoring
    * join prunes the scan directly ([[servedJoinBase]]); this read
    * stays as the census-driven primitive for the plan-shape spec and
    * the scan-fraction gauges. */
  private[llm] def servedBaseRead(spark: org.apache.spark.sql.SparkSession,
                                  root: String): DataFrame => DataFrame = {
    val nb = CellStore.bucketsOf(spark, root)
    val nodes = graft.FsUtil.readParquet(spark, s"$root/nodes")
    cellsF =>
      CellStore.prunedToF(nodes, nb, cellsF)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("label"),
          col("cluster"))
  }

  /** The stored paths' [[scored]] join (r18, VERDICT r17 Next #6): ONE
    * broadcast join per pass of the candidate frame against the stored
    * node table — the candidate's (cell → bucket) key is the store's
    * partition column, so DYNAMIC partition pruning reaches the scan
    * from the scoring join itself (the `bkt >= 0` build-side predicate
    * is the q192 DPP-coaxing lesson, see [[CellStore.prunedToF]]), and
    * the separate census semi-join + per-pass candidate checkpoint of
    * the r15–r17 shape are gone. The cluster equi-key completes
    * exactness (co-bucketed foreign cells drop at the join); the
    * vec_id = node key makes it the scoring join. `nodeFilter` pushes
    * a metadata predicate (the filtered legs' label test) into the
    * stored scan as a parquet filter, exactly as the census shape did.
    * The parquet read (and its ≤ [[CellStore.MaxBuckets]]-file
    * listing) happens once per serve call; each pass only adds its
    * join. */
  private[llm] def servedJoinBase(spark: org.apache.spark.sql.SparkSession,
                                  root: String,
                                  nodeFilter: Option[Column] = None)
      : DataFrame => DataFrame = {
    val nb = CellStore.bucketsOf(spark, root)
    val nodes0 = graft.FsUtil.readParquet(spark, s"$root/nodes")
    val nodes = nodeFilter.map(nodes0.filter).getOrElse(nodes0)
    cand0 => {
      val b = broadcast(cand0.select(col("probe_id"), col("node"),
          col("cell").cast("long").as("cell"))
        .withColumn("bkt",
          CellStore.bucketOf(col("cell"), nb))
        .filter(col("bkt") >= 0))
      nodes.join(b, nodes("bucket") === b("bkt") &&
          nodes("cluster") === b("cell") && nodes("vec_id") === b("node"))
        .select(b("probe_id"), b("node"), nodes("cluster").as("cell"),
          nodes("embedding"), nodes("nrm"))
    }
  }

  /** One hop's expansion against the STORED edge table (r17, VERDICT
    * r16 #1): the store is bucketed on the SOURCE's cell (`cluster`),
    * the broadcast frontier carries each node's cell BUCKET as a
    * second equi-key next to src = node, and dynamic partition pruning
    * plants off the bucket key — so the hop's scan IO is the
    * frontier's buckets, not the whole edge table, at the same single
    * broadcast join per hop the unpruned shape paid (a separate
    * census semi-join measured ~+30% on the serve wall at N=1e5).
    * The `bkt >= 0` build-side predicate is always true but REQUIRED
    * for the optimizer to plant the DPP subquery (the q192 lesson —
    * see [[CellStore.prunedToF]] and the GraphAnnSpec plan pins). The
    * parquet read (and its ≤ [[CellStore.MaxBuckets]]-file listing)
    * happens once per serve call; each hop only adds its join. */
  private[llm] def servedExpand(spark: org.apache.spark.sql.SparkSession,
                                root: String): DataFrame => DataFrame = {
    val nb = CellStore.bucketsOf(spark, root)
    val edges = graft.FsUtil.readParquet(spark, s"$root/edges")
    bm => {
      val b = broadcast(bm.select(col("probe_id"), col("node"),
          CellStore.bucketOf(col("cell").cast("long"), nb).as("bkt"))
        .filter(col("bkt") >= 0))
      edges.join(b,
          edges("bucket") === b("bkt") && edges("src") === b("node"))
        .select(b("probe_id"), edges("dst").as("node"),
          edges("dcell").as("cell"))
    }
  }

  private[llm] def serveRoot(root: String, probes: DataFrame,
                             spark: org.apache.spark.sql.SparkSession,
                             k: Int): DataFrame =
    beamFrom(probes, servedJoinBase(spark, root),
      servedExpand(spark, root),
      graft.FsUtil.readParquet(spark, s"$root/medoids")
        .withColumn("cell", col("cluster")),
      graft.FsUtil.readParquet(spark, s"$root/centroids"),
      graft.FsUtil.readParquet(spark, s"$root/coarse"), k)

  /** q210: graph-tier quality as a MEASURED query — recall@k of the
    * α-pruned beam search against the brute-force cosine truth (q35),
    * the q39 acceptance-gate precedent applied to the graph family.
    * The r14 α-prune's whole claim is "same degree budget, better
    * navigability"; this query turns that into a hard, oracle-checked
    * number instead of a PERF.md table. The approximate side runs
    * against the STORED q203 index (same [[graft.FsUtil.ServedRoots]]
    * key), the production shape for an acceptance gate — it grades the
    * index actually being served, and one physical graph build feeds
    * both queries per corpus. The oracle is q202's chain composed with
    * q35's (store ≡ recompute, the q203 proof); the scoring join is
    * probes×k rows. */
  def graphRecall(embeddings: DataFrame, corpusTag: String,
                  nProbes: Int = 10, k: Int = 5): DataFrame = {
    // the oracle unrolls both chains at the registered probe set and
    // depth; other values would silently break parity (ADVICE r14 #2)
    require(nProbes == 10 && k == 5,
      "graphRecall is oracle-gated at nProbes=10, k=5")
    Similarity.recallOf(Similarity.cosineTopK(embeddings, nProbes, k),
        beamTopKServed(embeddings, corpusTag, nProbes, k))
      .select(lit("graph_beam").as("method"), col("*"))
  }

  /** The q203 serve leg under Structured Streaming (foreachBatch):
    * probe vectors arrive as micro-batches and run the identical beam
    * search against the STORED graph — stream ≡ batch proved in
    * StreamingSpec against [[beamTopKServed]]'s rows. */
  def graphSearchStreamBatch(embeddings: DataFrame, corpusTag: String,
                             outDir: String, k: Int = 5)(
      batch: DataFrame, batchId: Long): Unit = {
    serveRoot(GannIndex.streamRoot(embeddings, corpusTag),
      Similarity.probesOf(batch), batch.sparkSession, k)
      .write.mode("append").parquet(outDir)
    ()
  }

  /** q219: FILTERED graph search — the q204 metadata-predicate
    * discipline (even `label`) on the beam tier, the DiskANN-style
    * filtered search a production graph index must offer (VERDICT r14
    * missing #2). The graph is built UNFILTERED (the filter is a
    * query-time parameter, never index state); the predicate applies to
    * CANDIDATES during expansion — every scored pass joins against the
    * eligible node set only, so ineligible medoid seeds and frontier
    * expansions drop before ranking and the final top-k can never
    * under-fill the way post-filtering would. A filter thins every
    * beam, so ALL search budgets — seed cells, coarse cells, AND the
    * beam width — self-widen by the measured 1/selectivity (the q204
    * 1-row count-pair aggregate), restoring the eligible candidate
    * volume of the unfiltered search. Routing through ineligible nodes
    * is traded away exactly as in the IVF tier: the widened beam keeps
    * more eligible stepping stones instead. */
  def beamTopKFiltered(embeddings: DataFrame, nProbes: Int = 10,
                       k: Int = 5): DataFrame = {
    // the oracle's probe CTE and final rank are unrolled at the
    // registered constants (ADVICE r15 #3)
    require(nProbes == 10 && k == 5,
      "beamTopKFiltered is oracle-gated at nProbes=10, k=5")
    val (v0, edgesRaw, medoidsRaw, cents, coarse) = graphFrames(embeddings)
    val edges = edgesRaw.localCheckpoint()
    val medoids = medoidsRaw.withColumn("cell", col("cluster"))
      .localCheckpoint()
    val v = v0.join(embeddings.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label") % 2 === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cluster"))
      .localCheckpoint()
    beamFrom(Similarity.probesFrame(embeddings, nProbes),
      freshJoinBase(v),
      expandWith(edges),
      medoids, cents, coarse, k,
      widen = Some(embeddings.agg(Similarity.evenLabelWiden.as("w"))))
  }

  /** q220: the q219 filtered search SERVED from the STORED q203 graph
    * (oracle: q219's VERBATIM — store ≡ recompute). Same ServedRoots
    * key as q203/q210, so ONE physical graph serves the plain and
    * filtered legs; the predicate rides the pruned node read as a
    * pushed parquet filter on the co-stored label column, and the
    * widening aggregate is query-time (one narrow count pair). */
  def beamTopKFilteredServed(embeddings: DataFrame, corpusTag: String,
                             nProbes: Int = 10, k: Int = 5): DataFrame = {
    // q219's oracle (reused verbatim) is unrolled at the registered
    // constants (ADVICE r15 #3)
    require(nProbes == 10 && k == 5,
      "beamTopKFilteredServed is oracle-gated at nProbes=10, k=5")
    filteredServeFromRoot(GannIndex.root(embeddings, corpusTag),
      Similarity.probesFrame(embeddings, nProbes),
      embeddings, k)
  }

  private def filteredServeFromRoot(root: String, probes: DataFrame,
                                    embeddings: DataFrame,
                                    k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    // the label predicate pushes into the stored scan as a parquet
    // filter exactly as before; the prune + scoring ride one join (r18)
    beamFrom(probes,
      servedJoinBase(spark, root, Some(col("label") % 2 === 0)),
      servedExpand(spark, root),
      graft.FsUtil.readParquet(spark, s"$root/medoids")
        .withColumn("cell", col("cluster")),
      graft.FsUtil.readParquet(spark, s"$root/centroids"),
      graft.FsUtil.readParquet(spark, s"$root/coarse"), k,
      widen = Some(embeddings.agg(Similarity.evenLabelWiden.as("w"))))
  }

  /** The q220 serve leg under Structured Streaming (foreachBatch) —
    * stream ≡ batch proved in StreamingSpec against
    * [[beamTopKFilteredServed]]'s rows. */
  def filteredGraphStreamBatch(embeddings: DataFrame, corpusTag: String,
                               outDir: String, k: Int = 5)(
      batch: DataFrame, batchId: Long): Unit = {
    filteredServeFromRoot(GannIndex.streamRoot(embeddings, corpusTag),
      Similarity.probesOf(batch), embeddings, k)
      .write.mode("append").parquet(outDir)
    ()
  }

  /** q221: the filtered graph tier's acceptance gate — recall@k of the
    * SERVED filtered beam search (q220's store) against the FILTERED
    * brute-force truth (the q35 scan restricted to eligible
    * candidates), the q39/q210/q218 precedent applied to the filtered
    * mode. This is the number the self-widening budgets exist to
    * defend: without widening, a ~0.5-selectivity filter measurably
    * thins every beam (the q204 story); the gate makes the filtered
    * tier's quality a hard, oracle-checked row instead of a scaladoc
    * claim. */
  def filteredGraphRecall(embeddings: DataFrame, corpusTag: String,
                          nProbes: Int = 10, k: Int = 5): DataFrame = {
    // the oracle unrolls both chains at the registered constants
    require(nProbes == 10 && k == 5,
      "filteredGraphRecall is oracle-gated at nProbes=10, k=5")
    Similarity.recallOf(Similarity.evenLabelTruth(embeddings, nProbes, k),
        beamTopKFilteredServed(embeddings, corpusTag, nProbes, k))
      .select(lit("filtered_graph").as("method"), col("*"))
  }

  /** q227: MaxSim rerank over the GRAPH shortlist — q208's composition
    * with the beam tier as the retriever (VERDICT r15 next #7: at the
    * same serve-cost envelope the graph shortlist recalls better than
    * the IVF scan that q208 reranks). The stored q203 graph retrieves
    * each probe's top-[[Similarity.RegisteredFixedR]] candidates by
    * single-vector cosine (the final beam ranked at R instead of k —
    * R ≤ [[Beam]], so the search does no extra work), then the q205
    * late-interaction kernel rescores ONLY those probes·R rows and the
    * final top-k ranks by MaxSim. Same ServedRoots key as
    * q203/q210/q220 — ONE physical graph serves four query modes.
    *
    * 100 TB shape: the retrieval cost is the q203 serve (bucket-pruned
    * node reads, constant per-probe candidate volume); the 4×nSub²
    * sub-cosine kernel runs on probes·R broadcast-joined rows — never
    * the corpus. */
  def maxSimGraphRerank(embeddings: DataFrame, corpusTag: String,
                        nProbes: Int = 10, k: Int = 5): DataFrame = {
    // the oracle unrolls the beam chain at R and the kernel at the
    // registered constants
    require(nProbes == 10 && k == 5,
      "maxSimGraphRerank is oracle-gated at nProbes=10, k=5")
    val spark = embeddings.sparkSession
    val root = GannIndex.root(embeddings, corpusTag)
    val short = serveRoot(root,
        Similarity.probesFrame(embeddings, nProbes), spark,
        Similarity.RegisteredFixedR)
      .select(col("probe_id"), col("neighbor_id"))
    val base = Similarity.maxSimBase(embeddings, 4, 64)
    val probes = Similarity.maxSimBase(
        embeddings.filter(col("vec_id") < nProbes), 4, 64)
      .select(col("vec_id").as("probe_id"), col("sv").as("pv"),
        col("sn").as("pn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("maxsim").desc, col("neighbor_id"))
    base.join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(probes), "probe_id")
      .withColumn("maxsim", Similarity.maxSimScore(4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("maxsim"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------

  /** int64 squared quantized distance between two qe arrays — the
    * oracle side of the α test (and of `qd`). Shared with the
    * lifecycle's chains (q206). */
  private[llm] def qdSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(64), i -> " +
      s"($a.qe[i + 1] - $b.qe[i + 1]) * ($a.qe[i + 1] - $b.qe[i + 1]))) AS BIGINT)"

  /** One α-pruned layer: `pool` must expose (keys..., dst, cos, qd, qe,
    * rnk) with rnk ranked within `keys`. Occlusion = the pairwise MRNG
    * test against every higher-ranked pool member; survivors keep pool
    * order, top `budget`. `keys` mirrors [[alphaPrune]]'s — the
    * lifecycle's per-generation chains prune within (g, src). */
  private[llm] def alphaPruneSql(pool: String, name: String, budget: Int,
                                 keys: Seq[String] = Seq("src")): String = {
    val eq = keys.map(k => s"x.$k = y.$k").mkString(" AND ")
    val ysel = keys.map(k => s"y.$k").mkString(", ")
    val isel = keys.map(k => s"i.$k").mkString(", ")
    val oeq = keys.map(k => s"o.$k = i.$k").mkString(" AND ")
    s"""${name}o AS (SELECT DISTINCT $ysel, y.dst
      |  FROM $pool x JOIN $pool y ON $eq AND x.rnk < y.rnk
      |  WHERE $AlphaNum * ${qdSql("x", "y")} <= $AlphaDen * y.qd),
      |$name AS (SELECT ${keys.mkString(", ")}, dst, cos FROM
      |    (SELECT $isel, i.dst, i.cos,
      |       row_number() OVER (PARTITION BY $isel ORDER BY i.rnk) rn2
      |     FROM $pool i LEFT JOIN ${name}o o
      |       ON $oeq AND o.dst = i.dst
      |     WHERE o.${keys.head} IS NULL) WHERE rn2 <= $budget)""".stripMargin
  }

  /** CTE suffix shared by both oracles, over the two-level prefix
    * ([[Similarity.dynamicKBlockedCteSql]]: blocked corpus `v`,
    * quantized corpus `q`, updated fine centroids `fc2`, pruned
    * candidate distances `fpd`, final assignment `fa2`): the foreign
    * candidate cells, both α-pruned edge layers, and the symmetrized
    * `edges`. */
  private def edgesCteSql: String =
    s"""fcl AS (SELECT vec_id, cluster AS fcell FROM
      |    (SELECT d.vec_id, d.cluster, row_number() OVER (PARTITION BY d.vec_id
      |       ORDER BY d.dist, d.cluster) rn
      |     FROM fpd d JOIN fa2 o ON o.vec_id = d.vec_id
      |                          AND d.cluster != o.cluster) WHERE rn <= $ForeignCells),
      |icp0 AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      z -> z[1]::DOUBLE * z[2]::DOUBLE)) / (a.nrm * b.nrm), 4) AS cos,
      |    ${qdSql("qa", "qb")} AS qd, qb.qe AS qe
      |  FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id != b.vec_id
      |  JOIN q qa ON qa.vec_id = a.vec_id JOIN q qb ON qb.vec_id = b.vec_id),
      |icp AS MATERIALIZED (SELECT * FROM
      |    (SELECT *, row_number() OVER (PARTITION BY src
      |       ORDER BY cos DESC, dst) rnk FROM icp0) WHERE rnk <= $PoolIn),
      |${alphaPruneSql("icp", "ick", DegreeIn)},
      |fcp0 AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      z -> z[1]::DOUBLE * z[2]::DOUBLE)) / (a.nrm * b.nrm), 4) AS cos,
      |    ${qdSql("qa", "qb")} AS qd, qb.qe AS qe
      |  FROM v a JOIN fcl ON fcl.vec_id = a.vec_id
      |            JOIN v b ON b.cluster = fcl.fcell
      |  JOIN q qa ON qa.vec_id = a.vec_id JOIN q qb ON qb.vec_id = b.vec_id),
      |fcp AS MATERIALIZED (SELECT * FROM
      |    (SELECT *, row_number() OVER (PARTITION BY src
      |       ORDER BY cos DESC, dst) rnk FROM fcp0) WHERE rnk <= $PoolOut),
      |${alphaPruneSql("fcp", "fck", DegreeOut)},
      |dir AS (SELECT * FROM ick UNION ALL SELECT * FROM fck),
      |edges AS MATERIALIZED (SELECT DISTINCT src, dst, cos FROM
      |    (SELECT src, dst, cos FROM dir
      |     UNION ALL SELECT dst, src, cos FROM dir))""".stripMargin

  val knnGraphSql: String =
    s"""${Similarity.dynamicKBlockedCteSql},
      |$edgesCteSql
      |SELECT src, dst, cos FROM edges ORDER BY src, dst""".stripMargin

  /** One unrolled hop: expand `prev` through `edges`, dedup, rescore
    * every candidate (identical re-rounding — carried beam nodes score
    * to the same value), keep the beam. `corpus` is the (possibly
    * predicate-filtered) scoring side; `beamLim` the (possibly widened)
    * beam budget expression. */
  private def hopCte(prev: String, name: String, corpus: String = "v",
                     beamLim: String = Beam.toString): String =
    s"""${name}c AS (SELECT DISTINCT probe_id, node FROM
      |    (SELECT probe_id, node FROM $prev
      |     UNION ALL
      |     SELECT b.probe_id, e.dst AS node
      |     FROM $prev b JOIN edges e ON e.src = b.node)
      |  WHERE node != probe_id),
      |${name}s AS (SELECT c.probe_id, c.node,
      |    round(list_sum(list_transform(list_zip(p.pe, n.embedding),
      |      z -> z[1]::DOUBLE * z[2]::DOUBLE)) / (p.pn * n.nrm), 4) AS cos
      |  FROM ${name}c c JOIN probes p USING (probe_id)
      |                  JOIN $corpus n ON n.vec_id = c.node),
      |$name AS MATERIALIZED (SELECT probe_id, node, cos FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY cos DESC, node) rn FROM ${name}s) WHERE rn <= $beamLim)""".stripMargin

  /** The q202 oracle with the FINAL rank cut at `finalK` — the rerank
    * composition (q227) draws its graph shortlist from the same chain
    * at the registered R instead of k. */
  private[llm] def beamTopKSqlAt(finalK: Int): String = {
    val hops = (1 to Hops).map(i => hopCte(s"b${i - 1}", s"b$i"))
      .mkString(",\n")
    s"""${Similarity.dynamicKBlockedCteSql},
      |$edgesCteSql,
      |nd AS (SELECT d.vec_id, d.cluster, d.dist
      |       FROM fpd d JOIN fa2 o ON o.vec_id = d.vec_id
      |                            AND o.cluster = d.cluster),
      |medo AS MATERIALIZED (SELECT cluster, vec_id AS node FROM
      |    (SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
      |       ORDER BY dist, vec_id) rn FROM nd) WHERE rn = 1),
      |gcells AS (SELECT cluster AS ccell,
      |             list_transform(ce, x -> x::DOUBLE) AS gcent FROM gc2),
      |fcells AS (SELECT cluster // (SELECT k FROM kk) AS parent, cluster,
      |             list_transform(ce, x -> x::DOUBLE) AS centroid FROM fc2),
      |probes AS MATERIALIZED (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn
      |           FROM v WHERE vec_id < 10),
      |pgc AS (SELECT p.probe_id, p.pe, p.pn, g.ccell,
      |    list_sum(list_transform(list_zip(p.pe, g.gcent), z -> z[1]::DOUBLE * z[2]))
      |      / (p.pn * sqrt(list_sum(list_transform(g.gcent, x -> x * x)))) AS gcos
      |  FROM probes p CROSS JOIN gcells g),
      |sb AS (SELECT
      |    (SELECT greatest($SeedCells, CAST(ceil(${Similarity.IvfProbeFrac} * count(*)) AS BIGINT)) FROM fc2) AS scells,
      |    (SELECT greatest($SeedCoarse, CAST(ceil(0.4 * count(*)) AS BIGINT)) FROM gc2) AS gcells),
      |pgs AS (SELECT probe_id, pe, pn, ccell FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY gcos DESC, ccell) grnk FROM pgc)
      |  WHERE grnk <= (SELECT gcells FROM sb)),
      |pcc AS (SELECT s.probe_id, f.cluster,
      |    list_sum(list_transform(list_zip(s.pe, f.centroid), z -> z[1]::DOUBLE * z[2]))
      |      / (s.pn * sqrt(list_sum(list_transform(f.centroid, x -> x * x)))) AS ccos
      |  FROM pgs s JOIN fcells f ON f.parent = s.ccell),
      |selc AS (SELECT probe_id, cluster FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY ccos DESC, cluster) crnk FROM pcc)
      |  WHERE crnk <= (SELECT scells FROM sb)),
      |b0c AS (SELECT probe_id, node FROM selc JOIN medo USING (cluster)
      |        WHERE node != probe_id),
      |b0s AS (SELECT c.probe_id, c.node,
      |    round(list_sum(list_transform(list_zip(p.pe, n.embedding),
      |      z -> z[1]::DOUBLE * z[2]::DOUBLE)) / (p.pn * n.nrm), 4) AS cos
      |  FROM b0c c JOIN probes p USING (probe_id)
      |             JOIN v n ON n.vec_id = c.node),
      |b0 AS MATERIALIZED (SELECT probe_id, node, cos FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY cos DESC, node) rn FROM b0s) WHERE rn <= $Beam),
      |$hops
      |SELECT probe_id, node AS neighbor_id, cos, CAST(rn AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
      |        ORDER BY cos DESC, node) rn FROM b$Hops)
      |WHERE rn <= $finalK ORDER BY probe_id, rnk""".stripMargin
  }

  val beamTopKSql: String = beamTopKSqlAt(5)

  /** Oracle for [[beamTopKFiltered]]/[[beamTopKFilteredServed]]: the
    * q202 chain with (a) the eligible corpus `ve` (even label) as the
    * scoring side of the seed and every hop — candidates drop at the
    * score join exactly like the Spark side's filtered base read — and
    * (b) every search budget widened by the measured 1/selectivity
    * (`wz`, the q204 count-pair): seed cells, coarse cells, and the
    * beam width. Build CTEs (blocking, edges, medoids) are the
    * VERBATIM unfiltered prefix — the index never sees the filter. */
  val beamTopKFilteredSql: String = {
    val bw = "(SELECT bw FROM sbf)"
    val hops = (1 to Hops).map(i => hopCte(s"bf${i - 1}", s"bf$i", "ve", bw))
      .mkString(",\n")
    s"""${Similarity.dynamicKBlockedCteSql},
      |$edgesCteSql,
      |nd AS (SELECT d.vec_id, d.cluster, d.dist
      |       FROM fpd d JOIN fa2 o ON o.vec_id = d.vec_id
      |                            AND o.cluster = d.cluster),
      |medo AS MATERIALIZED (SELECT cluster, vec_id AS node FROM
      |    (SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
      |       ORDER BY dist, vec_id) rn FROM nd) WHERE rn = 1),
      |ve AS MATERIALIZED (SELECT v.vec_id, v.embedding, v.nrm, v.cluster
      |  FROM v JOIN embeddings e USING (vec_id) WHERE e.label % 2 = 0),
      |gcells AS (SELECT cluster AS ccell,
      |             list_transform(ce, x -> x::DOUBLE) AS gcent FROM gc2),
      |fcells AS (SELECT cluster // (SELECT k FROM kk) AS parent, cluster,
      |             list_transform(ce, x -> x::DOUBLE) AS centroid FROM fc2),
      |probes AS MATERIALIZED (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn
      |           FROM v WHERE vec_id < 10),
      |selz AS (SELECT count(*) AS cnt,
      |           count(*) FILTER (WHERE label % 2 = 0) AS fcnt
      |         FROM embeddings),
      |wz AS (SELECT CASE WHEN fcnt > 0 THEN cnt::DOUBLE / fcnt
      |              ELSE 1.0 END AS w FROM selz),
      |sbf AS (SELECT
      |    (SELECT greatest($SeedCells, CAST(ceil(${Similarity.IvfProbeFrac} * count(*) * (SELECT w FROM wz)) AS BIGINT)) FROM fc2) AS scells,
      |    (SELECT greatest($SeedCoarse, CAST(ceil(0.4 * count(*) * (SELECT w FROM wz)) AS BIGINT)) FROM gc2) AS gcells,
      |    (SELECT CAST(ceil($Beam * (SELECT w FROM wz)) AS BIGINT)) AS bw),
      |pgc AS (SELECT p.probe_id, p.pe, p.pn, g.ccell,
      |    list_sum(list_transform(list_zip(p.pe, g.gcent), z -> z[1]::DOUBLE * z[2]))
      |      / (p.pn * sqrt(list_sum(list_transform(g.gcent, x -> x * x)))) AS gcos
      |  FROM probes p CROSS JOIN gcells g),
      |pgs AS (SELECT probe_id, pe, pn, ccell FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY gcos DESC, ccell) grnk FROM pgc)
      |  WHERE grnk <= (SELECT gcells FROM sbf)),
      |pcc AS (SELECT s.probe_id, f.cluster,
      |    list_sum(list_transform(list_zip(s.pe, f.centroid), z -> z[1]::DOUBLE * z[2]))
      |      / (s.pn * sqrt(list_sum(list_transform(f.centroid, x -> x * x)))) AS ccos
      |  FROM pgs s JOIN fcells f ON f.parent = s.ccell),
      |selc AS (SELECT probe_id, cluster FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY ccos DESC, cluster) crnk FROM pcc)
      |  WHERE crnk <= (SELECT scells FROM sbf)),
      |bf0c AS (SELECT probe_id, node FROM selc JOIN medo USING (cluster)
      |        WHERE node != probe_id),
      |bf0s AS (SELECT c.probe_id, c.node,
      |    round(list_sum(list_transform(list_zip(p.pe, n.embedding),
      |      z -> z[1]::DOUBLE * z[2]::DOUBLE)) / (p.pn * n.nrm), 4) AS cos
      |  FROM bf0c c JOIN probes p USING (probe_id)
      |             JOIN ve n ON n.vec_id = c.node),
      |bf0 AS MATERIALIZED (SELECT probe_id, node, cos FROM
      |    (SELECT *, row_number() OVER (PARTITION BY probe_id
      |       ORDER BY cos DESC, node) rn FROM bf0s) WHERE rn <= $bw),
      |$hops
      |SELECT probe_id, node AS neighbor_id, cos, CAST(rn AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
      |        ORDER BY cos DESC, node) rn FROM bf$Hops)
      |WHERE rn <= 5 ORDER BY probe_id, rnk""".stripMargin
  }

  /** Oracle for [[filteredGraphRecall]]: the FILTERED brute truth (the
    * q35 scan with the eligibility predicate on the candidate side)
    * plus the q219 chain verbatim, q39's left-join + floor scoring. */
  val filteredGraphRecallSql: String =
    Similarity.recallSql("filtered_graph", Similarity.evenLabelTruthCte,
      beamTopKFilteredSql)

  /** Oracle for [[maxSimGraphRerank]]: the q202 chain cut at the
    * registered R as the shortlist, then q208's MaxSim kernel CTEs
    * verbatim (4 sub-vectors, max-cosine per probe sub, summed in sub
    * order, round 4) and the final MaxSim rank. */
  val maxSimGraphRerankSql: String =
    s"""WITH short AS (SELECT probe_id, neighbor_id
      |  FROM (${beamTopKSqlAt(Similarity.RegisteredFixedR)}) q),
      |s AS (SELECT vec_id,
      |    list_transform(range(4), i ->
      |      embedding[i * 16 + 1 : i * 16 + 16]) AS sv,
      |    list_transform(range(4), i ->
      |      sqrt(list_sum(list_transform(embedding[i * 16 + 1 : i * 16 + 16],
      |        x -> x::DOUBLE * x::DOUBLE)))) AS sn
      |  FROM embeddings),
      |sub AS (SELECT sh.probe_id, sh.neighbor_id, i.range AS i,
      |    max(list_sum(list_transform(list_zip(p.sv[i.range + 1], n.sv[j.range + 1]),
      |      z -> z[1]::DOUBLE * z[2]::DOUBLE))
      |      / (p.sn[i.range + 1] * n.sn[j.range + 1])) AS mc
      |  FROM short sh JOIN s p ON p.vec_id = sh.probe_id
      |                JOIN s n ON n.vec_id = sh.neighbor_id
      |  CROSS JOIN range(4) i CROSS JOIN range(4) j
      |  GROUP BY sh.probe_id, sh.neighbor_id, i.range),
      |sc AS (SELECT probe_id, neighbor_id,
      |    round(list_sum(list(mc ORDER BY i)), 4) AS maxsim
      |  FROM sub GROUP BY probe_id, neighbor_id),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY probe_id
      |        ORDER BY maxsim DESC, neighbor_id) rnk FROM sc)
      |SELECT probe_id, neighbor_id, maxsim, CAST(rnk AS BIGINT) AS rnk
      |FROM rr WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** Oracle for [[graphRecall]]: the q35 and q202 oracles verbatim as
    * derived tables, scored with q39's left-join + floor arithmetic. */
  val graphRecallSql: String =
    Similarity.recallSql("graph_beam",
      s"""truth AS (SELECT probe_id, neighbor_id
         |               FROM (${Similarity.cosineTopKSql}) q)""".stripMargin,
      beamTopKSql)
}
