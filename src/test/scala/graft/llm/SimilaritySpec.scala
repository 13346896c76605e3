package graft.llm

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class SimilaritySpec extends SparkSpec {

  test("trained IVF: all cells probed equals brute force; default probing " +
    "clears 5000bp recall at a pinned <=15% scan fraction") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nProbe = kCells (= ⌈√N⌉ since r9) degenerates to brute force —
    // the correctness anchor
    val kc = math.ceil(math.sqrt(emb.count().toDouble)).toInt
    val ivfAll = Similarity.ivfTopK(emb, nProbe = kc).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfAll === brute)
    // the registered operating point (r8 judge Next #1): ⌈√N⌉ Lloyd
    // cells at 4 rounds, ⌈0.13·⌈√N⌉⌉ probed — must reach a USABLE
    // recall — ≥ 5000 bp, the measured one-stage frontier at this
    // budget on this fixture (PERF.md r9 sweep; the ≥ 9000 bp tier is
    // q178's two-stage refine) — while scanning ≤ 15% of the corpus
    val ivf = Similarity.ivfTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"trained IVF recall $recall below 5000bp")
    val (asg, cents) = Similarity.trainLloyd(emb)
    val candidates = Similarity.ivfCandidates(emb, asg, cents,
      nProbes = 10, nProbe = 0).count()
    val frac = candidates.toDouble / (10 * emb.count())
    assert(frac <= 0.15, s"scanned fraction $frac exceeds the probe budget")
    assert(frac >= 0.04, s"scanned fraction $frac implausibly small — " +
      "cell pruning may be dropping populated cells")
  }

  test("indexed IVF search (q175) equals the retrain path bit-for-bit") {
    val emb = Tables.embeddings(spark, sf)
    val retrain = Similarity.ivfTopK(emb).collect().toSeq
    val indexed = Similarity.ivfTopKIndexed(emb).collect().toSeq
    assert(indexed === retrain)
    assert(indexed.nonEmpty)
  }

  test("hard negatives (q177): triplets come from the kNN graph with " +
    "non-negative margins") {
    val emb = Tables.embeddings(spark, sf)
    val knn = Similarity.knnJoin(emb, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val out = Similarity.hardNegatives(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (anchor, posId, negId) = (r.getLong(0), r.getLong(1), r.getLong(3))
      // positive is the anchor's rank-1 neighbor, negative its rank-4
      assert(knn((anchor, 1L))._1 === posId)
      assert(knn((anchor, 4L))._1 === negId)
      assert(posId !== negId)
      // margin is non-negative: the positive is never farther than the
      // hard negative
      assert(r.getLong(5) >= 0L, s"negative margin for anchor $anchor")
    }
    // anchors lacking a rank-4 in-cell neighbor emit no triplet
    val withK = knn.keys.collect { case (a, 4L) => a }.toSet
    assert(out.map(_.getLong(0)).toSet === withK)
  }

  test("int8 quantization: scale, checksum, and reconstruction error") {
    import spark.implicits._
    // scale = 1/127; q = [127, -64 (half away from zero), 32, 0]
    val df = Seq((1L, Array(1.0f, -0.5f, 0.25f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(df).collect()(0)
    assert(math.abs(r.getDouble(1) - 1.0 / 127) < 1e-6)
    assert(r.getLong(2) === 95L) // 127 - 64 + 32 + 0
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1e-4)
  }

  test("dim stats report exact mean/var/min/max per dimension; dead dims show var 0") {
    import spark.implicits._
    // dim0: values 1,3 -> mean 2.0, var 1.0; dim1 constant 2 -> var 0
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.dimStats(df, dim = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out(0) === ((0L, 2L, 2000L, 1000000L, 1000L, 3000L)))
    assert(out(1) === ((1L, 2L, 2000L, 0L, 2000L, 2000L)))
  }

  test("cosine top-k neighbors are symmetric in similarity value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val a = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    val b = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0)
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      val d = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d / (math.sqrt(x.map(v => v.toDouble * v.toDouble).sum) *
        math.sqrt(y.map(v => v.toDouble * v.toDouble).sum))
    }
    assert(math.abs(cos(a, b) - cos(b, a)) < 1e-12)
  }

  test("LSH top-k with bits=0 equals brute force; bits>0 scans a fraction") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh0 = Similarity.lshTopK(emb, bits = 0, tables = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh0 === brute) // single bucket ⇒ exhaustive
    // the registered r8 operating point: 8 tables × 8 bits with
    // Hamming-1 multi-probe — the single-bit near-miss buckets recover
    // the recall an exact-bucket lookup loses on near-orthogonal
    // vectors (400 bp at r7's 4×8 exact point → ≥ 5000 bp here)
    val lsh = Similarity.lshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"multi-probe LSH recall $recall below 5000bp")
    // and exact-bucket probing (hamming = 0) still scans a smaller
    // candidate set than it ranks results from — the knob trades recall
    // for scan, it does not change semantics
    val lsh0ham = Similarity.lshTopK(emb, hamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((brute intersect lsh0ham).size <= (brute intersect lsh).size)
  }

  test("embedding near-dup pairs are within-label only") {
    val emb = Tables.embeddings(spark, sf)
    val pairs = Similarity.embeddingNearDup(emb, threshold = 0.3).collect()
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    pairs.foreach { r =>
      assert(labels(r.getLong(0)) === labels(r.getLong(1)))
    }
  }

  test("semantic dedup clusters near-identical embeddings transitively") {
    import spark.implicits._
    // v1≈v2≈v3≈v4 chain (cos ≈ 1), v8≈v9; v7 orthogonal to everything.
    // SemDeDup blocking is k-means in EMBEDDING space (label-free, the
    // paper's shape): 7 vectors → dynamic k = 1 → a single block, so the
    // pair stage sees every cosine ≥ 0.9 pair regardless of label.
    // vec_ids deliberately NOT dense from 0: the mod-k seeding must not
    // depend on id layout (a prefix-seeded init would be EMPTY here).
    val d = Seq(
      (1L, Array(1f, 0f, 0f), 1),
      (2L, Array(0.99f, 0.01f, 0f), 1),
      (3L, Array(0.98f, 0.02f, 0f), 1),
      (7L, Array(0f, 0f, 1f), 1),
      (4L, Array(1f, 0f, 0f), 2),
      (8L, Array(0f, 1f, 0f), 2),
      (9L, Array(0f, 0.99f, 0.01f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(d, threshold = 0.9, dim = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,3,4} one component (keeper = min id); {8,9} one component
    assert(out === Map(1L -> 4L, 8L -> 2L))
  }

  test("kNN join (q147): within-block top-k, no self-pairs, layout-invariant") {
    import spark.implicits._
    // 7 vectors → dynamic k = ceil(7/128) = 1 block, so every vector sees
    // all 6 others and the top-3 list is the EXACT cosine top-3. Sparse,
    // non-dense vec_ids exercise the layout-independent mod-k seeding.
    val d = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.99f, 0.01f, 0f)),
      (3L, Array(0.98f, 0.02f, 0f)),
      (7L, Array(0f, 0f, 1f)),
      (4L, Array(1f, 0f, 0f)),
      (8L, Array(0f, 1f, 0f)),
      (9L, Array(0f, 0.99f, 0.01f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnJoin(d, k = 3, dim = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // every vector emits exactly k rows, ranked 1..k, never itself
    val byVec = out.groupBy(_._1)
    assert(byVec.keySet === Set(1L, 2L, 3L, 4L, 7L, 8L, 9L))
    byVec.values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq === Seq(1L, 2L, 3L))
      assert(rows.forall(r => r._1 != r._2))
    }
    // v1's exact top-3 is its duplicate v4 (cos 1.0) then v2, v3;
    // ties broken by neighbor id (v4 before v2 needs cos order only)
    assert(byVec(1L).sortBy(_._4).map(_._2).toSeq === Seq(4L, 2L, 3L))
    // neighbor lists don't depend on physical layout
    val out2 = Similarity.knnJoin(d.repartition(5), k = 3, dim = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq === out2.toSeq)
  }

  test("PQ ADC (q82): k rows per probe, deterministic under repartitioning") {
    val emb = Tables.embeddings(spark, sf)
    val pq = Similarity.pqTopK(emb)
    val byProbe = pq.collect().groupBy(_.getLong(0))
    assert(byProbe.size === 10)
    assert(byProbe.values.forall(_.length === 5))
    // deterministic under repartitioning: decimal codebooks + per-row
    // encoding must not depend on the physical layout
    val pq2 = Similarity.pqTopK(emb.repartition(7))
    assert(pq.collect().toSeq === pq2.collect().toSeq)
    // the r9 per-subspace k=256 codebook must leave the r8 global-slice
    // codebook's 3400bp far behind (q39 tracks the exact number)
    val truth = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect approx).size.toDouble / truth.size
    assert(recall > 0.34, s"trained PQ recall $recall fell to/below the " +
      "r8 global-slice codebook's 3400bp")
  }

  test("PQ refine (q178): >=9000bp recall@5 at a <=15% exact-scan budget") {
    val emb = Tables.embeddings(spark, sf)
    val truth = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.pqRefine(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect refined).size.toDouble / truth.size
    // the production tier (VERDICT r8 Next #1): the two-stage search —
    // full compressed ADC scan, exact rerank of the top ⌈0.12·N⌉ —
    // reaches the >=9000bp recall no one-stage probe budget can on this
    // fixture; the exact-vector read fraction is 12% by construction
    assert(recall >= 0.9, s"pq_refine recall $recall below 9000bp")
  }

  test("served PQ refine (q183) equals the self-contained train+encode " +
    "path bit-for-bit, and the cache serves repeat calls") {
    val emb = Tables.embeddings(spark, sf)
    val selfContained = Similarity.pqRefine(emb).collect().toSeq
    val served = Similarity.pqRefineServed(emb, s"pq-spec-$sf").collect().toSeq
    assert(served === selfContained)
    // second call hits the session cache (same stored tables, same rows)
    val again = Similarity.pqRefineServed(emb, s"pq-spec-$sf").collect().toSeq
    assert(again === selfContained)
    assert(served.nonEmpty)
  }

  test("fixed-depth PQ refine (q185): a full-depth R degenerates to brute " +
    "force; the registered R keeps k rows per probe from the ADC top-R") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    // R >= N: the exact rerank covers the whole corpus == q35 brute force
    val full = Similarity.pqRefineFixed(emb, refineR = n).collect().toSeq
    val brute = Similarity.cosineTopK(emb).collect().toSeq
    assert(full === brute)
    // the registered absolute budget: k rows per probe, every neighbor
    // drawn from that probe's ADC top-60 shortlist
    val fixed = Similarity.pqRefineFixed(emb).collect()
    val byProbe = fixed.groupBy(_.getLong(0))
    assert(byProbe.size === 10)
    assert(byProbe.values.forall(_.length === 5))
    val cb = Similarity.trainPqCodebook(emb)
    val adcTop = Similarity.pqTopKWith(emb, cb, nProbes = 10, k = 60, m = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    fixed.foreach { r =>
      assert(adcTop((r.getLong(0), r.getLong(1))),
        s"neighbor ${r.getLong(1)} of probe ${r.getLong(0)} not in ADC top-60")
    }
  }

  // the generation store's shared contract, once per encoder; the q184,
  // q189 and q190 tests below keep only their tier's own assertions
  for ((tag, store) <- Seq("fp" -> Corpus.FpGen, "ivf" -> Similarity.IvfGen,
      "pq" -> Similarity.PqGen, "ivfpq" -> Similarity.IvfPqGen,
      "sq8" -> Similarity.Sq8Gen))
    test(s"generation store ($tag encoder): states g0..g3; gen0 is the " +
      "b=0 live set; entities unique and no tombstoned entity live at " +
      "any generation") {
      import org.apache.spark.sql.functions.{col, count, lit}
      val id = store.enc.id
      val source =
        if (id == "doc_id") Tables.documents(spark, sf)
        else Tables.embeddings(spark, sf)
      val band = store.band(source)
      // (ent, id, b, del) per arrival, on the driver
      val arrivals = band.select(col("ent"), col(id), col("b"), col("del"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue,
            r.getBoolean(3)))
      val root = Files.createTempDirectory(s"graft-genstore-$tag").toString
      try {
        store.lifecycleTo(root, band)
        assert(Similarity.nextGen(root) === 4)
        val states = store.audit(spark, root, Similarity.GenStates,
          Seq(count(lit(1)).as("n_rows"))).collect().map(_.getString(0))
        assert(states.toSeq === Seq("g0", "g1", "g2", "g3"))
        def stored(g: Int): Set[(Long, Long)] =
          spark.read.parquet(s"$root/gen$g").select(col("ent"), col(id))
            .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(stored(0) === arrivals.collect {
          case (e, i, 0, false) => (e, i)
        }.toSet, "gen0 must hold exactly the b=0 live set")
        for (g <- 0 to 3) {
          val rows = stored(g)
          assert(rows.map(_._1).size === rows.size,
            s"gen$g: an entity holds more than one vector")
          // an entity whose newest arrival at or before batch g is a
          // tombstone must be gone from generation g
          val tombstoned = arrivals.filter(_._3 <= g).groupBy(_._1)
            .collect { case (e, as) if as.maxBy(_._3)._4 => e }.toSet
          val live = rows.map(_._1) intersect tombstoned
          assert(live.isEmpty,
            s"gen$g: tombstoned entities live: ${live.take(5)}")
        }
      } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
    }

  test("generation store: nextGen fails fast, naming the root, when no " +
    "genN was seeded; gen3r is not a generation") {
    val root = Files.createTempDirectory("graft-nextgen").toString
    try {
      val e = intercept[IllegalArgumentException](Similarity.nextGen(root))
      assert(e.getMessage.contains(root))
      Seq("gen0", "gen1", "gen3r", "centroids_rt").foreach(d =>
        new java.io.File(s"$root/$d").mkdir())
      assert(Similarity.nextGen(root) === 2)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
  }

  test("vector-index lifecycle (q184): the drift trigger fires on integer " +
    "mean-distance growth only") {
    // the trigger itself: pure integer compare at the 120% default
    assert(!Similarity.retrainTrigger(100L, 100L))
    assert(!Similarity.retrainTrigger(120L, 100L)) // exactly 120% — hold
    assert(Similarity.retrainTrigger(121L, 100L))
    assert(Similarity.retrainTrigger(1L, 0L)) // degenerate zero baseline
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.vectorIndexLifecycle(emb).collect()
    out.foreach { r =>
      // the near-isotropic fixture does not drift: the g0-mean baseline
      // must hold within 20% at every generation
      assert(r.getLong(6) === 0L, s"${r.getString(0)}: spurious retrain")
    }
  }

  test("lifecycle retrain (q188): only the drifted generation fires the " +
    "trigger; the retrained store recovers baseline-scale error over " +
    "the same live set") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.vectorIndexRetrain(emb).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("g0", "g1", "g2", "g3", "g3r"))
    val byState = out.map(r => r.getString(0) -> r).toMap
    assert(byState("g3").getLong(6) === 1L, "drifted g3 must fire")
    Seq("g0", "g1", "g2", "g3r").foreach(s =>
      assert(byState(s).getLong(6) === 0L, s"spurious trigger at $s"))
    // the retrain leg actually recovers: post-retrain quantization error
    // back under the 120% threshold vs the pre-drift baseline (the
    // retrained cells separate the drifted population — a constant
    // offset moves the geometry, it doesn't spread it)
    assert(byState("g3r").getLong(5) * 100L <=
      byState("g0").getLong(5) * 120L, "retrain did not recover")
    // retrain re-indexes the live set, it does not re-ingest: same rows,
    // same entities as the generation that fired
    assert(byState("g3r").getLong(1) === byState("g3").getLong(1))
    assert(byState("g3r").getLong(2) === byState("g3").getLong(2))
  }

  test("SQ8 retrain (q231): the drifted generation fires, the re-pack " +
    "leaves the packed bytes invariant, and the retrained store " +
    "recovers baseline-scale assignment error") {
    val emb = Tables.embeddings(spark, sf)
    // columns: state, n_rows, n_ents, n_cells, checksum, nsq_sum,
    // mean_dist, retrain
    val out = Similarity.sq8IndexRetrain(emb).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("g0", "g1", "g2", "g3", "g3r"))
    val byState = out.map(r => r.getString(0) -> r).toMap
    assert(byState("g3").getLong(7) === 1L, "drifted g3 must fire")
    Seq("g0", "g1", "g2", "g3r").foreach(s =>
      assert(byState(s).getLong(7) === 0L, s"spurious trigger at $s"))
    // the stored audit term is consistent with the fired trigger
    assert(byState("g3").getLong(6) * 100L >
      byState("g0").getLong(6) * 120L, "g3 mean_dist under threshold")
    // post-retrain error back under the 120% threshold vs the pre-drift
    // baseline (the retrained cells separate the drifted population)
    assert(byState("g3r").getLong(6) * 100L <=
      byState("g0").getLong(6) * 120L, "retrain did not recover")
    // the re-pack is BYTE-INVARIANT: pack is per-row deterministic
    // given vectors, so the summed int64 self-dots — the pack-sensitive
    // term — must carry through the retrain unchanged, while the
    // assignment side (clusters) re-derives against the new codebook
    assert(byState("g3r").getLong(5) === byState("g3").getLong(5),
      "retrain must not change packed bytes")
    // retrain re-indexes the live set, it does not re-ingest
    assert(byState("g3r").getLong(1) === byState("g3").getLong(1))
    assert(byState("g3r").getLong(2) === byState("g3").getLong(2))
  }

  test("binary tier (q236/q238): R=corpus degenerates to brute force; " +
    "signature words stay below 2^32; served store equals recompute; " +
    "the fixed-R point clears a usable recall floor") {
    val emb = Tables.embeddings(spark, sf)
    val sigs = Similarity.bqSigned(emb)
    // the two-word overflow-free claim: every packed word < 2^32, so
    // the oracle's BIGINT fold can never throw and Java never wraps
    val mx = sigs.agg(org.apache.spark.sql.functions.greatest(
      org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("lo")),
      org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("hi")))).head().getLong(0)
    assert(mx >= 0L && mx < (1L << 32), s"signature word out of range: $mx")
    // correctness anchor: shortlist = whole corpus ==> exact brute force
    val n = emb.count().toInt
    val brute = Similarity.cosineTopK(emb).collect().toSeq
    val all = Similarity.bqRefineFrom(sigs, emb, 10, 5, n).collect().toSeq
    assert(all === brute, "R=corpus binary refine != brute force")
    // store ≡ recompute (q238's contract)
    val served = Similarity.bqServed(emb, s"bqspec-$sf").collect().toSeq
    val fresh = Similarity.bqRefineTopK(emb).collect().toSeq
    assert(served === fresh, "served binary index != fresh recompute")
    // the registered R=60 operating point must stay USABLE — ≥ 5000 bp
    // at spec SF (measured 8400 bp at sf0.001, 7000 at sf0.01; the
    // fixed-R fraction shrinks with N, so this is a fixture-scale pin,
    // not a scale claim — q237 is the measured number)
    val recall = Similarity.bqRecall(emb).head().getLong(3)
    assert(recall >= 5000L, s"binary refine recall $recall below 5000bp")
  }

  /** The window formulation the binary tier's folds replaced, kept as
    * their parity reference: a broadcast nested-loop Hamming join ranked
    * by `row_number`, the widened budget as a broadcast aggregate, and a
    * second `row_number` over the rescored shortlist. Probe words come
    * from `bqSigned`, the stored signatures' rule. */
  private def windowRefine(sigs: DataFrame, probeF: DataFrame,
                           embeddings: DataFrame, k: Int, baseR: Int,
                           pred: Option[Column] = None,
                           widen: Option[Column] = None): DataFrame = {
    val psig = Similarity.bqSigned(probeF.select(col("probe_id").as("vec_id"),
        col("pe").as("embedding"), lit(0).as("label")))
      .select(col("vec_id").as("probe_id"), col("lo").as("plo"),
        col("hi").as("phi"))
    val wh = Window.partitionBy(col("probe_id"))
      .orderBy(col("ham"), col("vec_id"))
    val ranked = pred.map(sigs.filter).getOrElse(sigs)
      .join(broadcast(psig), col("vec_id") =!= col("probe_id"))
      .withColumn("ham",
        (bit_count(col("plo").bitwiseXOR(col("lo"))) +
          bit_count(col("phi").bitwiseXOR(col("hi")))).cast("long"))
      .withColumn("rn", row_number().over(wh))
    val short = widen.fold(ranked.filter(col("rn") <= baseR)) { w =>
        ranked.crossJoin(broadcast(embeddings.agg(
            ceil(lit(baseR.toDouble) * w).cast("long").as("rlim"))))
          .filter(col("rn") <= col("rlim"))
      }
      .select(col("probe_id"), col("vec_id"))
    val base = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.l2norm(col("embedding")).as("nrm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    base.join(broadcast(short), "vec_id")
      .join(broadcast(probeF.select(col("probe_id"), col("pe"),
        col("pn"))), "probe_id")
      .withColumn("cos", round(Similarity.dot(col("pe"), col("embedding")) /
        (col("pn") * col("nrm")), 4))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** (vec_id, embedding, label) rows with nullable float elements. */
  private def planted(rows: (Long, Seq[java.lang.Float], Int)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map {
        case (id, e, l) => Row(id, e, l)
      }: _*),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))

  test("binary tier folds equal the window formulation on planted frames: " +
    "Hamming tie at the R-th slot, 4-dp cos tie at the k-th, own id in " +
    "the corpus, R >= corpus, a pred under R, widen, null elements and " +
    "zero norms") {
    def v(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    // probe 0 is (1,1,1,1) and sits in the corpus. Against it, id 5 is
    // at Hamming 0; ids 1–4 and 8 tie at 1, so R = 3 keeps 1 and 2 by
    // vec_id. Ids 1 and 2 tie at cos 0.5000 only after rounding, and
    // id 2's unrounded cos is the larger, so k = 2 keeps id 1. Id 8
    // carries a null element (a 0 sign bit, a null cos that ranks
    // last). Labels leave 0, 2, 4 and 6 eligible under the even pred,
    // so widen doubles R.
    val emb = planted(
      (0L, v(1f, 1f, 1f, 1f), 0),
      (1L, v(1f, 1f, 1f, -1.00001f), 1),
      (2L, v(2f, 2f, 2f, -2f), 2),
      (3L, v(1f, 1f, -1f, 1f), 3),
      (4L, v(1f, -1f, 1f, 1f), 4),
      (5L, v(3f, 1f, 1f, 1f), 5),
      (6L, v(1f, 1f, -1f, -1f), 6),
      (7L, v(-1f, -1f, -1f, -1f), 7),
      (8L, v(1f, null, 1f, 1f), 9))
    val probes = Similarity.probesOf(planted(
      (0L, v(1f, 1f, 1f, 1f), 0),
      (100L, v(-1f, 1f, -1f, 1f), 0),
      (101L, v(1f, null, -1f, 1f), 0)))
    val sigs = Similarity.bqSigned(emb)
    val even = Some(col("label") % 2 === 0)
    def both(k: Int, r: Int, pred: Option[Column] = None,
             widen: Option[Column] = None): Seq[Row] = {
      val ref = windowRefine(sigs, probes, emb, k, r, pred, widen)
      val got = Similarity.bqRefineWith(sigs, probes, emb, k, r, pred, widen)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        ref.schema.map(f => f.name -> f.dataType))
      val rows = got.collect().toSeq
      assert(rows === ref.collect().toSeq, s"k=$k R=$r pred=$pred widen=$widen")
      rows
    }
    def of(rows: Seq[Row], probe: Long): Seq[Long] =
      rows.filter(_.getLong(0) == probe).map(_.getLong(1))
    assert(of(both(2, 3), 0L) === Seq(5L, 1L))
    val all = both(9, 50)
    assert(of(all, 0L).length === 8 && of(all, 0L).last === 8L,
      "R >= corpus keeps every other row; the null cos ranks last")
    assert(all.filter(_.getLong(0) == 101L).forall(_.isNullAt(2)),
      "a probe with a null element scores null")
    assert(of(both(5, 5, even), 0L) === Seq(2L, 4L, 6L))
    assert(of(both(5, 2, even, Some(Similarity.evenLabelWiden)), 0L) ===
      Seq(2L, 4L, 6L))
    // a zero norm: both formulations divide by zero the same way (an
    // error under ANSI, else a null cos)
    val zero = planted((0L, v(1f, 1f, 1f, 1f), 0), (1L, v(0f, 0f, 0f, 0f), 0))
    val zs = Similarity.bqSigned(zero)
    val zp = Similarity.probesFrame(zero, 1)
    def outcome(f: => DataFrame) = scala.util.Try(f.collect().toSeq).toOption
    assert(outcome(Similarity.bqRefineWith(zs, zp, zero, 5, 60)) ===
      outcome(windowRefine(zs, zp, zero, 5, 60)))
  }

  test("binary tier stream leg: a warm bqSearchStreamBatch call on a " +
    "local 8-probe batch runs at most 3 jobs (shortlist, rerank, write)") {
    val emb = Tables.embeddings(spark, sf)
    val local = emb.filter(col("vec_id") < 8).select("vec_id", "embedding")
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(local.collect(): _*), local.schema)
    val out = Files.createTempDirectory("graft_bqjobs_").toString
    try {
      val serve = Similarity.bqSearchStreamBatch(emb, s"bqjobs-$sf", out) _
      serve(batch, 0L) // builds the stored index
      val jobs = jobsOf(serve(batch, 1L))
      assert(jobs <= 3, s"one probe micro-batch ran $jobs jobs (bound 3)")
      assert(spark.read.parquet(out).count() === 2 * 8 * 5)
      assert(new java.io.File(out).list().count(_.startsWith("part-")) === 2,
        "one file per micro-batch")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(out))
  }

  test("SQ8 LSM store (q232): ingest never touches the packed base; " +
    "compaction preserves the served view including the packed bytes") {
    val emb = Tables.embeddings(spark, sf)
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_sq8lsmspec_").toString
    try {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      def baseFiles(): Map[String, (Long, Long)] =
        walk(new java.io.File(s"$scratch/base"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
      var atG0: Map[String, (Long, Long)] = Map.empty
      var atG3: Map[String, (Long, Long)] = Map.empty
      // columns: state, n_rows, n_ents, n_cells, n_delta, compacted,
      // checksum, nsq_sum
      val out = Similarity.sq8LsmIndexTo(emb, scratch, {
        case "g0" => atG0 = baseFiles()
        case "g3" => atG3 = baseFiles()
        case _    => ()
      }).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
      // three generations of ingest wrote ONLY delta segments
      assert(atG0.nonEmpty && atG3 === atG0,
        "a delta generation rewrote the packed base segment")
      // compaction fired at g3 (6% > 5%) and preserved the view exactly
      // — including the pack-sensitive nsq sum: compaction moves rows,
      // never re-packs bytes
      assert(out.keySet === Set("g0", "g1", "g2", "g3", "g3c"))
      val (g3, g3c) = (out("g3"), out("g3c"))
      assert(g3c._1 === g3._1 && g3c._2 === g3._2 && g3c._3 === g3._3 &&
        g3c._6 === g3._6 && g3c._7 === g3._7,
        "compaction changed the served view")
      assert(g3c._4 === 0L && g3c._5 === 1L)
      assert(g3._4 > 0L && g3._5 === 0L)
      assert(!new java.io.File(s"$scratch/delta1").exists())
      val compacted = spark.read.parquet(s"$scratch/base_c3")
      assert(compacted.count() === g3._1)
      val tombstoned = compacted.collect().map(_.getAs[Long]("ent"))
        .filter(e => e % 3 == 0 && Set(1L, 2L, 3L, 4L)(e % 100))
      assert(tombstoned.isEmpty,
        s"tombstoned entities survived compaction: ${tombstoned.take(5).toSeq}")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(scratch))
  }

  test("PQ-index lifecycle (q189): 16 encoding rows per vector; the " +
    "isotropic fixture never fires the PQ drift signal") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.pqIndexLifecycle(emb).collect()
    out.foreach { r =>
      // 16 encoding rows per live vector
      assert(r.getLong(1) === 16L * r.getLong(2),
        s"${r.getString(0)}: rows != 16 x vecs")
      // no drift on this fixture: arrivals come from the same
      // distribution the frozen codebook was trained on
      assert(r.getLong(6) === 0L, s"${r.getString(0)}: spurious PQ retrain")
    }
  }

  test("composed-index lifecycle (q190): inverted-list row shape at " +
    "every generation; neither drift signal fires on the isotropic " +
    "fixture") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.ivfPqIndexLifecycle(emb).collect()
    val live0 = emb.filter(org.apache.spark.sql.functions.expr(
      "vec_id % 4 = 0 AND vec_id % 7 != 0")).count()
    val kCells = math.ceil(math.sqrt(live0.toDouble)).toLong
    out.foreach { r =>
      // the serving tier's row shape: 16 cell-labeled encode rows per
      // vector, cells within the trained budget
      assert(r.getLong(1) === 16L * r.getLong(2),
        s"${r.getString(0)}: rows != 16 x vecs")
      assert(r.getLong(4) <= kCells,
        s"${r.getString(0)}: more occupied cells than the frozen codebook")
      assert(r.getLong(8) === 0L, s"${r.getString(0)}: spurious IVF retrain")
      assert(r.getLong(9) === 0L, s"${r.getString(0)}: spurious PQ retrain")
    }
  }

  test("a q190 generation IS the serving layout: gen3 promoted by a " +
    "projection + partitionBy(cluster) rewrite serves identically to " +
    "an unpartitioned copy of the same rows") {
    // the q190 scaladoc's promotion claim, proven: the lifecycle's
    // generation rows carry exactly the serving store's inverted-list
    // schema, and the cell-partitioned rewrite loses nothing to the
    // partition-pruned serve read (the pruning-correctness risk)
    val emb = Tables.embeddings(spark, sf)
    val root = Files.createTempDirectory("graft-promote").toString
    try {
      Similarity.ivfPqLifecycleTo(emb, root)
      val gen3 = spark.read.parquet(s"$root/gen3")
        .select("vec_id", "m", "cw", "cluster")
      gen3.write.partitionBy("cluster").parquet(s"$root/invlists")
      val probes = Similarity.probesFrame(emb, 10)
      val served = Similarity.ivfPqServeRoot(root, probes, emb, k = 5)
        .collect().toSeq
      // reference: identical rows, flat (unpartitioned) layout — the
      // serve plan's semantics must not depend on the physical layout
      val floot = Files.createTempDirectory("graft-promote-flat").toString
      try {
        gen3.write.parquet(s"$floot/invlists")
        for (t <- Seq("centroids", "codebook"))
          spark.read.parquet(s"$root/$t").write.parquet(s"$floot/$t")
        val flat = Similarity.ivfPqServeRoot(floot, probes, emb, k = 5)
          .collect().toSeq
        assert(served === flat)
      } finally graft.FsUtil.deleteRecursively(new java.io.File(floot))
      // and the production BUCKETED block-file layout (r16): same rows
      // promoted through CellStore.write serve identically again —
      // cluster-partitioned, flat and bucketed are interchangeable
      val broot = Files.createTempDirectory("graft-promote-bkt").toString
      try {
        for (t <- Seq("centroids", "codebook"))
          spark.read.parquet(s"$root/$t").write.parquet(s"$broot/$t")
        CellStore.write(gen3,
          CellStore.bucketCount(
            spark.read.parquet(s"$broot/centroids").count()),
          s"$broot/invlists")
        val bucketed = Similarity.ivfPqServeRoot(broot, probes, emb, k = 5)
          .collect().toSeq
        assert(served === bucketed)
      } finally graft.FsUtil.deleteRecursively(new java.io.File(broot))
      assert(served.nonEmpty)
      // the served neighbors come from the generation's live set alone
      val live = spark.read.parquet(s"$root/gen3")
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(served.forall(r => live(r.getLong(1))),
        "serve leaked a vector outside the promoted generation")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
  }

  test("PQ retrain (q191): only the drifted generation fires; the " +
    "retrained codebook recovers baseline-scale reconstruction error " +
    "over the same live set") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.pqIndexRetrain(emb).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("g0", "g1", "g2", "g3", "g3r"))
    val byState = out.map(r => r.getString(0) -> r).toMap
    assert(byState("g3").getLong(6) === 1L, "drifted g3 must fire")
    Seq("g0", "g1", "g2", "g3r").foreach(s =>
      assert(byState(s).getLong(6) === 0L, s"spurious trigger at $s"))
    // recovery is not marginal: the retrained codebook has seen both
    // populations, so g3r's error collapses back to gen-0 scale while
    // g3's carries the drifted arrivals' misfit
    assert(byState("g3r").getLong(5) < byState("g3").getLong(5),
      "retrain did not reduce reconstruction error")
    assert(byState("g3r").getLong(5) * 100L <=
      byState("g0").getLong(5) * 150L,
      "post-retrain error not at baseline scale")
    // retrain re-encodes the live set, it does not re-ingest
    assert(byState("g3r").getLong(1) === byState("g3").getLong(1))
    assert(byState("g3r").getLong(3) === byState("g3").getLong(3))
  }

  test("IVF-PQ hybrid (q186): all cells probed + full-depth refine " +
    "degenerates to brute force; the registered point prunes the ADC " +
    "scan to the compressed budget; serve leg (q187) equals it") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val kc = math.ceil(math.sqrt(n.toDouble)).toInt
    // correctness anchor: probe EVERY cell and refine the whole corpus
    // == q35 brute force (the composition loses nothing by itself)
    val all = Similarity.ivfPqTopK(emb, nProbe = kc, refineR = n)
      .collect().toSeq
    val brute = Similarity.cosineTopK(emb).collect().toSeq
    assert(all === brute)
    // the registered point: 5 rows per probe, recall bounded by cell
    // coverage (measured 9000bp sf0.01 / 7000bp sf0.1 — PERF.md r11)
    val out = Similarity.ivfPqTopK(emb).collect()
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.size === 10)
    assert(byProbe.values.forall(_.length === 5))
    val truth = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.6, s"hybrid recall $recall below the measured floor")
    // the whole point vs flat PQ (q183's corpus-linear ADC scan): the
    // hybrid's ADC candidates stay within the compressed probe budget
    val (asg, cents) = Similarity.trainLloyd(emb)
    val cand = Similarity.ivfCandidates(emb, asg, cents, nProbes = 10,
      nProbe = 0, frac = Similarity.IvfPqProbeFrac).count()
    val frac = cand.toDouble / (10.0 * n)
    assert(frac <= 0.50, s"compressed-scan fraction $frac exceeds budget")
    assert(frac >= 0.15, s"compressed-scan fraction $frac implausibly " +
      "small — cell pruning may be dropping populated cells")
    // the serve leg: stored composed index ≡ self-contained, twice
    // (second call must hit the session cache)
    val served = Similarity.ivfPqServed(emb, s"ivfpq-spec-$sf").collect().toSeq
    assert(served === out.toSeq)
    val again = Similarity.ivfPqServed(emb, s"ivfpq-spec-$sf").collect().toSeq
    assert(again === out.toSeq)
  }

  test("k-means Lloyd (q88): partitions every vector; layout-invariant") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.kmeansLloyd(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // every vector lands in exactly one cluster
    assert(a.map(_._2).sum === emb.count())
    // integer-quantized distances + floor(sum/count) centroids must make
    // the whole trajectory independent of physical layout
    val b = Similarity.kmeansLloyd(emb.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(a === b)
    // a second Lloyd round can only tighten (or keep) the assignment
    // inertia measured against the round-1 centroids
    val one = Similarity.kmeansLloyd(emb, iters = 1).collect()
      .map(r => r.getLong(2)).sum
    val two = a.map(_._3).sum
    assert(two <= one, s"inertia rose across rounds: $one -> $two")
  }

  test("ann recall (q39) equals recall computed from the raw top-k frames") {
    val emb = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.cosineTopK(emb))
    val expected = Map(
      "ivf_label" -> pairs(Similarity.ivfLabelTopK(emb)),
      "ivf_trained" -> pairs(Similarity.ivfTopK(emb)),
      "pq_adc" -> pairs(Similarity.pqTopK(emb)),
      "pq_refine" -> pairs(Similarity.pqRefine(emb)),
      "srp_lsh" -> pairs(Similarity.lshTopK(emb)))
    val got = Similarity.annRecall(emb).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (m, approx) =>
      val hits = (truth intersect approx).size.toLong
      val bp = math.floor(10000.0 * hits / truth.size).toLong
      assert(got(m) === ((truth.size.toLong, hits, bp)), s"method $m")
    }
    // the whole point of the r8 retrain: the trained index must be
    // MATERIALLY above the untrained baseline and above the usability bar
    assert(got("ivf_trained")._3 >= 5000L,
      s"trained IVF recall ${got("ivf_trained")._3}bp below usable")
    assert(got("ivf_trained")._3 > got("ivf_label")._3,
      "trained IVF does not beat the label-mean baseline")
  }

  test("lsm vector index (q193): ingest never touches the base segment; " +
      "compaction preserves the served view") {
    val emb = Tables.embeddings(spark, sf)
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_lsmspec_").toString
    try {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      def baseFiles(): Map[String, (Long, Long)] =
        walk(new java.io.File(s"$scratch/base"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
      var atG0: Map[String, (Long, Long)] = Map.empty
      var atG3: Map[String, (Long, Long)] = Map.empty
      val out = Similarity.lsmVectorIndexTo(emb, scratch, {
        case "g0" => atG0 = baseFiles()
        case "g3" => atG3 = baseFiles()
        case _    => ()
      }).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
      // the LSM contract: three generations of ingest wrote ONLY delta
      // segments — the base segment's files are byte-identical
      assert(atG0.nonEmpty && atG3 === atG0,
        "a delta generation rewrote the base segment")
      // compaction fired at g3 (6% > 5%) and preserved the view exactly
      assert(out.keySet === Set("g0", "g1", "g2", "g3", "g3c"))
      val (g3, g3c) = (out("g3"), out("g3c"))
      assert(g3c._1 === g3._1 && g3c._2 === g3._2 && g3c._3 === g3._3 &&
        g3c._6 === g3._6, "compaction changed the served view")
      assert(g3c._4 === 0L && g3c._5 === 1L)
      assert(g3._4 > 0L && g3._5 === 0L)
      // deltas are gone; the compacted base is the whole index, with
      // every tombstoned entity really dropped
      assert(!new java.io.File(s"$scratch/delta1").exists())
      val compacted = spark.read.parquet(s"$scratch/base_c3")
      assert(compacted.count() === g3._1)
      val tombstoned = compacted.collect().map(_.getAs[Long]("ent"))
        .filter(e => e % 3 == 0 && Set(1L, 2L, 3L, 4L)(e % 100))
      assert(tombstoned.isEmpty,
        s"tombstoned entities survived compaction: ${tombstoned.take(5).toSeq}")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(scratch))
  }

  // one body, every codec: the segment numbering and the second
  // compaction cycle are store mechanics the tiers share
  for (store <- Seq(Similarity.FlatLsm, Similarity.Sq8Lsm,
      Similarity.ComposedLsm))
    test(s"lsm ingest survives a SECOND compaction cycle " +
        s"(${store.codec.tag} codec): segment numbers never collide with " +
        "the compacted base and no arrivals are lost") {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(spark, sf)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_${store.codec.tag}2c_").toString
      try {
        // cycle 1: the batch lifecycle ends compacted into base_c3
        store.indexTo(emb, root, _ => ())
        assert(new java.io.File(s"$root/base_c3").exists())
        // cycle 2: three more ingest batches driven directly through the
        // stream step — the same bands re-arriving with a deeper drift
        def arrivals(g: Int) = store.codec
          .arrivals(emb.filter(
            col("vec_id") % 100 === g || col("vec_id") % 100 === 4), g + 3)
          .withColumn("del", col("vec_id") % 3 === 0)
        for (g <- 1 to 3) store.ingest(root, arrivals(g))
        // deltas numbered ABOVE the base index (4, 5, 6); the second
        // compaction landed in base_c6, not on top of base_c3
        assert(new java.io.File(s"$root/base_c6").exists(),
          "second compaction did not land above the current base index")
        assert(!new java.io.File(s"$root/delta4").exists() &&
          !new java.io.File(s"$root/delta1").exists(),
          "second compaction did not clear its delta segments")
        // entity accounting: final base = base_c3's entities, minus the
        // cycle's tombstones, with re-arrived live entities retained
        val before = spark.read.parquet(s"$root/base_c3")
          .select(col("ent")).distinct().collect().map(_.getLong(0)).toSet
        val arr = (1 to 3).flatMap(g => arrivals(g)
          .select(col("ent"), col("del")).collect()
          .map(r => (r.getLong(0), r.getBoolean(1), g)))
        val lastState = arr.groupBy(_._1)
          .map { case (e, rows) => e -> rows.maxBy(_._3)._2 }
        val expected =
          (before -- lastState.keySet) ++ lastState.filter(!_._2).keys
        val after = spark.read.parquet(s"$root/base_c6")
          .select(col("ent")).distinct().collect().map(_.getLong(0)).toSet
        assert(after === expected,
          "second compaction lost or revived entities")
      } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
    }

  test("lsm composed index (q196): ingest never touches the base; " +
      "compaction preserves view AND encodings; tombstones drop") {
    val emb = Tables.embeddings(spark, sf)
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_lsmcspec_").toString
    try {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      def baseFiles(): Map[String, (Long, Long)] =
        walk(new java.io.File(s"$scratch/base"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
      var atG0: Map[String, (Long, Long)] = Map.empty
      var atG3: Map[String, (Long, Long)] = Map.empty
      val out = Similarity.lsmComposedIndexTo(emb, scratch, {
        case "g0" => atG0 = baseFiles()
        case "g3" => atG3 = baseFiles()
        case _    => ()
      }).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
      assert(atG0.nonEmpty && atG3 === atG0,
        "a composed delta generation rewrote the base segment")
      assert(out.keySet === Set("g0", "g1", "g2", "g3", "g3c"))
      val (g3, g3c) = (out("g3"), out("g3c"))
      // compaction preserves rows/ents/cells AND both checksums — the
      // coarse one and the positional codeword one (the encodings
      // survive the fold bit-for-bit)
      assert(g3c._1 === g3._1 && g3c._2 === g3._2 && g3c._3 === g3._3 &&
        g3c._6 === g3._6 && g3c._7 === g3._7,
        "compaction changed the served composed view")
      assert(g3c._4 === 0L && g3c._5 === 1L)
      assert(g3._4 > 0L && g3._5 === 0L)
      assert(!new java.io.File(s"$scratch/delta1").exists())
      // the compacted base carries the full composed row shape (plus
      // the r16 bucketed layout's partition column and the r17
      // co-stored filterable label — compaction must not drop it)
      val comp = spark.read.parquet(s"$scratch/base_c3")
      assert(comp.columns.toSet ===
        Set("ent", "vec_id", "cluster", "dist", "qe", "cws", "label",
          "bucket"))
      assert(comp.count() === g3._1)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(scratch))
  }

  test("lsm composed serve (q197): mid-lifecycle ADC+refine answers " +
      "reflect revisions and tombstones; shape is per-probe top-5") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.lsmComposedServed(emb)
    val rows = out.collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size === 10)
    assert(byProbe.values.forall(_.length === 5))
    // tombstoned entities of the two live bands must be invisible:
    // vec_id % 3 == 0 arrivals in bands {1, 2, 4} were deleted
    val dead = rows.map(_.getLong(1))
      .filter(v => v % 3 == 0 && Set(1L, 2L, 4L)(v % 100))
    assert(dead.isEmpty,
      s"tombstoned entities served as neighbors: ${dead.take(5).toSeq}")
    // determinism: a second self-contained run rebuilds bit-for-bit
    assert(Similarity.lsmComposedServed(emb).collect().toSeq === rows.toSeq)
    // sanity of the refine stage: cosines are valid and descending
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val cos = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    }
    assert(out.columns.toSeq ===
      Seq("probe_id", "neighbor_id", "cos", "rnk"))
  }

  test("lsm composed serve split (q198): ServedRoots store serves " +
      "q197's answer bit-for-bit, twice") {
    val emb = Tables.embeddings(spark, sf)
    val self = Similarity.lsmComposedServed(emb).collect().toSeq
    val served =
      Similarity.lsmComposedServeSplit(emb, s"lsmc-spec-$sf").collect().toSeq
    assert(served === self)
    val again =
      Similarity.lsmComposedServeSplit(emb, s"lsmc-spec-$sf").collect().toSeq
    assert(again === self)
  }

  test("lsm serve split (q195): ServedRoots store serves q194's answer " +
      "bit-for-bit, twice (second call hits the session cache)") {
    val emb = Tables.embeddings(spark, sf)
    val self = Similarity.lsmServedTopK(emb).collect().toSeq
    val served = Similarity.lsmServed(emb, s"lsm-spec-$sf").collect().toSeq
    assert(served === self)
    val again = Similarity.lsmServed(emb, s"lsm-spec-$sf").collect().toSeq
    assert(again === self)
  }
  test("filtered ANN (q204): only eligible neighbors, self-widened probe " +
      "budget restores the unfiltered tier's recall against filtered truth") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.ivfTopKFiltered(emb).localCheckpoint()
    assert(r.count() === 50)
    // the predicate holds on every returned neighbor
    val lbl = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    assert(r.join(lbl, "neighbor_id").filter(col("label") % 2 =!= 0).isEmpty,
      "an odd-label neighbor leaked through the filter")
    // filtered brute truth: unfiltered probes, eligible candidates only
    val base = emb.select(col("vec_id"), col("embedding"), col("label"),
      Similarity.l2norm(col("embedding")).as("nrm"))
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("nrm").as("pn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = base.filter(col("label") % 2 === 0)
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(Similarity.dot(col("pe"), col("embedding")) /
        (col("pn") * col("nrm")), 4))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val got = r.select(col("probe_id"), col("neighbor_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    // measured 7000 bp at this fixture with the 1/selectivity widening
    // (PERF.md r12); 4000 bp without it — the floor pins the widening
    assert(recall >= 0.55, s"filtered recall $recall below 5500 bp")
  }

  test("MaxSim (q205): identical vectors score exactly 4.0, and the " +
      "registered output keeps the rank contract") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // kernel anchor: a duplicate pair scores sum over 4 facets of 1.0
    val vec = (1 to 64).map(i => (i % 7 + 1).toFloat)
    val two = Seq((0L, vec), (1L, vec)).toDF("vec_id", "embedding")
    val anchor = Similarity.maxSimTopK(two, nProbes = 1, k = 1).collect()
    assert(anchor.length === 1 && anchor(0).getDouble(2) === 4.0)
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.maxSimTopK(emb).localCheckpoint()
    assert(r.count() === 50)
    assert(r.filter(col("neighbor_id") === col("probe_id")).isEmpty)
    assert(r.filter(col("maxsim") > 4.0 || col("maxsim") < -4.0).isEmpty)
    // maxsim is non-increasing in rnk within each probe
    val a = r.select(col("probe_id"), col("rnk"), col("maxsim"))
    val b = r.select(col("probe_id"), (col("rnk") - 1).as("rnk"),
      col("maxsim").as("nxt"))
    assert(a.join(b, Seq("probe_id", "rnk"))
      .filter(col("maxsim") < col("nxt")).isEmpty)
  }

  test("SQ8 pack/dot kernels: scale anchor, symmetry, and recall " +
    "floor (q213/q214)") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.{int8Dot, int8Pack}
    val emb = Tables.embeddings(spark, sf)
    val packed = emb.select(col("vec_id"),
        int8Pack(col("embedding")).as("b8"))
      .withColumn("nsq", int8Dot(col("b8"), col("b8")))
      .localCheckpoint()
    // every packed vector is dim bytes and (unless all-zero) saturates
    // the scale: max |byte| == 127 by the max|x|/127 rule (checked on
    // a driver-side sample — binary has no array<byte> cast)
    assert(packed.filter(length(col("b8")) =!= 64).isEmpty,
      "packed length != dim")
    packed.limit(20).collect().foreach { r =>
      val bs = r.getAs[Array[Byte]]("b8")
      val mx = bs.map(b => math.abs(b.toInt)).max
      assert(r.getLong(2) == 0L || mx == 127,
        s"non-zero packed vector saturates at $mx, not 127")
    }
    // self-dot positivity and symmetry of the byte kernel
    val pair = packed.limit(2).collect()
    if (pair.length == 2) {
      val d1 = packed.as("a").crossJoin(packed.as("b"))
        .filter(col("a.vec_id") === pair(0).getLong(0) &&
          col("b.vec_id") === pair(1).getLong(0))
        .select(int8Dot(col("a.b8"), col("b.b8"))).head().getLong(0)
      val d2 = packed.as("a").crossJoin(packed.as("b"))
        .filter(col("a.vec_id") === pair(1).getLong(0) &&
          col("b.vec_id") === pair(0).getLong(0))
        .select(int8Dot(col("a.b8"), col("b.b8"))).head().getLong(0)
      assert(d1 === d2, "byte dot is not symmetric")
    }
    // 8-bit truncation costs little recall on the fixture
    val r = Similarity.sq8Recall(emb).head()
    assert(r.getLong(3) >= 9000,
      s"sq8 recall ${r.getLong(3)} bp below the 9000 floor")
  }

  test("corpusKey memo (r18): identical (plan, files) reuses the cached " +
    "aggregate; a corpus REWRITTEN under the same path changes the key") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ckmemo_").toString
    try {
      spark.range(0, 100).select(col("id").as("vec_id"),
          array(lit(0.5), lit(1.0)).as("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      def df = spark.read.parquet(dir)
      val k1 = Similarity.corpusKey(df, "vec_id", "ckspec", Similarity.embSig)
      val size1 = Similarity.corpusKeyMemo.size()
      assert(size1 > 0, "file-grounded corpus frame did not memoize")
      // a fresh read of the unchanged files must HIT the memo (same
      // fingerprint, no new entry) and reproduce the key exactly
      val k2 = Similarity.corpusKey(df, "vec_id", "ckspec", Similarity.embSig)
      assert(k2 === k1)
      assert(Similarity.corpusKeyMemo.size() === size1)
      // rewrite DIFFERENT content under the SAME path: the staleness
      // guarantee — the key must change, never serve the cached value
      spark.range(0, 101).select(col("id").as("vec_id"),
          array(lit(0.25), lit(1.0)).as("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val k3 = Similarity.corpusKey(df, "vec_id", "ckspec", Similarity.embSig)
      assert(k3 !== k1)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("lsm ingest (flat codec): a non-compacting batch runs a bounded " +
      "number of jobs — no schema-inference job, no assignment join-back") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val root = Files.createTempDirectory("graft_lsmjobs_").toString
    try {
      Similarity.FlatLsm.midStoreTo(emb, root)
      // a 0.5% batch on the 4% mid-store: stays under the 5% trigger
      val batch = Similarity.FlatLsm.codec
        .arrivals(emb.filter(col("vec_id") % 200 === 7), 3)
        .withColumn("del", col("vec_id") % 3 === 0)
      val jobs = jobsOf(Similarity.FlatLsm.ingest(root, batch))
      assert(new java.io.File(s"$root/delta3").exists() &&
        !new java.io.File(s"$root/base_c3").exists(),
        "the guarded batch must append one delta without compacting")
      // 2 at the per-row kernel with footer-schema reads: the centroid
      // collect and the delta write
      assert(jobs <= 2, s"one ingest batch ran $jobs jobs (bound 2)")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
  }

  test("recall gate and brute truth on planted frames: recallOf floors " +
    "(2 of 3 = 6666 bp), bruteTopK under the even-label predicate skips " +
    "the probe and odd labels and breaks a cos tie on the smaller vec_id") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    def bp(truth: Seq[(Long, Long)], got: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = Similarity.recallOf(truth.toDF("probe_id", "neighbor_id"),
        got.toDF("probe_id", "neighbor_id")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(bp(Seq((1L, 10L), (1L, 11L), (1L, 12L)),
      Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 11L))) === ((3L, 2L, 6666L)))
    assert(bp(Seq((2L, 20L), (2L, 21L)), Seq((2L, 30L), (1L, 20L))) ===
      ((2L, 0L, 0L)))
    assert(bp(Seq((1L, 10L), (2L, 20L)), Seq((2L, 20L), (1L, 10L))) ===
      ((2L, 2L, 10000L)))
    // probe 0 points along x; row 1 (odd label) is its exact twin, rows
    // 4 and 6 tie at cos 0.7071 behind row 2 (0.8)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(0.8f, 0.6f), 2),
      (4L, Array(1.0f, 1.0f), 4),
      (6L, Array(2.0f, 2.0f), 0),
      (8L, Array(0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val probes = Similarity.probesFrame(emb, 1)
    def top(k: Int): Seq[Long] =
      Similarity.bruteTopK(emb.filter(col("label") % 2 === 0)
          .withColumn("nrm", Similarity.l2norm(col("embedding"))),
        probes, "embedding", "nrm", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .map { case (p, n) => assert(p === 0L); n }
    assert(top(2).sorted === Seq(2L, 4L), "tie at the cut must keep vec_id 4")
    assert(top(5).sorted === Seq(2L, 4L, 6L, 8L))
    assert(Similarity.evenLabelTruth(emb, 1, 2).collect()
      .map(_.getLong(1)).sorted.toSeq === Seq(2L, 4L))
  }
}
