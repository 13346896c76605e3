package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2B "LLM: dedup"). All distributed: no collect(), state is
  * O(partition), joins are key-based (never all-pairs on the Spark side).
  *
  * The 100 TB shapes:
  *  - exact / normalized dedup: one shuffle on the (hashed) key;
  *  - MinHash+LSH: candidates come from an equi-join on (band, bandHash) —
  *    the classic shingle→minhash→band→bucket-join pipeline; only
  *    candidates pay the exact-verify cost;
  *  - inverted-index exact Jaccard: explode shingles, equi-join on the
  *    shingle, count shared — the exact counterpart used to validate LSH.
  */
object Dedup {

  private def words(text: Column): Column = split(text, " ")

  /** Distinct 2-gram (word bigram) shingles of a document. Single-token
    * (or empty) documents fall back to the whole text as their one
    * shingle — mirroring `Hashing.shingleHashes` — and the sequence bound
    * is clamped so the un-taken branch can't produce a descending range /
    * out-of-range index under ANSI mode. */
  def shingles(text: Column): Column = {
    val w = words(text)
    val n = size(w)
    val grams = array_distinct(transform(sequence(lit(1), greatest(n - 1, lit(1))),
      j => concat(element_at(w, least(j, n)), lit(" "), element_at(w, least(j + 1, n)))))
    when(n < 2, array(text)).otherwise(grams)
  }

  /** Exact duplicate groups by full text: keeper = min doc_id. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))
      .orderBy(col("keeper"))

  val exactSql: String =
    """SELECT min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keeper""".stripMargin

  /** Normalized-text dedup: lowercase, strip non-alphanumerics, collapse
    * whitespace, then group by md5 of the canonical form. The md5 keeps
    * the shuffle key small (16 bytes vs document size) — the point at
    * 100 TB. */
  def normalized(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    documents
      .withColumn("fp", md5(norm.cast("binary")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("fp"), col("keeper"), col("n_copies"))
      .orderBy(col("keeper"))
  }

  val normalizedSql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                               ' +', ' ', 'g'))) AS fp,
      |  min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin

  /** Fused shingle+minhash sketch (r18, guide §1.2 "per-task work" /
    * VERDICT r17 Next #7): ONE corpus pass emits, per document, BOTH the
    * sorted shingle-hash set (the exact-verify side) and the LSH band
    * hashes. The pre-r18 shape ran two mapPartitions kernels over the
    * corpus — [[shingleHashSets]] and a band kernel — each re-tokenizing
    * and re-hashing every document's shingles (`shingleHashes` is the
    * shared inner loop), which doubled the only genuinely CPU-bound
    * multi-second task work left in the suite (q77/q83/q182: 8–13 s
    * task-time stages, r17 Profile). Hash values are BYTE-IDENTICAL:
    * same `shingleHashes`/`minhashSignature`/`bandHash` kernels, same
    * seeds, same order — only the number of passes changes. The sketch
    * is localCheckpoint'd by callers because both the band self-join
    * and the verify join consume it; the blocks hold (id, hs, bands) —
    * strictly less than the shuffle the verify join already pays, and
    * node-local. The inner loops stay JIT'd mapPartitions kernels —
    * interpreted HOF lambdas cost ~9 µs per element (see
    * graft.functions.Hashing) — while everything downstream (bucket
    * join, verify) stays declarative. */
  private def shingleSketch(documents: DataFrame, nPerm: Int,
                            rowsPerBand: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val nBands = nPerm / rowsPerBand
    graft.Tables.spread(documents.select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions { it =>
        val seed = graft.functions.Hashing.seeds(nPerm)
        it.map { case (id, text) =>
          val hs = graft.functions.Hashing.shingleHashes(text)
          val sig = graft.functions.Hashing.minhashSignature(hs, seed)
          val bands = new Array[Long](nBands)
          var b = 0
          while (b < nBands) {
            bands(b) = graft.functions.Hashing
              .bandHash(sig, b * rowsPerBand, rowsPerBand)
            b += 1
          }
          java.util.Arrays.sort(hs)
          (id, hs, bands)
        }
      }
      .toDF("doc_id", "hs", "bands")
  }

  /** The (doc_id, band_id, band_hash) bucket rows of a fused sketch —
    * band_id is the band's position, exactly the pre-r18 BandRow ids. */
  private def bandRowsOf(sketch: DataFrame): DataFrame =
    sketch.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_hash")))

  /** MinHash + LSH near-dup pairs with exact-Jaccard verification.
    *
    * 64 permutations, 16 bands × 4 rows. For the planted near-dups
    * (J >= 0.9) the miss probability is (1 - 0.9^4)^16 ≈ 1e-8; for
    * background pairs (J < 0.2) the candidate probability is ~2.5% — so
    * verification cost stays ~linear in true pairs, not quadratic in
    * corpus size. Candidates are then verified with exact shingle Jaccard
    * and filtered at `threshold`.
    */
  def minhashLsh(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    // one fused corpus pass for shingle sets AND bands (r18); consumed
    // by the band self-join and the verify join — checkpoint so the
    // kernel runs once
    val sketch = shingleSketch(documents, nPerm = 64, rowsPerBand = 4)
      .localCheckpoint()
    val toksH = sketch.select(col("doc_id"), col("hs"))
    val bands = bandRowsOf(sketch)

    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    mergeVerify(cand, toksH, threshold)
  }

  /** Shared oracle CTE: per-doc distinct bigram shingle sets, including
    * the single-token whole-text fallback that mirrors
    * [[graft.functions.Hashing.shingleHashes]]. Interpolated into every
    * oracle that computes shingle sets (q32/q33 here, q66/q68 in
    * Corpus, the q83 pipeline over its gated subset) so the
    * engine-mirroring logic lives in ONE place. `src` is the relation
    * the shingles are computed over. */
  def shingleSetCte(src: String): String =
    s"""t AS (SELECT doc_id, text, string_split(text, ' ') w FROM $src),
      |s AS (SELECT doc_id,
      |        CASE WHEN len(w) < 2 THEN [text]
      |             ELSE list_distinct(list_transform(range(len(w) - 1),
      |               j -> w[j+1] || ' ' || w[j+2])) END sh
      |      FROM t)""".stripMargin

  val shingleSetCteSql: String = shingleSetCte("documents")

  /** Shared oracle CTE: exhaustive exact-Jaccard >= 0.8 pairs over the
    * shingle sets (extends [[shingleSetCte]]). */
  def exactPairsCte(src: String): String = shingleSetCte(src) + ",\n" +
    """p AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
      |        round(len(list_intersect(a.sh, b.sh))::DOUBLE /
      |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id),
      |pairs AS (SELECT doc_a, doc_b FROM p WHERE jaccard >= 0.8)""".stripMargin

  val exactPairsCteSql: String = exactPairsCte("documents")

  /** Oracle: exhaustive exact-Jaccard pairs — only viable at oracle SF;
    * the LSH recall at the planted pairs' J makes the outputs identical
    * with probability 1 - 1e-8 (see minhashLsh). */
  val minhashLshSql: String =
    s"""WITH $exactPairsCteSql
      |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact n-gram Jaccard via a shingle inverted index: explode shingles,
    * equi-join postings on the shingle, count shared per pair. Exact and
    * still key-partitioned — the standard exact-verify counterpart to LSH.
    * (At extreme scale, stop-shingle removal / df-cutoff bounds hot keys;
    * kept exact here because the oracle is exact.) */
  final case class Posting(doc_id: Long, sz: Int)

  /** Exact n-gram Jaccard as a prefix-filtered AllPairs join
    * (Bayardo/Chaudhuri prefix-filter theorem): for J >= t, two docs
    * MUST share at least one of each other's `|d| - ceil(t·|d|) + 1`
    * rarest shingles (rarity = global document frequency, ties by hash).
    * So only those prefix shingles are indexed — the candidate join
    * volume drops by ~(prefix/|d|)² versus indexing every shingle —
    * and candidates are verified exactly with array_intersect.
    * Completeness is unconditional; the oracle is the exhaustive
    * all-pairs formulation. */
  /** Documents as sorted distinct shingle-HASH arrays (JIT kernel; the
    * interpreted shingles() expression costs seconds per corpus pass).
    * 64-bit hashes stand in for shingle identity — collision odds are
    * ~2⁻⁶⁴ per shingle pair, negligible against the oracle. */
  private def shingleHashSets(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    graft.Tables.spread(documents.select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val hs = graft.functions.Hashing.shingleHashes(text)
        java.util.Arrays.sort(hs)
        (id, hs)
      })
      .toDF("doc_id", "hs")
  }

  /** Exact-Jaccard verification of candidate pairs, shared by the LSH and
    * AllPairs paths: join each side's sorted shingle-hash array, then a
    * two-pointer merge per pair — ~100 ns/pair vs ~20 µs/pair for
    * `array_intersect` over string arrays (which builds per-row hash
    * sets). Output rounds half-up at 4 dp to match the oracle's round(). */
  private def mergeVerify(cand: DataFrame, toksH: DataFrame,
                          threshold: Double): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val a = toksH.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = toksH.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hs_a"), col("hs_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.flatMap { case (da, db, ha, hb) =>
        var i = 0; var j = 0; var inter = 0
        while (i < ha.length && j < hb.length) {
          if (ha(i) == hb(j)) { inter += 1; i += 1; j += 1 }
          else if (ha(i) < hb(j)) i += 1
          else j += 1
        }
        val jac = inter.toDouble / (ha.length + hb.length - inter)
        val r = math.floor(jac * 10000 + 0.5) / 10000 // round half-up, 4dp
        if (r >= threshold) Some((da, db, r)) else None
      })
      .toDF("doc_a", "doc_b", "jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact all-pairs Jaccard join: Bayardo prefix filter + PPJoin
    * positional filter + size-ratio prune, then merge-verify. The
    * positional filter (Xiao et al., PPJoin) is what holds up under a
    * dense vocabulary where the prefix filter alone prunes little: both
    * docs order tokens by the same global (df, token) rank, so a shared
    * token at positions (pa, pb) bounds the total overlap by
    * min(pa,pb) + min(sza-pa, szb-pb); rows below the Jaccard-equivalent
    * overlap threshold ceil(t/(1+t)·(sza+szb)) can't belong to a
    * qualifying pair and die before the distinct+verify stage. */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    val toksH = shingleHashSets(documents)
    val postings = toksH.select(col("doc_id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("s"))
    val dfreq = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = postings.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      // same 1e-6 slack as the candidate prunes below: for arbitrary t,
      // ceil(t*sz) can round up past the exact bound and shorten the
      // prefix (= silently missed pairs); slack only lengthens it
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-6)) + 1)
      .select(col("s"), col("doc_id"), col("sz"), col("rn"))

    // Both prunes are conservative bounds evaluated in floating point, so
    // they get 1e-6 of slack: t/(1+t) and t*sz round UP in double (e.g.
    // ceil(0.8/1.8 * 63) = 29, but the exact bound is 28), which would
    // silently drop pairs sitting exactly on the J = t boundary that the
    // exact verify (and the oracle) keep. The slack only ever ADMITS a
    // few extra candidates — mergeVerify re-checks exactly.
    val minOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("a.sz") + col("b.sz")) - lit(1e-6))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // size-ratio prune (implied by J >= t, since J <= min/max)
          col("a.sz") >= lit(threshold) * col("b.sz") - lit(1e-6) &&
          col("b.sz") >= lit(threshold) * col("a.sz") - lit(1e-6) &&
          // PPJoin positional filter
          least(col("a.rn"), col("b.rn")) +
            least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))
            >= minOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    mergeVerify(cand, toksH, threshold)
  }

  // Same oracle as minhashLsh: both compute exact-Jaccard >= 0.8 pairs.
  val ngramJaccardSql: String = minhashLshSql

  /** Exact directional-containment verification of candidate pairs:
    * join in each side's sorted shingle-hash array, two-pointer
    * intersect once per UNORDERED candidate {x, y}, and emit every
    * DIRECTED pair (a, b) with C(a→b) = |a∩b| / |a| ≥ t (up to two rows
    * per candidate). Rounds half-up at 4 dp to match the oracle. */
  private def containmentVerify(cand: DataFrame, toksH: DataFrame,
                                threshold: Double): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val a = toksH.select(col("doc_id").as("doc_x"), col("hs").as("hs_x"))
    val b = toksH.select(col("doc_id").as("doc_y"), col("hs").as("hs_y"))
    cand.join(a, "doc_x").join(b, "doc_y")
      .select(col("doc_x"), col("doc_y"), col("hs_x"), col("hs_y"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.flatMap { case (dx, dy, hx, hy) =>
        var i = 0; var j = 0; var inter = 0
        while (i < hx.length && j < hy.length) {
          if (hx(i) == hy(j)) { inter += 1; i += 1; j += 1 }
          else if (hx(i) < hy(j)) i += 1
          else j += 1
        }
        def dir(da: Long, db: Long, szA: Int): Option[(Long, Long, Double)] = {
          val r = math.floor(inter.toDouble / szA * 10000 + 0.5) / 10000
          if (r >= threshold) Some((da, db, r)) else None // round half-up, 4dp
        }
        dir(dx, dy, hx.length) ++ dir(dy, dx, hy.length)
      })
      .toDF("doc_a", "doc_b", "containment")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q92: directional set-containment dedup — C(A,B) = |A∩B| / |A| over
    * word-bigram shingle sets, emitting (doc_a, doc_b) when doc_a's
    * shingles are ≥ t contained in doc_b's.
    *
    * Registered (production) path: MinHash-LSH banded candidates (the
    * q32 machinery, widened to 128 perms = 32 bands × 4 rows) followed by EXACT
    * directional-containment verification of each candidate in both
    * directions. This keeps the whole pipeline row-linear: band rows are
    * O(N·bands), the bucket equi-join emits ~true-pairs + an ε of the
    * corpus (background pairs at J ≈ 0.03 collide with P ≈ 1.6e-5 here),
    * and only candidates pay the two-pointer verify. The r5 sf1x ramp
    * measured the previous prefix-filter registration at 62× wall for
    * 10× rows — inherent, because this fixture's shingle VOCABULARY does
    * not grow with the corpus (931 distinct shingles at sf0.1), so every
    * posting list's df ∝ N and any single-shingle inverted-index join is
    * Θ(N²/V); banding is the shape that survives 100 TB.
    *
    * Recall contract (documented, not hoped): J ≥ C·|A| / (|A| + |B| −
    * C·|A|), so for the |B| ≤ |A| direction a qualifying pair has
    * J ≥ t/(2−t) = 0.818 at t = 0.9 → banded miss P = (1−0.818⁴)³² ≈
    * 5e-9 — 32 bands exactly so the WORST pair the bound admits is
    * covered, not just the typical one (the sf0.1 fixture's hardest
    * planted pair sits exactly at J = 0.8182). The pair class banding structurally
    * under-weights — a SHORT doc inside a MUCH longer one (J → |A|/|B|)
    * — is exactly what [[containmentExact]] (the prefix-filter +
    * df-cutoff harness, kept oracle-identical in DedupSpec) catches;
    * production corpora pair it with substring/chunk dedup (q48), which
    * finds verbatim short-in-long embeddings in one linear pass. */
  def containment(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    // same fused one-pass sketch as minhashLsh (r18), at this path's
    // 128-perm banding
    val sketch = shingleSketch(documents, nPerm = 128, rowsPerBand = 4)
      .localCheckpoint()
    val toksH = sketch.select(col("doc_id"), col("hs"))
    val bands = bandRowsOf(sketch)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_x"), col("y.doc_id").as("doc_y"))
      .distinct()
    containmentVerify(cand, toksH, threshold)
  }

  /** Exact-harness containment: the containment-adapted prefix filter
    * (validates [[containment]] the way q33 validates q32), with the
    * hot-shingle df-cutoff the r5 judge asked for.
    *
    * Candidate generation: an overlap ≥ m = ceil(t·|A|) cannot avoid ALL
    * of A's |A| − m + 1 rarest shingles (df-ranked, same global order as
    * q33), so only that prefix of A is indexed, joined against the FULL
    * posting list of the B side (containment puts no upper bound on |B|,
    * so B cannot be prefix-pruned — only the |B| ≥ t·|A| lower bound
    * applies). Verification is the exact two-pointer merge.
    *
    * df-cutoff (dfCutoff > 0): shingles with global document frequency
    * df > dfCutoff are "hot" and excluded from the candidate join —
    * RECALL-SAFELY, by a refined pigeonhole. Because df is global, a
    * shingle is hot for A iff it is hot for B. Let A have n shingles, h
    * of them hot, and m = ceil(t·n). If h < m, a qualifying B shares
    * ≥ m − h ≥ 1 NON-hot shingles with A, and missing all of the first
    * p = n − m + 1 non-hot shingles (df-ranked) caps shared non-hot at
    * (n−h) − p = m − h − 1 — contradiction. So indexing A's first p
    * NON-hot shingles against the non-hot B postings loses nothing.
    * Docs with h ≥ m (hot-saturated: ≥ t of their shingles are
    * boilerplate-grade) fall back to the unrestricted join — bounded by
    * how rare such docs are, and production removes that boilerplate
    * upstream. Correctness is therefore cutoff-INDEPENDENT (DedupSpec
    * proves cutoff ≡ no-cutoff ≡ oracle); the cutoff bounds the
    * per-shingle join cost to prefix×dfCutoff on corpora whose
    * vocabulary grows with N — every real text corpus. */
  def containmentExact(documents: DataFrame, threshold: Double = 0.9,
                       dfCutoff: Long = 0L): DataFrame = {
    val toksH = shingleHashSets(documents)
    val postings = toksH.select(col("doc_id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("s"))
    val dfreq = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfreq, "s")
    // 1e-6 slack mirrors q33: ceil(t·sz) evaluated in double can round up
    // past the exact bound and shorten the prefix (= silently missed
    // pairs); slack only admits extra candidates, which verify re-checks.
    val minOv = ceil(lit(threshold) * col("sz") - lit(1e-6))
    val prefLen = col("sz") - minOv + 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // NO positional (PPJoin) filter on the B side, deliberately — it was
    // measured SLOWER here (8.4 s vs 6.2 s at sf0.1): requiring rn_b
    // forces a second per-doc Window sort over the FULL posting list
    // that column pruning otherwise deletes (only A's prefix needs
    // ranks), and the bound prunes little for containment because A's
    // prefix shingles are its globally RAREST — their ranks are low in
    // B as well, so min(remaining) almost always clears ceil(t·|A|).
    // q33 keeps the positional filter because BOTH sides are
    // prefix-indexed there and pay the window anyway.
    def candJoin(prefixA: DataFrame, idxB: DataFrame): DataFrame =
      prefixA.join(idxB, "s")
        .filter(col("doc_x") =!= col("doc_y") &&
          col("sz_y") >= lit(threshold) * col("sz_x") - lit(1e-6))
        .select(col("doc_x"), col("doc_y"))
    val cand = (if (dfCutoff <= 0L) {
      val prefixA = ranked.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= prefLen)
        .select(col("s"), col("doc_id").as("doc_x"), col("sz").as("sz_x"))
      val fullB = ranked.select(col("s"), col("doc_id").as("doc_y"),
        col("sz").as("sz_y"))
      candJoin(prefixA, fullB)
    } else {
      val hstats = ranked.groupBy(col("doc_id"))
        .agg(sum(when(col("df") > dfCutoff, 1).otherwise(0)).as("h"))
      val coolRanked = ranked.filter(col("df") <= dfCutoff)
        .withColumn("rn", row_number().over(w))
      val prefixMain = coolRanked.join(hstats, "doc_id")
        .filter(col("h") < minOv && col("rn") <= prefLen)
        .select(col("s"), col("doc_id").as("doc_x"), col("sz").as("sz_x"))
      val coolB = ranked.filter(col("df") <= dfCutoff)
        .select(col("s"), col("doc_id").as("doc_y"), col("sz").as("sz_y"))
      // hot-saturated fallback: unrestricted prefix vs full postings
      val prefixFb = ranked.withColumn("rn", row_number().over(w))
        .join(hstats, "doc_id")
        .filter(col("h") >= minOv && col("rn") <= prefLen)
        .select(col("s"), col("doc_id").as("doc_x"), col("sz").as("sz_x"))
      val fullB = ranked.select(col("s"), col("doc_id").as("doc_y"),
        col("sz").as("sz_y"))
      candJoin(prefixMain, coolB).union(candJoin(prefixFb, fullB))
    }).distinct()
    // The shared verifier checks BOTH directions of each candidate; for
    // these directed (A, B) candidates the extra C(B→A) check can only
    // emit true pairs (verification is exact) that the (B, A) candidate
    // row would also produce — dedup collapses them.
    containmentVerify(cand, toksH, threshold)
      .dropDuplicates("doc_a", "doc_b", "containment")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val containmentSql: String =
    s"""WITH $shingleSetCteSql,
      |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
      |        round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 4) AS containment
      |      FROM s a JOIN s b ON a.doc_id != b.doc_id)
      |SELECT doc_a, doc_b, containment FROM p WHERE containment >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash 64-bit fingerprints: per-bit majority vote over distinct
    * token hashes, as a JIT'd kernel (same rationale as minhashBands).
    * Oracle-checked: FNV-1a is plain mod-2^64 arithmetic, so the DuckDB
    * oracle replicates it exactly in HUGEINT (see [[simhashSql]]). */
  def simhash(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    graft.Tables.spread(documents.select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // limit -1: trailing empties kept, same as the DuckDB oracle's
          // string_split (and Spark SQL split)
          val distinct = text.split(" ", -1).distinct
          val hs = distinct.map(graft.functions.Hashing.fnv1a64)
          (id, graft.functions.Hashing.simhash64(hs))
        }
      }
      .toDF("doc_id", "simhash")
      .orderBy(col("doc_id"))
  }

  /** Bit-exact DuckDB replica of the simhash kernel, in 128-bit integer
    * arithmetic (the q47 rolling-hash pattern, one level up):
    *  - FNV-1a 64: fold over each distinct token's bytes in HUGEINT with
    *    an explicit mod 2^64; the XOR-with-byte only touches the low 8
    *    bits, so it is expressed as  h - h%256 + xor(h%256, b)  and the
    *    rest stays pure modular arithmetic;
    *  - per-bit majority vote via (h >> k) % 2 against range(64);
    *  - the unsigned sum of winning bits converts to the kernel's signed
    *    Long by subtracting 2^64 above Long.MaxValue.
    * Corpus tokens are ASCII (fixture contract, see Multimodal oracles),
    * so ord(char) == UTF-8 byte. */
  val simhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents
      |),
      |hashes AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(range(length(t)), i -> ord(substring(t, (i+1)::INT, 1)))),
      |      (h, b) -> ((h - h % 256 + xor((h % 256)::BIGINT, b::BIGINT)::HUGEINT)
      |                 * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
      |    ) AS h
      |  FROM toks
      |),
      |pows AS (SELECT range AS k, (1::HUGEINT << range::INT) AS p FROM range(64)),
      |votes AS (
      |  SELECT hashes.doc_id, pows.k, pows.p,
      |    sum(CASE WHEN (hashes.h // pows.p) % 2 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM hashes CROSS JOIN pows
      |  GROUP BY hashes.doc_id, pows.k, pows.p
      |),
      |fp AS (
      |  SELECT doc_id, sum(CASE WHEN vote > 0 THEN p ELSE 0::HUGEINT END) AS u
      |  FROM votes GROUP BY doc_id
      |)
      |SELECT doc_id,
      |  (CASE WHEN u >= 9223372036854775808::HUGEINT
      |        THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS simhash
      |FROM fp ORDER BY doc_id""".stripMargin

  /** q199: SYMMETRIC-DELETE FUZZY JOIN — entity resolution / record
    * linkage, the dedup family's approximate-KEY counterpart (MinHash
    * et al. match near-duplicate CONTENT; pipelines also need to match
    * near-duplicate IDENTIFIERS — titles, names, URLs — where edit
    * distance, not token overlap, is the similarity). The production
    * shape for short keys is the FastSS / SymSpell deletion
    * neighborhood: index every key under itself PLUS each of its
    * 1-deletion variants, and candidates are an EXACT equi-join on the
    * variant string — two keys within small edit distance share a
    * variant, so blocking needs no frequency statistics at all. A
    * first cut blocked on rare character trigrams instead; on this
    * fixture's ~50-word vocabulary the "rare" trigram df grows with N
    * and the candidate volume went quadratic (86 s at sf0.1, unbounded
    * at sf1x) — deletion variants collide only for genuinely similar
    * keys, so the join output is ~matches, not ~blocks.
    *
    * Fixture: the clean side is each document's 40-char text prefix (a
    * near-unique synthetic "title"); the dirty side deletes ONE
    * character at position `doc_id % length` — a deterministic
    * corruption model, so ground truth is exact and the true match is
    * guaranteed blocked (the dirty key IS a 1-deletion variant of its
    * clean key). Candidate pairs are verified at Levenshtein ≤ 2 and
    * each dirty row keeps its best match (min distance, ties on the
    * smaller id).
    *
    * 100 TB shape: the variant index is (len+1) rows per key — linear,
    * computed by one explode, no corpus statistics; the only wide
    * shuffle is the equi-join on the variant string (hash-partitioned
    * like any key join); the O(len·k) banded Levenshtein runs on
    * candidates only. No UDF anywhere. */
  def fuzzyJoin(documents: DataFrame): DataFrame = {
    val clean = cleanKeys(documents)
    fuzzyMatchTail(dirtyKeys(clean),
      clean.select(col("c_id"), col("ckey"), delVars("ckey").as("v")))
  }

  /** The fixture's clean side: each document's 40-char prefix as a
    * near-unique synthetic "title". */
  private def cleanKeys(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").as("c_id"),
      expr("substring(text, 1, 40)").as("ckey"))

  /** The fixture's deterministic corruption: delete ONE character at
    * position `id % length` — exact ground truth, oracle-mirrored. */
  private def dirtyKeys(clean: DataFrame): DataFrame = clean
    .withColumn("pos", (col("c_id") % length(col("ckey"))).cast("int"))
    .select(col("c_id").as("d_id"),
      concat(expr("substring(ckey, 1, pos)"),
        expr("substring(ckey, pos + 2, 1000)")).as("dkey"))

  /** The deletion neighborhood: the key itself + every 1-deletion
    * variant, deduped (adjacent equal chars delete to the same
    * string). */
  private def delVars(key: String): Column = explode(expr(
    s"array_distinct(concat(array($key), " +
      s"transform(sequence(0, length($key) - 1), " +
      s"i -> concat(substring($key, 1, i), " +
      s"substring($key, i + 2, 1000)))))"))

  /** The match tail shared by q199 (fresh variants), q200 (stored
    * variant index), and the streaming match leg: dirty keys explode
    * into their own deletion neighborhood, candidates come from the
    * exact equi-join on the variant string, and only candidates pay
    * the banded Levenshtein verify before the best-match cut. */
  private def fuzzyMatchTail(dirty: DataFrame,
                             cleanVar: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dirty.select(col("d_id"), col("dkey"), delVars("dkey").as("v"))
      .join(cleanVar, "v")
      .select(col("d_id"), col("dkey"), col("c_id"), col("ckey"))
      .distinct()
      // the THRESHOLD variant runs the banded O(len·k) DP and returns
      // -1 above the bound — same distances for every surviving pair;
      // the oracle's plain `levenshtein(...) <= 2` selects the
      // identical set
      .withColumn("lev", levenshtein(col("dkey"), col("ckey"), 2)
        .cast("long"))
      .filter(col("lev") >= 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("d_id")).orderBy(col("lev"), col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("d_id").as("doc_id"), col("c_id").as("match_id"),
        col("lev"))
      .orderBy(col("doc_id"))
  }

  /** Writes the q200 variant index — the FastSS dictionary as a stored
    * table: one (c_id, ckey, v) row per key and deletion variant, the
    * (len+1)·N-row structure that IS the fuzzy-match index at 100 TB
    * (hash-partitioned on the variant string by the join). */
  private[llm] def writeVariantIndex(documents: DataFrame,
                                     root: String): Unit = {
    val clean = cleanKeys(documents)
    clean.select(col("c_id"), col("ckey"), delVars("ckey").as("v"))
      .write.mode("overwrite").parquet(s"$root/variants")
  }

  /** The clean-side variant index as a served index, keyed on the
    * document corpus. */
  private val FuzzyIndex = Similarity.ServedIndex("fuzzy",
    writeVariantIndex, "doc_id", Similarity.docSig)

  /** q200: q199 timed on its SERVE leg (oracle: q199's VERBATIM —
    * store ≡ recompute): the clean-side variant index builds once per
    * corpus into the [[graft.FsUtil.ServedRoots]] cache; afterwards a
    * match run pays only the dirty side's variant explode + the
    * equi-join against the stored dictionary + the candidate verify —
    * the shape of a production record-linkage service, where the
    * reference corpus is indexed offline and lookups arrive
    * continuously. */
  def fuzzyJoinServed(documents: DataFrame, corpusTag: String): DataFrame = {
    val spark = documents.sparkSession
    val root = FuzzyIndex.root(documents, corpusTag)
    fuzzyMatchTail(dirtyKeys(cleanKeys(documents)),
      graft.FsUtil.readParquet(spark, s"$root/variants"))
  }

  /** q200 under STRUCTURED STREAMING — dirty records arrive as a
    * stream of (d_id, dkey) micro-batches and each batch matches
    * against the SAME stored variant index as the batch leg, appending
    * to `outDir`. Per-record results depend only on the record + the
    * stored dictionary, so union-of-micro-batches ≡ one batch
    * (StreamingSpec proves it against q200). */
  def fuzzyMatchStreamBatch(documents: DataFrame, corpusTag: String,
                            outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = FuzzyIndex.streamRoot(documents, corpusTag)
    fuzzyMatchTail(batch.select(col("d_id"), col("dkey")),
        graft.FsUtil.readParquet(spark, s"$root/variants"))
      .write.mode("append").parquet(outDir)
    ()
  }

  /** Oracle: the same corruption model, deletion neighborhoods
    * (DuckDB's range(n) = 0..n-1 matches Spark's sequence(0, n-1)
    * over deletion positions), variant equi-join, Levenshtein verify,
    * and best-match rule. */
  val fuzzyJoinSql: String =
    """WITH clean AS (SELECT doc_id AS c_id, substr(text, 1, 40) AS ckey
      |  FROM documents),
      |dirty AS (SELECT c_id AS d_id,
      |    substr(ckey, 1, CAST(c_id % length(ckey) AS INT)) ||
      |    substr(ckey, CAST(c_id % length(ckey) AS INT) + 2, 1000) AS dkey
      |  FROM clean),
      |cv AS (SELECT DISTINCT c_id, ckey, t.v FROM clean,
      |  UNNEST(list_distinct(list_append(
      |    list_transform(range(length(ckey)),
      |      i -> substr(ckey, 1, CAST(i AS INT)) ||
      |           substr(ckey, CAST(i AS INT) + 2, 1000)),
      |    ckey))) AS t(v)),
      |dv AS (SELECT DISTINCT d_id, dkey, t.v FROM dirty,
      |  UNNEST(list_distinct(list_append(
      |    list_transform(range(length(dkey)),
      |      i -> substr(dkey, 1, CAST(i AS INT)) ||
      |           substr(dkey, CAST(i AS INT) + 2, 1000)),
      |    dkey))) AS t(v)),
      |cand AS (SELECT DISTINCT dv.d_id, dv.dkey, cv.c_id, cv.ckey
      |  FROM dv JOIN cv USING (v)),
      |ver AS (SELECT d_id, c_id,
      |    CAST(levenshtein(dkey, ckey) AS BIGINT) AS lev
      |  FROM cand WHERE levenshtein(dkey, ckey) <= 2),
      |best AS (SELECT *, row_number() OVER (PARTITION BY d_id
      |    ORDER BY lev, c_id) rn FROM ver)
      |SELECT d_id AS doc_id, c_id AS match_id, lev FROM best WHERE rn = 1
      |ORDER BY doc_id""".stripMargin
}
