package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  test("hash split partitions the corpus deterministically") {
    val total = docs.count()
    val split = Corpus.hashSplit(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.values.sum === total, "splits must partition the corpus")
    assert(split.keySet.subsetOf(Set("train", "val", "test")))
    assert(split("train") > split.getOrElse("val", 0L),
      "80% bucket must dominate")
    // determinism: a second evaluation assigns identically
    val again = Corpus.hashSplit(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === split)
  }

  test("stratified sample is a deterministic subset") {
    val s1 = Corpus.stratifiedSample(docs).collect().map(_.getLong(0)).toSeq
    val s2 = Corpus.stratifiedSample(docs).collect().map(_.getLong(0)).toSeq
    assert(s1 === s2, "sample membership must be reproducible")
    assert(s1.nonEmpty && s1.length < docs.count())
    // sampled rows come from the corpus
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.forall(ids))
  }

  test("heavy hitters stay exact through Misra-Gries evictions") {
    import spark.implicits._
    // hot=11, warm=5, nine singletons; n=24 tokens. capacity=2 forces
    // constant evictions; the MG bar is n/(cap+1)=8, so hot (11) is
    // GUARANTEED a candidate under ANY partitioning/order, and the
    // recount makes its reported count exact
    val d = Seq(
      (1L, "hot hot hot hot a b c hot hot", "en"),
      (2L, "hot warm warm warm d e hot hot", "en"),
      (3L, "x y z hot hot warm warm", "en")
    ).toDF("doc_id", "text", "lang")
    val top1 = Corpus.heavyHitters(d, k = 1, capacity = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(top1 === Seq(("en", "hot", 11L)))
    // with headroom, the full exact top-2 (no evictions ever happen)
    val top2 = Corpus.heavyHitters(d, k = 2, capacity = 64).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(top2 === Seq(("en", "hot", 11L), ("en", "warm", 5L)))
  }

  test("pii redaction removes every digit run") {
    import spark.implicits._
    val d = Seq((1L, "call 555 0123 now"), (2L, "no digits here"))
      .toDF("doc_id", "text")
    val r = Corpus.piiRedact(d).collect()
    assert(r(0).getLong(1) === 2) // two digit runs
    assert(r(1).getLong(1) === 0)
    // the hash equals md5 of the manually redacted text
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("call <NUM> <NUM> now".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r(0).getString(2) === exp)
  }

  test("near-dup components recover planted clusters") {
    import spark.implicits._
    // two exact-duplicate clusters + two singletons; bigram shingles
    // make the duplicates jaccard-1.0 pairs for the LSH stage
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val d = Seq(
      (10L, t1), (11L, t1), (12L, t1),
      (20L, t2), (21L, t2),
      (30L, "lonely document with no duplicate partner at all"),
      (40L, "another unique text that matches nothing else here"))
      .toDF("doc_id", "text")
    val comps = Corpus.nearDupComponents(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // singletons have no pairs and do not appear; clusters keyed by min id
    assert(comps === Map(10L -> 3L, 20L -> 2L))
  }

  test("components link transitively through a chain of pairs") {
    import spark.implicits._
    // a-b similar, b-c similar, a-c less so: one component of 3 via b
    // (token names share no prefixes, so replace() touches exactly one)
    val base = ('a' to 'l').map(ch => s"w$ch$ch").mkString(" ")
    val a = base
    val b = base.replace("wll", "zxz") // 10/12 shared bigrams with a
    val c = base.replace("wll", "zxz").replace("waa", "qyq")
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val comps = Corpus.nearDupComponents(d, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 3L))
  }

  /** 12-doc chain over a sliding 22-token window with stride 2: adjacent
    * docs share 19 of 23 distinct bigrams (J = 0.826 >= 0.8) but docs two
    * apart only 17 of 25 (J = 0.68 < 0.8), so the graph is a pure path. */
  private def deepChain: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val toks = (0 until 44).map(i => f"tok$i%02d")
    (0 until 12).map { i =>
      ((i + 1).toLong, toks.slice(2 * i, 2 * i + 22).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("deep chains propagate labels through checkpointed rounds") {
    // The min label must walk 11 hops across the per-round checkpoints
    // without plan blowup (VERDICT r2 #6).
    val comps = Corpus.nearDupComponents(deepChain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 12L))
  }

  test("deep chains: no SQL execution's plan description reaches 1 M " +
    "characters (each round plans over the previous round's checkpoint)") {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val largest = new java.util.concurrent.atomic.AtomicLong
    eventsOf(Corpus.nearDupComponents(deepChain).collect()) {
      case e: SparkListenerSQLExecutionStart =>
        largest.accumulateAndGet(e.physicalPlanDescription.length, math.max)
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        largest.accumulateAndGet(e.physicalPlanDescription.length, math.max)
      case _ =>
    }
    assert(largest.get > 0, "no SQL execution event was seen")
    assert(largest.get < 1000000L,
      s"largest plan description ${largest.get} characters (bound 1 M)")
  }

  test("component labels release every round's checkpoint blocks; only " +
    "the returned labels stay held") {
    import spark.implicits._
    def held = spark.sparkContext.getPersistentRDDs.keySet
    val before = held
    val labels = Corpus.componentLabels(
      (1L until 12L).map(i => (i, i + 1)).toDF("a", "b"))
    assert(labels.collect().map(_.getLong(1)).toSet === Set(1L))
    assert((held -- before).size === 1, "a round's blocks are still held")
    labels.unpersist()
    assert((held -- before).isEmpty)
  }

  test("connected components on a pair-free corpus return empty, not error") {
    import spark.implicits._
    val d = Seq((1L, "first unique document text"),
      (2L, "second entirely different words")).toDF("doc_id", "text")
    assert(Corpus.nearDupComponents(d).collect().isEmpty)
    val e = Seq((1L, Array(1f, 0f), 1), (2L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    // dim must match the fixture vectors: the Lloyd blocking kernel
    // reads element_at(embedding, 1..dim) and ANSI faults past the end
    assert(Similarity.semanticDedup(e, threshold = 0.9, dim = 2)
      .collect().isEmpty)
  }

  test("large-star/small-star engine matches union-find on raw pair graphs") {
    import spark.implicits._
    // chain (worst case for plain propagation), a skewed star (one hot
    // center — the shape that melts a collect-based neighborhood), two
    // mid-size blobs, and cross-links merging chain into blob A
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val star = (1000L until 1400L).map(v => (500L, v))
    val blobA = Seq((50L, 51L), (51L, 52L), (52L, 50L), (52L, 53L))
    val blobB = Seq((70L, 71L), (71L, 72L))
    val cross = Seq((39L, 50L))
    val pairs = chain ++ star ++ blobA ++ blobB ++ cross
    // reference components via union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) => parent(find(x)) = find(y) }
    val expected = parent.keys.toSeq.groupBy(find)
      .map { case (_, ids) => ids.min -> ids.size.toLong }
    val got = Corpus.connectedComponents(pairs.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("skewed star converges in few rounds with per-node labels intact") {
    import spark.implicits._
    // 1-center 500-leaf star, leaves numerically BELOW the center so
    // both star phases must fire (center is not the minimum)
    val pairs = (1L to 500L).map(v => (9999L, v))
    val labels = Corpus.componentLabels(pairs.toDF("a", "b"))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size === 501)
    assert(m.values.forall(_ == 1L))
    labels.unpersist()
  }

  test("curation pipeline drops gate failures, dup non-keepers, and repeated spans") {
    import spark.implicits._
    // 24 distinct quality tokens incl. stopword markers "the"/"a";
    // every surviving doc packs into shard = doc_id % 8
    val good = ("the a " + (1 to 22).map(i => s"tok$i").mkString(" "))
    val repeated = Seq.fill(8)("rep span eight tokens here fill pad out").mkString(" ")
    val docs = Seq(
      (1L, good),                  // keeper of the duplicate cluster
      (2L, good),                  // dup of 1 -> dropped by CC stage
      (3L, "too short"),           // fails r_len -> dropped by gate
      (4L, "the a " + repeated),   // passes gate, chunks repeat -> trimmed
      (5L, good.replace("tok22", "tok99"))) // near-dup of 1 (J>=0.8) -> dropped
      .toDF("doc_id", "text")
    val out = Corpus.curationPipeline(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only doc 1 survives: 24 tokens, shard 1, bin 0
    assert(out.toSeq === Seq((1L, 0L, 1L, 24L)))
  }

  test("vocab coverage counts occurrences of df-qualified terms only") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "a x"))
      .toDF("doc_id", "text")
    // df: a=3, b=2, c=1, x=1; minDf=2 -> vocab {a, b}
    val out = TextAnalysis.vocabCoverage(docs, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, 6666L), (2L, 2L, 2L, 10000L), (3L, 2L, 1L, 5000L)))
  }

  test("count-min estimates dominate exact counts and are exact sans collisions") {
    import spark.implicits._
    // 3 distinct terms, far fewer than 64 buckets: overwhelmingly
    // collision-free in at least one of the 4 rows -> est == cnt
    val docs = Seq((1L, "aa aa aa bb"), (2L, "bb cc aa")).toDF("doc_id", "text")
    val out = Corpus.countMinFreq(docs, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(t => t._1 -> t._2).toSeq === Seq("aa" -> 4L, "bb" -> 2L, "cc" -> 1L))
    assert(out.forall(t => t._3 >= t._2), "CMS never underestimates")
    assert(out.forall(t => t._4 === t._3 - t._2))
    assert(out.forall(t => t._3 === t._2), "3 terms in 64 buckets: no collisions")

    // on the real fixture the estimate still dominates for every top term
    val fx = Corpus.countMinFreq(graft.Tables.documents(spark, sf)).collect()
    assert(fx.length === 20)
    assert(fx.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  test("group sample returns exactly k per language, reproducibly") {
    val docs = graft.Tables.documents(spark, sf)
    val a = Corpus.groupSample(docs, k = 3).collect().map(_.toSeq)
    val b = Corpus.groupSample(docs, k = 3).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq, "sample must be deterministic")
    val perLang = a.groupBy(_(1)).values.map(_.length)
    assert(perLang.forall(_ == 3), "every language contributes exactly k docs")
  }

  test("temperature sampling keeps all of the rarest source and flattens the rest") {
    import spark.implicits._
    // srcA: 16 docs, srcB: 4 docs -> rate_A = sqrt(4/16) = 0.5 (5000 bp),
    // rate_B = 1.0 (10000 bp, every doc kept)
    val docs = ((1L to 16L).map(i => (i, "srcA")) ++ (17L to 20L).map(i => (i, "srcB")))
      .toDF("doc_id", "source")
    val out = Corpus.temperatureSample(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val a = out.find(_._1 == "srcA").get
    val b = out.find(_._1 == "srcB").get
    assert(a._2 === 16L && a._3 === 5000L)
    assert(b === (("srcB", 4L, 10000L, 4L))) // rarest source: all docs kept
    assert(a._4 <= 16L) // sampled subset of srcA
  }

  test("cluster keep-best retains the highest-quality member, not the min id") {
    import spark.implicits._
    // d1/d2 differ in one token of 30 (J = 27/31 >= 0.8 on bigrams);
    // d2 swaps the stopword "the" for a long rare token, so its
    // quality_bp is strictly higher — the winner must be 2, not min-id 1
    val toks = (1 to 30).map(i => f"t$i%02d")
    val d1 = toks.updated(14, "the").mkString(" ")
    val d2 = toks.updated(14, "zzzzzzzzzz").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, "lone unclustered document here"))
      .toDF("doc_id", "text")
    val out = Corpus.clusterKeepBest(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 2L, 2L))) // cluster 1, best doc 2, 2 members
  }

  test("doc chunks cover every token with the declared overlap and exact hashes") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // < size: one short chunk
      (3L, (1 to 10).map(i => s"w$i").mkString(" "))) // identical to doc 1
      .toDF("doc_id", "text")
    val out = TextAnalysis.docChunks(docs, size = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val d1 = out.filter(_._1 == 1L)
    // starts 0,3,6 each 4 tokens: [0,4) [3,7) [6,10) — full coverage, overlap 1
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ===
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)))
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._3, c._4)).toSeq ===
      Seq((0L, 0L, 3L)))
    // identical text -> identical chunk hashes, position by position
    assert(out.filter(_._1 == 3L).map(c => (c._2, c._5)).toSeq ===
      d1.map(c => (c._2, c._5)).toSeq)
  }

  test("sequence packing assigns docs to the context window where they start") {
    import spark.implicits._
    // one shard, budget 5: token counts 3,3,4 concat-chunk as
    // [3,3][4] — doc 2 STARTS at offset 3 (bin 0), doc 3 at offset 6 (bin 1)
    val d = Seq((0L, "a b c"), (8L, "d e f"), (16L, "g h i j"))
      .toDF("doc_id", "text") // all ids ≡ 0 mod 8 → same shard
    val out = Corpus.sequencePack(d, budget = 5, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((0L, 0L, 2L, 6L), (0L, 1L, 1L, 4L)))
  }

  test("sequence packing shard count defaults to the cluster parallelism") {
    import spark.implicits._
    val d = (0L until 64L).map(i => (i, "one two three")).toDF("doc_id", "text")
    val shards = Corpus.sequencePack(d).select("shard").distinct().collect()
      .map(_.getLong(0)).toSet
    // VERDICT r3 #6: the default must track defaultParallelism so the
    // window sort is never narrower than the cluster
    val p = spark.sparkContext.defaultParallelism.toLong
    assert(shards === (0L until p).toSet)
  }

  test("mixture weights equalize per-language token share") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three four five six", "en"),   // 6 tokens
      (2L, "seven eight nine ten", "en"),          // 4 tokens -> en 10
      (3L, "un deux trois quatre cinq", "fr"))     // fr 5, total 15
      .toDF("doc_id", "text", "lang")
    val w = Corpus.mixtureWeights(d).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // weight = 10000 * total / (n_langs * lang_tokens)
    assert(w === Map("en" -> 7500L, "fr" -> 15000L))
  }

  test("source stats report per-source corpus-wide duplication rate") {
    import spark.implicits._
    val d = Seq(
      (1L, "dup text", "web"), (2L, "dup text", "web"), (3L, "unique one", "web"),
      (4L, "dup text", "books"), (5L, "solo", "books"))
      .toDF("doc_id", "text", "source")
    val got = Corpus.sourceStats(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    // "dup text" occurs 3x corpus-wide, so the books copy counts too
    assert(got("web") === ((3L, 2L, 6666L)))
    assert(got("books") === ((2L, 1L, 5000L)))
  }

  test("contamination flags only docs sharing shingles with the benchmark") {
    import spark.implicits._
    // benchmark doc (id % 97 == 0): "secret eval question here"
    val d = Seq(
      (0L, "secret eval question here"),
      (1L, "this doc leaks the secret eval question verbatim"),
      (2L, "completely unrelated words nothing shared at all"))
      .toDF("doc_id", "text")
    val hits = Corpus.contamination(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L))
    assert(hits(1L) === 2L) // "secret eval", "eval question"
  }

  test("incremental dedup keeps only new docs absent from the corpus index") {
    import spark.implicits._
    val d = Seq(
      (0L, "Existing Document One"),   // corpus
      (2L, "existing document two"),   // corpus
      (1L, "existing document one!"),  // new, normalized-dup of 0
      (3L, "a genuinely new document"),
      (5L, "existing document two"))   // new, exact dup of 2
      .toDF("doc_id", "text")
    val kept = Corpus.incrementalDedup(d).collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(3L))
  }

  test("length band trims per-language outliers by percent rank") {
    val banded = Corpus.lengthBand(docs)
    assert(banded.count() > 0 && banded.count() < docs.count())
    // extremes are gone: per-lang min and max doc lengths are excluded
    import org.apache.spark.sql.functions._
    val extremes = docs.groupBy(col("lang"))
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    val joined = banded.join(extremes, "lang")
      .filter(col("n_chars") === col("mn") || col("n_chars") === col("mx"))
    assert(joined.count() === 0, "band must exclude per-lang extremes")
  }

  test("repetition score flags degenerate repetition") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam"),       // one bigram repeated 4x
      (2L, "all four bigrams are different here"))
      .toDF("doc_id", "text")
    val r = Corpus.repetitionScore(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((4L, 4L, 10000L)))    // fully repetitive
    assert(r(2L)._1 === 1L && r(2L)._3 < 2500L) // diverse
  }

  test("token stats count code points, not UTF-16 units (astral-plane parity)") {
    import spark.implicits._
    // "🚀🚀" is 2 code points but 4 UTF-16 chars — DuckDB length() counts
    // code points, so the kernel must too
    val d = Seq((1L, "🚀🚀 ab", 5L))
      .toDF("doc_id", "text", "n_chars")
    val r = TextAnalysis.tokenStats(d).collect()(0)
    assert(r.getLong(1) === 2L)                 // n_tokens
    assert(r.getDouble(3) === 2.0)              // avg_token_len = (2+2)/2
  }

  test("token entropy: zero for degenerate docs, ln(n) for all-distinct docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a", 7L),          // single token repeated: entropy 0
      (2L, "a b c d", 7L),          // uniform over 4: entropy ln(4)
      (3L, "a a b", 5L),            // 2/3,1/3 mix
      (4L, "", 0L))                 // empty text: 0 tokens, entropy 0
      .toDF("doc_id", "text", "n_chars")
    val byId = TextAnalysis.tokenEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byId(1L) === ((4L, 0.0)))
    assert(byId(2L)._1 === 4L)
    assert(math.abs(byId(2L)._2 - math.log(4.0)) < 1e-6)
    val h3 = -(2.0 / 3) * math.log(2.0 / 3) - (1.0 / 3) * math.log(1.0 / 3)
    assert(byId(3L)._1 === 3L)
    assert(math.abs(byId(3L)._2 - h3) < 1e-6)
    assert(byId(4L) === ((0L, 0.0)))
  }

  test("weighted sample: deterministic, k rows, clocks ascending, weight-biased") {
    val out1 = Corpus.weightedSample(docs, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val out2 = Corpus.weightedSample(docs, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out1.toSeq === out2.toSeq, "sample must be reproducible")
    assert(out1.length === 50)
    assert(out1.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      "winners must surface in clock order")
    // size bias: exponential clocks with rate n_chars favor long docs —
    // the sampled mean length must exceed the corpus mean
    val corpusMean = docs.agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    val sampleMean = out1.map(_._2).sum.toDouble / out1.length
    assert(sampleMean > corpusMean,
      s"weighted sample not size-biased: $sampleMean <= $corpusMean")
  }

  test("bigram perplexity scores add-1-smoothed NLL; short docs surface with 0") {
    import spark.implicits._
    val d = Seq((1L, "a b", 3L), (2L, "a b", 3L), (3L, "a c", 3L), (4L, "a", 1L))
      .toDF("doc_id", "text", "n_chars")
    // LM: c(a b)=2, c(a c)=1; c_prev(a)=3; V={a,b,c}=3
    val byId = TextAnalysis.bigramPerplexity(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byId(1L)._1 === 1L)
    assert(math.abs(byId(1L)._2 - math.log(2.0)) < 1e-6)   // P=3/6
    assert(math.abs(byId(3L)._2 - math.log(3.0)) < 1e-6)   // P=2/6
    assert(byId(4L) === ((0L, 0.0)))                       // no bigrams
  }

  test("source overlap counts shared fingerprints per source pair, order-blind") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b", "s1", 3L), (2L, "b a", "s2", 3L),  // same bag-of-words fp
      (3L, "c", "s1", 1L), (4L, "c", "s3", 1L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Corpus.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(("s1", "s2", 1L), ("s1", "s3", 1L)))
  }

  test("pmi ranks exclusive pairs above promiscuous ones") {
    import spark.implicits._
    // "x y" always co-occur exclusively; "a" pairs with many partners
    val rows = (1 to 5).map(i => (i.toLong, "x y", 3L)) ++
      Seq((6L, "a b a c a d a e a b a c a d a e", 31L))
    val d = rows.toDF("doc_id", "text", "n_chars")
    val out = TextAnalysis.pmiPhrases(d, minCount = 5, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out.head._1 === "x" && out.head._2 === "y",
      s"exclusive pair must rank first: ${out.toSeq}")
    assert(out.map(_._4).sliding(2).filter(_.length == 2).forall(p => p(0) >= p(1)))
  }

  test("contrastive pairs: every doc gets two deterministic negatives, never itself") {
    val out1 = Corpus.contrastivePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out2 = Corpus.contrastivePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out1.toSeq === out2.toSeq, "negative choice must be reproducible")
    assert(out1.length === docs.count())
    assert(out1.forall { case (id, n1, n2) => n1 != id && n2 != id },
      "anchor must never be its own negative")
  }

  test("contrastive pairs: corpus smaller than the bucket ring still gives every doc negatives") {
    import spark.implicits._
    // 5 docs over a 32-bucket ring → ≥ 27 empty buckets; the nominal
    // (bucket + step) % 32 walk would drop steps landing on them
    // (ADVICE r5). The populated-bucket ring must keep 2 negatives per
    // doc, deterministic, never the anchor itself.
    val tiny = (1L to 5L).map(i => (i, s"doc number $i text")).toDF("doc_id", "text")
    val out = Corpus.contrastivePairs(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 5, s"every doc must survive: ${out.toSeq}")
    assert(out.forall { case (id, n1, n2) => n1 != id && n2 != id },
      s"anchor as its own negative: ${out.toSeq}")
    val again = Corpus.contrastivePairs(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === again.toSeq, "negative choice must be reproducible")
  }

  test("rep-n stats count duplicate n-gram fractions exactly") {
    import spark.implicits._
    val d = Seq((1L, "a b a b a b", 11L), (2L, "a b c", 5L), (3L, "a", 1L))
      .toDF("doc_id", "text", "n_chars")
    val byId = TextAnalysis.repNgramStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // doc1 2-grams: ab,ba,ab,ba,ab -> 5 total / 2 distinct -> 6000bp;
    //      3-grams: aba,bab,aba,bab -> 4 total / 2 distinct -> 5000bp
    assert(byId(1L) === ((5L, 6000L, 4L, 5000L)))
    assert(byId(2L) === ((2L, 0L, 1L, 0L)))    // all distinct
    assert(byId(3L) === ((0L, 0L, 0L, 0L)))    // too short for any n-gram
  }

  test("lang confusion matrix partitions the corpus and stays in the lang set") {
    val out = TextAnalysis.langConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._3).sum === docs.count())
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(out.forall { case (a, p, _) => langs.contains(a) && langs.contains(p) })
  }

  test("stopword filter removes only marker tokens and hashes the remainder") {
    import spark.implicits._
    val d = Seq(
      (1L, "the data row stays here"),     // removes the/data/row
      (2L, "nothing matches at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stopwordFilter(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L)._1 === 3L)
    assert(out(2L)._1 === 0L)
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._2 === md5("stays here"))
    assert(out(2L)._2 === md5("nothing matches at all"))
  }

  test("length histogram bins by integer division with exact bounds") {
    import spark.implicits._
    val d = Seq((1L, 10L), (2L, 49L), (3L, 50L), (4L, 149L))
      .toDF("doc_id", "n_chars")
    val out = Corpus.lengthHistogram(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((0L, 2L, 10L, 49L), (1L, 1L, 50L, 50L),
      (2L, 1L, 149L, 149L)))
  }

  test("quality rules gate on exact integer boundaries") {
    import spark.implicits._
    // 20 distinct tokens incl. two stop markers: passes everything
    val good = (Seq("hash", "batch") ++
      (1 to 18).map(i => f"tok$i%02d")).mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, (1 to 19).map(i => f"tok$i%02d").mkString(" ")),  // 19 toks: r_len fails
      (3L, (Seq("hash", "batch") ++ (1 to 18).map(_ => "42")).mkString(" ")), // digit-heavy
      (4L, (Seq("hash", "batch") ++ (1 to 18).map(_ => "ab")).mkString(" "))) // short+repetitive
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityRules(docs).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(out(1L) === ((true, true, true, true, true, true)))
    // doc 2: length gate fails, stop gate fails; everything else passes
    assert(out(2L) === ((false, true, false, true, true, false)))
    // doc 3: 18/20 digit-only → r_digit fails; top bigram "42 42" is
    // 17/19 bigrams → r_rep fails
    assert(out(3L)._4 === false && out(3L)._5 === false)
    // doc 4: sum_len = 4+5+18·2 = 45 < 3·20 → r_word fails; "ab ab"
    // dominates bigrams → r_rep fails; stop gate still passes
    assert(out(4L) === ((true, false, true, true, false, false)))
  }

  test("ngram counts are order-sensitive and include duplicates") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val counts = Corpus.ngramCounts(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "a b" twice in doc1; "b a" once in doc1 (positions 2-3) + once in doc2
    assert(counts === Map("a b" -> 2L, "b a" -> 2L))
  }

  test("embedding coverage reports per-source holes and orphan vectors") {
    import spark.implicits._
    val documents = Seq(
      (1L, "web"), (2L, "web"), (3L, "books"))
      .toDF("doc_id", "source")
    val embeddings = Seq(1L, 3L, 9L).toDF("vec_id")  // 2 covered, 9 is orphan
    val out = Corpus.embeddingCoverage(documents, embeddings).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("__vectors_without_doc__", 1L, 0L, 0L),
      ("books", 1L, 1L, 10000L),
      ("web", 2L, 1L, 5000L)))
  }

  test("embedding coverage never shuffles the vector arrays") {
    val p = Corpus.embeddingCoverage(docs, Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    // column pruning must reduce the embeddings scan to the 8-byte id
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"),
      s"embedding arrays read into the audit join:\n$p")
  }

  test("leakage-safe split: no near-dup pair straddles splits") {
    import org.apache.spark.sql.functions.{coalesce, col, conv, md5, substring, when, lit}
    val pairs = Dedup.minhashLsh(docs, 0.8).select(col("doc_a"), col("doc_b"))
    val labels = Corpus.componentLabels(pairs)
    val split = docs.select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"),
        (conv(substring(md5(coalesce(col("label"), col("doc_id"))
          .cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100).as("b"))
      .select(col("doc_id"),
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test").as("split"))
    val straddle = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() === 0, "a near-dup pair crosses splits")
    labels.unpersist()
    // and the audit totals cover the whole corpus exactly once
    val out = Corpus.leakageSafeSplit(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
  }

  test("indexed keep-best (q172) equals the recompute path bit-for-bit") {
    // the store-equals-recompute proof: resolving clusters from the
    // materialized labels table must reproduce q93 exactly
    val recompute = Corpus.clusterKeepBest(docs).collect().toSeq
    val indexed = Corpus.clusterKeepBestIndexed(docs).collect().toSeq
    assert(indexed === recompute)
    assert(indexed.nonEmpty)
  }

  test("curation index audit (q171) matches counts computed off the live frames") {
    val out = Corpus.buildCurationIndex(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set("fingerprints", "labels"))
    // fingerprint table: one row per document
    assert(out("fingerprints")._1 === docs.count())
    // labels table: near-dup survivors only — every labeled id appears in
    // some LSH pair
    val paired = Dedup.minhashLsh(docs).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(out("labels")._1 === paired.size)
  }

  test("fp index update (q176): updated = corpus + survivors, lossless round-trip") {
    val out = Corpus.updateFingerprintIndex(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet === Set("1_corpus", "2_batch_new", "3_updated"))
    // the new generation holds exactly the old rows plus the survivors
    assert(out("3_updated")._1 === out("1_corpus")._1 + out("2_batch_new")._1)
    assert(out("3_updated")._3 === out("1_corpus")._3 + out("2_batch_new")._3)
    // survivors are genuinely new fingerprints: distinct-fp count grows
    // by at least one per surviving distinct fp being disjoint from the
    // corpus set — i.e. updated distinct = corpus distinct + survivor distinct
    assert(out("3_updated")._2 === out("1_corpus")._2 + out("2_batch_new")._2)
    assert(out("2_batch_new")._1 > 0, "fixture has no surviving batch docs")
  }

  test("incremental ingest (q173): no cross-batch near-dup straddles a split") {
    val asg = Corpus.ingestAssignments(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // old-corpus splits under the same rule: unit = cluster label if
    // clustered else own id, hashed with the shared bucket arithmetic
    val labels = Corpus.componentLabels(
      Dedup.minhashLsh(docs).select(col("doc_a"), col("doc_b")))
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    def split(unit: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(unit.toString.getBytes("UTF-8"))
      val b = java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    // every cross-batch LSH pair (old even, new odd & surviving) must
    // land both ends in the same split
    val pairs = Dedup.minhashLsh(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cross = pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a)).collect {
        case (old, nw) if old % 2 == 0 && nw % 2 == 1 && asg.contains(nw) =>
          (old, nw)
      }
    }
    assert(cross.nonEmpty, "fixture has no cross-batch near-dup to test")
    cross.foreach { case (old, nw) =>
      val oldSplit = split(lab.getOrElse(old, old))
      assert(asg(nw) === oldSplit,
        s"near-dup pair ($old, $nw) straddles splits: $oldSplit vs ${asg(nw)}")
    }
    // and exact duplicates of the corpus never reach assignment at all
    val fpOf = docs.select(col("doc_id"),
      md5(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " ")).cast("binary")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val corpusFps = fpOf.collect { case (id, fp) if id % 2 == 0 => fp }.toSet
    fpOf.foreach { case (id, fp) =>
      if (id % 2 == 1 && corpusFps(fp))
        assert(!asg.contains(id), s"exact dup $id survived ingest")
    }
  }

  // walk every data file under a bucketed store: path -> (length, mtime)
  private def storeFiles(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
  }

  test("bucketed merge (q192): clean buckets' files are physically untouched") {
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_bktspec_").toString
    try {
      val store = s"$scratch/store"
      docs.select(col("doc_id").as("ent"), col("doc_id"),
          md5(col("text").cast("binary")).as("fp"))
        .withColumn("bkt", Corpus.bktOf(col("ent"), 64))
        .repartition(8, col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(store)
      val before = storeFiles(store)
      assert(before.nonEmpty)
      // revise a handful of entities (and tombstone one of them)
      val batch = docs.filter(col("doc_id") % 100 === 5)
        .select(col("doc_id").as("ent"), col("doc_id"),
          md5(concat(col("text"), lit("#rev")).cast("binary")).as("fp"),
          (col("doc_id") % 3 === 0).as("del"))
        .withColumn("bkt", Corpus.bktOf(col("ent"), 64))
      val dirtyBkts = batch.select(col("bkt").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(dirtyBkts.nonEmpty && dirtyBkts.size < 100,
        s"fixture should dirty a strict subset of buckets: $dirtyBkts")
      val nDirty = Corpus.mergeBatchInto(store, batch)
      assert(nDirty === dirtyBkts.size)
      val after = storeFiles(store)
      def bucketOfPath(p: String): Long =
        "bkt=([0-9]+)".r.findFirstMatchIn(p).get.group(1).toLong
      // clean buckets: byte-identical file sets (same paths, lengths, mtimes)
      val cleanBefore = before.filter { case (p, _) => !dirtyBkts(bucketOfPath(p)) }
      val cleanAfter = after.filter { case (p, _) => !dirtyBkts(bucketOfPath(p)) }
      assert(cleanAfter === cleanBefore,
        "a clean bucket's files changed — the merge rewrote more than the dirty set")
      // dirty buckets that still hold rows: fully new files (dynamic
      // overwrite replaces the partition's contents)
      val dirtyBeforePaths = before.keySet.filter(p => dirtyBkts(bucketOfPath(p)))
      val dirtyAfterPaths = after.keySet.filter(p => dirtyBkts(bucketOfPath(p)))
      assert(dirtyBeforePaths.intersect(dirtyAfterPaths).isEmpty,
        "dynamic overwrite left an old file in a rewritten bucket")
      // and the merged store equals a from-scratch latest-wins recompute
      val got = spark.read.parquet(store)
        .select(col("ent"), col("fp")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val baseFp = docs.select(col("doc_id"),
          md5(col("text").cast("binary")).as("fp")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val revFp = docs.filter(col("doc_id") % 100 === 5)
        .select(col("doc_id"),
          md5(concat(col("text"), lit("#rev")).cast("binary")).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = baseFp.keys.flatMap { id =>
        if (id % 100 == 5) {
          if (id % 3 == 0) None else Some(id -> revFp(id))
        } else Some(id -> baseFp(id))
      }.toMap
      assert(got === expected)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(scratch))
  }

  test("bucketed merge (q192): the pruned store read carries dynamic " +
    "partition pruning on the bkt= scan") {
    // ADVICE r13: the prune relies on Spark inserting a DPP subquery
    // off the build side's always-true `bkt >= 0` predicate — a
    // version/AQE-sensitive behavior. Without it the semi-join
    // full-scans every bucket directory and the merge silently re-pays
    // the corpus-wide read q192 exists to retire. Encode the hand
    // verification as a plan pin.
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_bktdpp_").toString
    try {
      val store = s"$scratch/store"
      docs.select(col("doc_id").as("ent"), col("doc_id"),
          md5(col("text").cast("binary")).as("fp"))
        .withColumn("bkt", Corpus.bktOf(col("ent"), 64))
        .repartition(8, col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(store)
      val dirtyF = docs.filter(col("doc_id") % 100 === 5)
        .select(Corpus.bktOf(col("doc_id"), 64).cast("long").as("bkt"))
        .distinct().localCheckpoint()
      val p = Corpus.dirtyStoreScan(spark, store, dirtyF)
        .queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"dirty-bucket store scan lost dynamic partition pruning:\n$p")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(scratch))
  }

  test("bucketed merge (q192): an all-tombstoned bucket is dropped, not left stale") {
    import spark.implicits._
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_bktspec2_").toString
    try {
      val store = s"$scratch/store"
      val base = Seq.tabulate(40)(i => (i.toLong, s"doc body $i"))
        .toDF("doc_id", "text")
      base.select(col("doc_id").as("ent"), col("doc_id"),
          md5(col("text").cast("binary")).as("fp"))
        .withColumn("bkt", Corpus.bktOf(col("ent"), 64))
        .repartition(4, col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(store)
      // pick a bucket holding exactly one entity (40 ents over 64
      // buckets: singleton buckets dominate) and tombstone that entity
      val byBkt = spark.read.parquet(store)
        .groupBy(col("bkt").cast("long").as("b"))
        .agg(count(lit(1)).as("n"), min(col("ent")).as("ent"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val (lone, _, loneEnt) = byBkt.find(_._2 == 1L)
        .getOrElse(fail("no singleton bucket in fixture"))
      val batch = Seq((loneEnt, loneEnt, "dead", true))
        .toDF("ent", "doc_id", "fp", "del")
        .withColumn("bkt", Corpus.bktOf(col("ent"), 64))
      Corpus.mergeBatchInto(store, batch)
      assert(!new java.io.File(s"$store/bkt=$lone").exists(),
        "an all-tombstoned bucket must be dropped — dynamic overwrite " +
          "alone would have left its stale files in place")
      val left = spark.read.parquet(store)
      assert(left.filter(col("ent") === loneEnt).count() === 0)
      assert(left.count() === 39)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(scratch))
  }

  test("bucketed merge (q192): audit generations are consistent") {
    val out = Corpus.bucketedIndexMerge(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.map(_._1).toSeq === Seq("g0", "g1", "g2", "g3"))
    val total = docs.count()
    out.foreach { case (st, nRows, nEnts, nDirty, _) =>
      assert(nRows === nEnts, s"$st: ent must stay a unique key")
      assert(nRows <= total)
      if (st == "g0") assert(nDirty === 0) else assert(nDirty > 0)
    }
    // generations only shed rows through tombstones, and a tombstoned
    // entity is never revived by a later batch (the %4=0 always-revised
    // class re-tombstones its %3=0 members every time), so the final
    // live set is exactly the corpus minus the batch band's %3=0 ids
    val deleted =
      docs.filter(col("doc_id") < 96 && col("doc_id") % 3 === 0).count()
    assert(out.last._2 === total - deleted)
  }
}
