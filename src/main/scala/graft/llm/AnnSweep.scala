package graft.llm

import org.apache.spark.sql.SparkSession

/** Dev-only operating-point sweep for the trained IVF index (VERDICT r8
  * Next #1): measures recall@5 against the brute-force truth and the
  * actual scanned fraction for a (kCells, iters, nProbe) grid, so the
  * registered defaults are a MEASURED production point (target: ≥ 90%
  * recall at ≤ 15% scan), not a guess. Not part of the query surface.
  *
  * Usage: sbt "runMain graft.llm.AnnSweep [sfDir ...]"
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (sfDir <- sfDirs) {
      val emb = graft.Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val truth = Similarity.cosineTopK(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"== $sfDir  n=$n  truth=${truth.size}")
      val sqrtN = math.ceil(math.sqrt(n.toDouble)).toInt
      val kGrid = Seq(16, sqrtN, 2 * sqrtN, 4 * sqrtN).distinct.sorted
      for (kCells <- kGrid; iters <- Seq(2, 4, 6)) {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val (asg, cents) = Similarity.trainLloyd(emb, kCells, iters)
        val probeGrid = Seq(1, 2, 3, 4, 6, 8, 12, 16, 24, 32)
          .filter(p => p <= kCells && p.toDouble / kCells <= 0.30)
        for (nProbe <- probeGrid) {
          val cand = Similarity.ivfCandidates(emb, asg, cents, 10, nProbe).count()
          val frac = cand.toDouble / (10.0 * n)
          val got = Similarity.ivfTopKWith(emb, asg, cents, 10, 5, nProbe)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val recall = (truth intersect got).size.toDouble / truth.size
          println(f"k=$kCells%4d iters=$iters probe=$nProbe%3d  " +
            f"recall=${recall * 10000}%5.0f bp  scan=${frac * 100}%5.1f%%")
        }
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before(id) }
          .values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}

/** Dev-only operating-point sweep for the IVF-PQ hybrid (q186): one
  * shared trained coarse codebook + PQ codebook per fixture, then
  * recall@5 and the COMPRESSED-scan fraction over an (nProbe, R) grid —
  * the frontier PERF.md r11 records so the registered
  * [[Similarity.IvfPqProbeFrac]]/[[Similarity.RegisteredFixedR]] pair is
  * a measured point. Not part of the query surface.
  *
  * Usage: sbt "runMain graft.llm.IvfPqSweep [sfDir ...]"
  */
object IvfPqSweep {
  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (sfDir <- sfDirs) {
      val emb = graft.Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val truth = Similarity.cosineTopK(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (asg, cents) = Similarity.trainLloyd(emb)
      val cb = Similarity.trainPqCodebook(emb)
      val recon = Similarity.pqReconstruct(emb, cb, 16, 64).localCheckpoint()
      val kCells = math.ceil(math.sqrt(n.toDouble)).toInt
      println(s"== $sfDir  n=$n  kCells=$kCells  " +
        s"(registered nProbe=${math.ceil(0.40 * kCells).toInt}, R=60)")
      val probeGrid = Seq(0.13, 0.20, 0.30, 0.40, 0.50, 0.65)
        .map(f => f -> math.ceil(f * kCells).toInt)
      for ((f, nProbe) <- probeGrid) {
        val scanned = Similarity
          .ivfCandidates(emb, asg, cents, 10, nProbe).count()
          .toDouble / (10.0 * n)
        for (r <- Seq(30, 60, 120)) {
          val got = Similarity
            .ivfPqFrom(recon, asg, cents, emb, 10, 5, nProbe, r)
            .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
          val recall = (truth intersect got).size.toDouble / truth.size
          println(f"frac=$f%.2f nProbe=$nProbe%3d R=$r%3d  " +
            f"recall=${recall * 10000}%5.0f bp  adc_scan=${scanned * 100}%5.1f%%  " +
            f"raw_reads/probe=$r")
        }
      }
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}

/** Dev-only recall-vs-R sweep for the FIXED-depth PQ refine (q185,
  * VERDICT r9 Next #6): one shared trained codebook per fixture, then
  * recall@5 at a grid of absolute refine depths R, printed next to the
  * corpus fraction each R buys — the curve PERF.md r10 records so the
  * registered R is a measured point. Not part of the query surface.
  *
  * Usage: sbt "runMain graft.llm.PqSweep [sfDir ...]"
  */
object PqSweep {
  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (sfDir <- sfDirs) {
      val emb = graft.Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val truth = Similarity.cosineTopK(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val cb = Similarity.trainPqCodebook(emb)
      println(s"== $sfDir  n=$n  (q178 dynamic depth = ${math.ceil(0.12 * n).toInt})")
      for (r <- Seq(15, 30, 60, 120, 240, 600)) {
        val got = Similarity.pqRefineWith(emb, cb, 10, 5, 16, fixedR = r)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        val recall = (truth intersect got).size.toDouble / truth.size
        println(f"R=$r%4d  recall=${recall * 10000}%5.0f bp  " +
          f"frac=${100.0 * r / n}%6.2f%%")
      }
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}

/** Dev-only beam/hop sweep of the graph tier at N≈1e5 (r13): builds the
  * graph ONCE on the AnnScale synthetic corpus, then measures recall@5
  * and serve wall over a (beam, hops) grid — the operating-point
  * evidence for the served beam budget. Not part of the query surface.
  *
  * Usage: sbt "runMain graft.llm.GraphSweep [n]"
  */
object GraphSweep {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(hash(col("id"), d), lit(2000)) - 1000) / lit(1000.0))
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .localCheckpoint()
    val truth = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // optional recipe override:
    // "degreeIn,degreeOut,poolIn,poolOut,fcells[,alphaNum,alphaDen]"
    val recipe = if (args.length > 1) args(1).split(',').map(_.toInt)
      else Array(GraphAnn.DegreeIn, GraphAnn.DegreeOut, GraphAnn.PoolIn,
        GraphAnn.PoolOut, GraphAnn.ForeignCells,
        GraphAnn.AlphaNum.toInt, GraphAnn.AlphaDen.toInt)
    // exactly 5 (defaults for α) or 7 fields — a 6-field recipe would
    // otherwise silently drop the caller's alphaNum (ADVICE r14 #1)
    require(recipe.length == 5 || recipe.length == 7,
      s"recipe needs 5 or 7 comma-separated ints " +
        s"(got ${recipe.length}): degreeIn,degreeOut,poolIn,poolOut," +
        "fcells[,alphaNum,alphaDen]")
    val (aN, aD) = if (recipe.length == 7) (recipe(5).toLong, recipe(6).toLong)
      else (GraphAnn.AlphaNum, GraphAnn.AlphaDen)
    val (v, edgesRaw, medoidsRaw, centsRaw, coarseRaw) =
      GraphAnn.graphFrames(emb, degreeIn = recipe(0), degreeOut = recipe(1),
        poolIn = recipe(2), poolOut = recipe(3), fcells = recipe(4),
        aNum = aN, aDen = aD)
    val edges = edgesRaw.localCheckpoint()
    val medoids = medoidsRaw.withColumn("cell", col("cluster"))
      .localCheckpoint()
    val cents = centsRaw.localCheckpoint()
    val coarse = coarseRaw.localCheckpoint()
    val base = v.select(col("vec_id"), col("embedding"), col("nrm"),
        col("cluster"))
      .localCheckpoint()
    // the product fresh-path scoring join (r18 fold-in shape)
    val joinBase = GraphAnn.freshJoinBase(base)
    val probes = Similarity.probesFrame(emb, 10).localCheckpoint()
    println(s"== graph sweep n=$n recipe=${recipe.mkString(",")} " +
      s"edges=${edges.count()}")
    val grid: Seq[(Int, Int)] = if (args.length > 2)
      args(2).split(';').toSeq.map { s =>
        val Array(b, h) = s.split(','); (b.toInt, h.toInt)
      }
    else for (beam <- Seq(24, 48, 96, 192); hops <- Seq(3, 4))
      yield (beam, hops)
    for ((beam, hops) <- grid) {
      val t0 = System.nanoTime()
      val got = GraphAnn.beamFrom(probes, joinBase,
          GraphAnn.expandWith(edges),
          medoids, cents, coarse, 5, beam, hops)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (truth intersect got).size.toDouble / truth.size
      println(f"beam=$beam%4d hops=$hops  recall=${recall * 10000}%5.0f bp" +
        f"  wall=${(System.nanoTime() - t0) / 1e9}%5.1f s")
    }
    spark.stop()
  }
}

/** Dev-only N≈1e5 measurement of the graph-LIFECYCLE serve's recall
  * per state (q212 two decades above fixture): the erosion number —
  * pre-compaction g2 (lazy-repair degraded graph) vs post-compaction
  * g3c (fresh rebuild) recall@5 over each state's live corpus.
  * Usage: sbt "runMain graft.llm.LifecycleSweep [n]"
  */
object LifecycleSweep {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(hash(col("id"), d), lit(2000)) - 1000) / lit(1000.0))
            .cast("float")).as("embedding"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val rows = GraphLifecycle.graphLifecycleRecall(emb, s"lcsweep$n")
      .collect()
    println(f"== lifecycle recall n=$n wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
    rows.foreach(r => println(
      f"state=${r.getString(0)}%4s truth=${r.getLong(1)}%3d " +
        f"hits=${r.getLong(2)}%3d recall=${r.getLong(3)}%5d bp"))
    // the 10%-churn erosion point (r16, VERDICT r15 next #8): the first
    // churn level where lazy repair measurably BINDS (+380 bp at the
    // r15 ChurnSweep) — kept in the default sweep output so the number
    // stays watched round over round without re-running the full
    // ChurnSweep grid. Trigger bypassed, the ChurnSweep mechanics at
    // the single binding point.
    val q0 = Similarity.quantized(
      emb.select(col("vec_id"), col("embedding")), 1000).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_lcsweep_churn_").toString
    try {
      GraphLifecycle.seedStoreAt(q0, root)
      val arr = q0.filter(pmod(col("vec_id"), lit(100)) < 10)
        .select(col("vec_id"),
          transform(col("qe"), x => x + lit(500L)).as("qe"),
          lit(false).as("del"))
      GraphLifecycle.ingestOnly(spark, root, arr, 1L)
      val eroded = GraphLifecycle.recallLegAt(spark,
        GraphLifecycle.currentBaseOf(root), "c10", 100, 5).collect()(0)
      GraphLifecycle.rebuildAt(spark, root)
      val rebuilt = GraphLifecycle.recallLegAt(spark,
        GraphLifecycle.currentBaseOf(root), "c10r", 100, 5).collect()(0)
      println(f"churn=10%% eroded=${eroded.getLong(3)}%5d bp " +
        f"rebuilt=${rebuilt.getLong(3)}%5d bp " +
        f"erosion=${rebuilt.getLong(3) - eroded.getLong(3)}%5d bp " +
        "(r15 reference: +380 bp)")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
    spark.stop()
  }
}

/** Dev-only SCANNED-FRACTION gauge of the served graph search at
  * N≈1e5 (r15/r16, VERDICT r14 #1 + r15 #1/#2's acceptance rows):
  * builds the stored graph once, reports the store's FILE COUNT (the
  * bounded-layout claim), then replays the serve with an instrumented
  * base read that records each pass's candidate-cell census AND the
  * node-scan BYTES actually read (task input metrics) — the measured
  * fraction of the stored bytes the DPP-pruned bucket reads touch vs
  * one full node-table scan. The gauge ASSERTS the pruned serve reads
  * fewer node bytes than `hops+2` full scans would — the r14
  * regression this machinery exists to prevent. Not part of the query
  * surface.
  *
  * Usage: sbt "runMain graft.llm.GraphScanFrac [n]"
  */
object GraphScanFrac {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(hash(col("id"), d), lit(2000)) - 1000) / lit(1000.0))
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val root = GraphAnn.GannIndex.root(emb, s"scanfrac$n")
    println(f"   [build took ${(System.nanoTime() - t0) / 1e9}%.1f s]")
    val nodes = spark.read.parquet(s"$root/nodes")
    val totalCells = nodes.select(col("cluster")).distinct().count()
    // the bounded-layout receipts: data files + dirs under nodes/ and
    // edges/ (null-guarded listFiles — ADVICE r16 #3)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(s"$root/nodes"))
      .filter(_.getName.endsWith(".parquet"))
    val storeBytes = files.map(_.length()).sum
    println(s"== node store layout: ${files.size} data files " +
      f"(${storeBytes / 1e6}%.1f MB) for $totalCells cells " +
      s"(r15 layout: $totalCells files)")
    val edgeFiles = walk(new java.io.File(s"$root/edges"))
      .filter(_.getName.endsWith(".parquet"))
    val edgeRows = spark.read.parquet(s"$root/edges").count()
    println(s"== edge store layout: ${edgeFiles.size} data files " +
      f"(${edgeFiles.map(_.length()).sum / 1e6}%.1f MB, $edgeRows rows) " +
      s"bucketed on the source cell (r16 layout: 1 flat table)")
    // --- pruning micro-check (the r16 acceptance assert): a census
    // SMALLER than the bucket count must skip files AND rows on the
    // DPP-pruned read. AQE off so the executed plan is concrete and the
    // scan node's own metrics are readable. (A beam pass's census at
    // fixture N saturates the cells — see the per-pass report below —
    // so the skipping property is asserted where the layout can
    // express it: census < buckets, the production regime.)
    // save/restore the prior AQE value instead of hard-coding "true"
    // on the way out (ADVICE r16 #3)
    val aqePrior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val smallCells = nodes.select(col("cluster")).distinct()
      .orderBy(col("cluster")).limit(5)
      .select(col("cluster").as("cell"))
      .localCheckpoint()
    def scanOf(df: org.apache.spark.sql.DataFrame, loc: String) =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains(loc)) => f
      }.getOrElse(sys.error(s"$loc scan not found in executed plan"))
    val prunedRead = GraphAnn.servedBaseRead(spark, root)(smallCells)
    // collect() executes THIS dataset's QueryExecution — a write would
    // plan a fresh one and leave these metrics at zero
    prunedRead.collect()
    val sc = scanOf(prunedRead, "/nodes")
    val scannedFiles = sc.metrics("numFiles").value
    val scannedRows = sc.metrics("numOutputRows").value
    println(s"== 5-cell census pruned NODE read: $scannedFiles of " +
      s"${files.size} files, $scannedRows of $n rows scanned")
    assert(scannedFiles < files.size,
      s"DPP read $scannedFiles of ${files.size} files — not skipping")
    assert(scannedRows < n,
      s"DPP read $scannedRows of $n rows — not skipping")
    // the r17 edge twin: a frontier confined to the same 5 cells must
    // skip edge files AND rows on its expansion's DPP-pruned base scan
    val smallFrontier = nodes.join(smallCells,
        nodes("cluster") === smallCells("cell"), "left_semi")
      .select(col("vec_id").as("probe_id"), col("vec_id").as("node"),
        col("cluster").as("cell"))
    val prunedEdges = GraphAnn.servedExpand(spark, root)(smallFrontier)
    prunedEdges.collect()
    val se = scanOf(prunedEdges, "/edges")
    val eScannedFiles = se.metrics("numFiles").value
    val eScannedRows = se.metrics("numOutputRows").value
    println(s"== 5-cell census pruned EDGE read: $eScannedFiles of " +
      s"${edgeFiles.size} files, $eScannedRows of $edgeRows rows scanned")
    assert(eScannedFiles < edgeFiles.size,
      s"edge DPP read $eScannedFiles of ${edgeFiles.size} files — " +
        "not skipping")
    assert(eScannedRows < edgeRows,
      s"edge DPP read $eScannedRows of $edgeRows rows — not skipping")
    spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
    val rowsPerCell = n.toDouble / totalCells
    for (nProbes <- Seq(10, 1)) {
      val passes = scala.collection.mutable.ArrayBuffer.empty[Long]
      // instrument the PRODUCT r18 candidate-join read: checkpoint the
      // candidate frame (gauge-only — the product path no longer pays
      // this job) and count its distinct cells as the pass census
      val joinBase0 = GraphAnn.servedJoinBase(spark, root)
      val joinBase: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = candF => {
        val cf = candF.localCheckpoint()
        passes += cf.select(col("cell")).distinct().count()
        joinBase0(cf)
      }
      val t1 = System.nanoTime()
      GraphAnn.beamFrom(Similarity.probesFrame(emb, nProbes), joinBase,
          GraphAnn.servedExpand(spark, root),
          spark.read.parquet(s"$root/medoids")
            .withColumn("cell", col("cluster")),
          spark.read.parquet(s"$root/centroids"),
          spark.read.parquet(s"$root/coarse"), 5)
        .write.format("noop").mode("overwrite").save()
      println(f"   [serve took ${(System.nanoTime() - t1) / 1e9}%.1f s]")
      println(s"== graph serve scan fractions n=$n cells=$totalCells " +
        s"probes=$nProbes")
      passes.zipWithIndex.foreach { case (c, i) =>
        val name = if (i == 0) "seed " else if (i == passes.size - 1) "final"
          else s"hop $i"
        println(f"$name: cells=$c%4d  frac=${100.0 * c / totalCells}%5.1f%% " +
          f"(~${c * rowsPerCell / n * 100}%5.1f%% of rows)")
      }
    }
    spark.stop()
  }
}

/** Dev-only N≈1e5 measurement of the FILTERED graph search (q219/q220)
  * — recall@5 vs the filtered brute truth, WITH the self-widening
  * budgets vs WITHOUT (the q204-style evidence that the widening is
  * what defends recall under a ~0.5-selectivity predicate). Not part
  * of the query surface.
  *
  * Usage: sbt "runMain graft.llm.FilteredGraphScale [n]"
  */
object FilteredGraphScale {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(hash(col("id"), d), lit(2000)) - 1000) / lit(1000.0))
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .localCheckpoint()
    val base = emb.select(col("vec_id"), col("embedding"), col("label"),
      Similarity.l2norm(col("embedding")).as("nrm")).localCheckpoint()
    val probes = Similarity.probesFrame(emb, 10).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = base.filter(col("label") % 2 === 0)
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(
        graft.functions.VectorFunctions.floatDot(col("pe"), col("embedding"))
          / (col("pn") * col("nrm")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val t0 = System.nanoTime()
    val root = GraphAnn.GannIndex.root(emb, s"fgscale$n")
    println(f"   [build took ${(System.nanoTime() - t0) / 1e9}%.1f s]")
    val t1 = System.nanoTime()
    val widened = recallOf(
      GraphAnn.beamTopKFilteredServed(emb, s"fgscale$n")
        .select(col("probe_id"), col("neighbor_id")))
    println(f"filtered+widened:   recall=${widened * 10000}%5.0f bp " +
      f"(wall ${(System.nanoTime() - t1) / 1e9}%.1f s)")
    // the UNWIDENED control: same predicate-filtered base, default
    // budgets — what a naive filtered beam loses
    val t2 = System.nanoTime()
    val unwidened = recallOf(
      GraphAnn.beamFrom(probes,
          GraphAnn.servedJoinBase(spark, root,
            Some(col("label") % 2 === 0)),
          GraphAnn.servedExpand(spark, root),
          spark.read.parquet(s"$root/medoids")
            .withColumn("cell", col("cluster")),
          spark.read.parquet(s"$root/centroids"),
          spark.read.parquet(s"$root/coarse"), 5)
        .select(col("probe_id"), col("neighbor_id")))
    println(f"filtered unwidened: recall=${unwidened * 10000}%5.0f bp " +
      f"(wall ${(System.nanoTime() - t2) / 1e9}%.1f s)")
    spark.stop()
  }
}

/** Dev-only EROSION-vs-CHURN measurement at N≈1e5 (r15, VERDICT r14
  * missing #3): the q212 gauge at churn levels where lazy repair
  * actually BINDS. One shared gen-0 store; per churn point c ∈
  * {5, 10, 20, 30}% the store is copied, c% of entities are re-written
  * in one delta generation (drifted, no tombstones — pure re-write
  * churn), and recall@5 over 100 probes (±~20 bp resolution) is
  * measured on the ERODED store vs a from-scratch REBUILD of the same
  * live set — the pair the compaction-trigger policy trades between.
  * The compaction trigger is bypassed on ingest (it would repair the
  * 10–30% points on the spot — the whole reason q212's fixture churn
  * read parity). Not part of the query surface.
  *
  * Usage: sbt "runMain graft.llm.ChurnSweep [n]"
  */
object ChurnSweep {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(hash(col("id"), d), lit(2000)) - 1000) / lit(1000.0))
            .cast("float")).as("embedding"))
      .localCheckpoint()
    val q0 = Similarity.quantized(
      emb.select(col("vec_id"), col("embedding")), 1000).localCheckpoint()
    val seedRoot =
      java.nio.file.Files.createTempDirectory("graft_churn_seed_").toString
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      println(f"   [$what took ${(System.nanoTime() - t0) / 1e9}%.1f s]"); a
    }
    try {
      timed("gen-0 build")(GraphLifecycle.seedStoreAt(q0, seedRoot))
      for (c <- Seq(5, 10, 20, 30)) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_churn_$c").toString
        try {
          graft.FsUtil.copyRecursively(new java.io.File(seedRoot),
            new java.io.File(root))
          // c% of entities re-written with the fixture drift, one delta
          val arr = q0.filter(pmod(col("vec_id"), lit(100)) < c)
            .select(col("vec_id"),
              transform(col("qe"), x => x + lit(500L)).as("qe"),
              lit(false).as("del"))
          timed(s"ingest $c%")(
            GraphLifecycle.ingestOnly(spark, root, arr, 1L))
          val base = GraphLifecycle.currentBaseOf(root)
          val eroded = timed(s"eroded recall $c%")(
            GraphLifecycle.recallLegAt(spark, base, s"c$c", 100, 5)
              .collect()(0))
          timed(s"rebuild $c%")(GraphLifecycle.rebuildAt(spark, root))
          val rebuilt = GraphLifecycle.recallLegAt(spark,
            GraphLifecycle.currentBaseOf(root), s"c${c}r", 100, 5)
            .collect()(0)
          println(f"churn=$c%2d%%  eroded=${eroded.getLong(3)}%5d bp  " +
            f"rebuilt=${rebuilt.getLong(3)}%5d bp  " +
            f"delta=${rebuilt.getLong(3) - eroded.getLong(3)}%5d bp  " +
            f"(truth=${eroded.getLong(1)})")
        } finally graft.FsUtil.deleteRecursively(new java.io.File(root))
      }
    } finally graft.FsUtil.deleteRecursively(new java.io.File(seedRoot))
    spark.stop()
  }
}

/** Dev-only TWO-DECADES-ABOVE-FIXTURE validation of the ANN stack
  * (VERDICT r10 Next #6): a deterministic ~100k-vector corpus from
  * spark.range + a Murmur3-hash payload (the q26 generator discipline —
  * no RNG, layout-independent), then the registered operating points
  * re-measured where ⌈√N⌉ = 317: trained-IVF recall/scan at the 13%
  * budget, fixed-R=60 refine recall (R is 0.06% of THIS corpus), the
  * IVF-PQ hybrid at frac=0.40, and the serve-leg wall times. Records
  * whether √N-cell scaling and fixed-R recall hold at N≈1e5 (PERF.md
  * r11). Not part of the query surface.
  *
  * Usage: sbt "runMain graft.llm.AnnScale [n]"
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // uniform [-1, 1) coordinates from integer hashes — deterministic,
    // near-isotropic like the fixture embeddings
    val emb = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(hash(col("id"), d), lit(2000)) - 1000) / lit(1000.0))
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .localCheckpoint()
    val kc = math.ceil(math.sqrt(n.toDouble)).toInt
    println(s"== synthetic n=$n  kCells=$kc  " +
      s"ivf nProbe=${math.ceil(0.13 * kc).toInt}  " +
      s"hybrid nProbe=${math.ceil(Similarity.IvfPqProbeFrac * kc).toInt}")
    val truth = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      println(f"   [$what took ${(System.nanoTime() - t0) / 1e9}%.1f s]"); a
    }
    val (asg, cents) = timed("ivf train")(Similarity.trainLloyd(emb))
    val scan = Similarity.ivfCandidates(emb, asg, cents, 10, 0).count()
      .toDouble / (10.0 * n)
    println(f"ivf_trained@13%%: recall=${recallOf(
      Similarity.ivfTopKWith(emb, asg, cents, 10, 5, 0)) * 10000}%5.0f bp " +
      f"scan=${scan * 100}%5.1f%%")
    timed("sq8 scan")(
      println(f"sq8_brute: recall=${recallOf(
        Similarity.sq8TopK(emb)) * 10000}%5.0f bp (packed 64 B/vec)"))
    // r15: the SQ8 serving pair — stored-pack scan (q215) and the
    // IVF×SQ8 composed tier (q217) at the 0.40 compressed fraction
    timed("sq8 build+serve")(
      Similarity.sq8TopKServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("sq8 serve")(
      println(f"sq8_served: recall=${recallOf(
        Similarity.sq8TopKServed(emb, "annscale")) * 10000}%5.0f bp"))
    // r17: the binary (1-bit) tier — 16 B/vector, Hamming + fixed-R rescore
    timed("bq build+serve")(
      Similarity.bqServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("bq serve")(
      println(f"bq_refine R=60 (${100.0 * 60 / n}%.2f%% rescored): " +
        f"recall=${recallOf(Similarity.bqServed(emb, "annscale")) * 10000}%5.0f bp " +
        "(16 B/vec)"))
    timed("ivf-sq8 build+serve")(
      Similarity.ivfSq8Served(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("ivf-sq8 serve")(
      println(f"ivf_sq8 frac=${Similarity.IvfPqProbeFrac}: recall=${recallOf(
        Similarity.ivfSq8Served(emb, "annscale")) * 10000}%5.0f bp"))
    // r16: the FILTERED composed tier (q223/q224) — recall vs the
    // FILTERED brute truth, widened probe budget, same stored index
    timed("ivf-sq8 filtered serve")(
      println(s"ivf_sq8_filtered (widened, vs filtered truth): recall_bp=" +
        Similarity.ivfSq8FilteredRecall(emb, "annscale")
          .collect()(0).getLong(3)))
    val cb = timed("pq train")(Similarity.trainPqCodebook(emb))
    val recon = timed("pq encode")(
      Similarity.pqReconstruct(emb, cb, 16, 64).localCheckpoint())
    println(f"pq_refine_fixed R=60 (${100.0 * 60 / n}%.2f%% of corpus): " +
      f"recall=${recallOf(Similarity.pqRefineFrom(recon, emb, 10, 5,
        fixedR = 60)) * 10000}%5.0f bp")
    val hybridScan = Similarity.ivfCandidates(emb, asg, cents, 10, 0,
      frac = Similarity.IvfPqProbeFrac).count().toDouble / (10.0 * n)
    println(f"ivfpq frac=0.40: recall=${recallOf(
      Similarity.ivfPqFrom(recon, asg, cents, emb, 10, 5, 0, 60)) * 10000}%5.0f bp " +
      f"adc_scan=${hybridScan * 100}%5.1f%%")
    // serve legs: first call builds (timed separately by getOrBuild),
    // second call times serving alone
    timed("ivfpq build+serve")(
      Similarity.ivfPqServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("ivfpq serve")(
      Similarity.ivfPqServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("ivf serve")(
      { Similarity.ivfTopKServed(emb, "annscale").write.format("noop")
          .mode("overwrite").save()
        Similarity.ivfTopKServed(emb, "annscale").write.format("noop")
          .mode("overwrite").save() })
    timed("pq refine serve")(
      { Similarity.pqRefineServed(emb, "annscale").write.format("noop")
          .mode("overwrite").save()
        Similarity.pqRefineServed(emb, "annscale").write.format("noop")
          .mode("overwrite").save() })
    // the graph tier (r12 q201–q203): build once, then time the serve
    // alone; per-probe vector reads are Beam·degree·Hops — constant in
    // N — so the serve wall tracks the H adjacency/embedding scans
    timed("graph build+serve")(
      GraphAnn.beamTopKServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("graph serve")(
      GraphAnn.beamTopKServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    println(f"graph beam (T=${GraphAnn.SeedCells} B=${GraphAnn.Beam} " +
      f"H=${GraphAnn.Hops}): recall=${recallOf(
        GraphAnn.beamTopKServed(emb, "annscale")) * 10000}%5.0f bp")
    timed("maxsim brute scan")(
      Similarity.maxSimTopK(emb).write.format("noop")
        .mode("overwrite").save())
    timed("maxsim rerank (ivf top-60 shortlist)")(
      Similarity.maxSimRerank(emb).write.format("noop")
        .mode("overwrite").save())
    // r13: the blocked family's TWO-LEVEL assignment (q77/q147/q177/
    // q201–q203 builds) — measured candidate volume per fine round vs
    // the old single-level N·k crossJoin (VERDICT r12 #2)
    val blk = timed("two-level blocking")(
      Similarity.twoLevelBlocked(emb, 128, 2, 64))
    val candRows = blk.cand.count()
    val kFine = math.ceil(n / 128.0).toLong
    println(f"blocked two-level: cand_rows/round=$candRows " +
      f"(single-level N*k=${n * kFine}, " +
      f"drop=${n * kFine / candRows.toDouble}%.0f x), " +
      f"fine_cells=${blk.cents.count()}")
    // the LSM tier (r11 q195/q198): first call builds the mid-lifecycle
    // segment store, second times the view serve alone — the claim under
    // test is that latest-wins resolution (broadcast anti-join of the
    // ~3%-of-corpus delta entity set) stays a serve-side noise term at
    // N = 1e5, for both the IVF-Flat view and the composed ADC+refine
    timed("lsm flat build+serve")(
      Similarity.lsmServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("lsm flat serve")(
      Similarity.lsmServed(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("lsm composed build+serve")(
      Similarity.lsmComposedServeSplit(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    timed("lsm composed serve")(
      Similarity.lsmComposedServeSplit(emb, "annscale").write.format("noop")
        .mode("overwrite").save())
    spark.stop()
  }
}
