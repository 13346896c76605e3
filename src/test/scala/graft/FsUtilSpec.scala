package graft

/** Pins [[FsUtil.parquetRowCount]] — the footer-metadata row count the
  * r17 optimization round substituted for `spark.read.parquet(p).count()`
  * on every store-segment control-flow gate (compaction triggers,
  * fixture floors, CellStore bucket derivation). The substitution is
  * only sound if the two numbers are IDENTICAL on every store layout
  * the composites write: flat multi-file, partitioned (bucket=N dirs,
  * the CellStore shape), and empty-but-present. Pins
  * [[FsUtil.readParquet]] the same way: its footer schema must be the
  * schema Spark's inference resolves, on every layout it reads.
  */
class FsUtilSpec extends SparkSpec {

  test("parquetRowCount equals count() on a flat multi-file store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_frc_").toString
    try {
      spark.range(0, 1234).toDF("id").repartition(7)
        .write.mode("overwrite").parquet(dir)
      assert(FsUtil.parquetRowCount(spark, dir) === 1234L)
      assert(FsUtil.parquetRowCount(spark, dir) ===
        spark.read.parquet(dir).count())
    } finally FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("parquetRowCount recurses through partition dirs (CellStore layout)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_frc_").toString
    try {
      val rows = spark.range(0, 500).toDF("cluster")
        .withColumn("cluster", col("cluster") % 37)
      graft.llm.CellStore.write(rows, nBuckets = 5, dir)
      assert(FsUtil.parquetRowCount(spark, dir) === 500L)
      assert(FsUtil.parquetRowCount(spark, dir) ===
        spark.read.parquet(dir).count())
    } finally FsUtil.deleteRecursively(new java.io.File(dir))
  }

  /** `readParquet`'s schema next to Spark's own inference over the same
    * path: the same schema when both resolve, the same error otherwise. */
  private def sameAsInferred(path: String): Unit = {
    val inferred = scala.util.Try(spark.read.parquet(path).schema)
    val footer = scala.util.Try(FsUtil.readParquet(spark, path).schema)
    assert(footer.map(_.toString) === inferred.map(_.toString),
      s"readParquet($path) diverges from spark.read.parquet")
    if (inferred.isFailure)
      assert(footer.failed.get.getMessage === inferred.failed.get.getMessage)
  }

  test("readParquet's footer schema equals the inferred schema on every " +
    "fixture table (single files, non-Spark footers), events under both " +
    "nanosAsLong settings") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      for (nanos <- Seq("true", "false")) {
        spark.conf.set(key, nanos)
        Tables.names.foreach { t =>
          val p = s"$sf/$t.parquet"
          sameAsInferred(p)
          // the footer path itself answered, not the fallback
          if (t != "events" || nanos == "true")
            assert(FsUtil.parquetSchema(spark, p).isDefined, p)
        }
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("readParquet's footer schema equals the inferred schema: flat " +
    "Spark-written store, CellStore bucketed root, empty-frame write") {
    import org.apache.spark.sql.functions._
    val dirs = Seq.fill(3)(
      java.nio.file.Files.createTempDirectory("graft_fsc_").toString)
    val Seq(flat, bucketed, empty) = dirs
    try {
      val rows = spark.range(0, 300).toDF("vec_id")
        .select(col("vec_id"), (col("vec_id") % 23).as("cluster"),
          array(col("vec_id"), lit(1L)).as("qe"), lit("x").as("label"))
      rows.repartition(3).write.mode("overwrite").parquet(flat)
      graft.llm.CellStore.write(rows, nBuckets = 5, bucketed)
      rows.filter(col("vec_id") < 0).coalesce(1)
        .write.mode("overwrite").parquet(empty)
      dirs.foreach { d =>
        sameAsInferred(d)
        assert(FsUtil.parquetSchema(spark, d).isDefined, d)
      }
      // the bucket partition column is discovered from the directory
      // names, typed as inference types it, with the same rows
      assert(FsUtil.readParquet(spark, bucketed).schema("bucket").dataType ===
        org.apache.spark.sql.types.IntegerType)
      assert(FsUtil.readParquet(spark, bucketed)
        .except(spark.read.parquet(bucketed)).isEmpty)
    } finally dirs.foreach(d => FsUtil.deleteRecursively(new java.io.File(d)))
  }

  test("readParquet falls back to Spark's own read: missing path, no data " +
    "file, mergeSchema") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_fsc_").toString
    try {
      // Spark's own PATH_NOT_FOUND / "unable to infer schema" errors
      val missing = s"$root/missing"
      val noData = s"$root/nodata"
      new java.io.File(noData).mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(noData, "_SUCCESS").toPath, "")
      Seq(missing, noData).foreach { p =>
        assert(FsUtil.parquetSchema(spark, p).isEmpty)
        val e = intercept[org.apache.spark.sql.AnalysisException](
          FsUtil.readParquet(spark, p))
        val s = intercept[org.apache.spark.sql.AnalysisException](
          spark.read.parquet(p))
        assert(e.getMessage === s.getMessage)
      }
      // mergeSchema: the union of both files' columns, as Spark merges
      // it — one footer alone would miss a column
      val evo = s"$root/evo"
      spark.range(0, 10).toDF("id").write.parquet(evo)
      spark.range(0, 10).toDF("id").withColumn("v", col("id") * 2)
        .write.mode("append").parquet(evo)
      val merge = Map("mergeSchema" -> "true")
      val merged = FsUtil.readParquet(spark, merge, evo)
      assert(merged.schema ===
        spark.read.option("mergeSchema", "true").parquet(evo).schema)
      assert(merged.columns.toSet === Set("id", "v"))
      assert(merged.count() === 20L)
    } finally FsUtil.deleteRecursively(new java.io.File(root))
  }

  test("no job to resolve a table's schema; a ParquetSink write runs only " +
    "its write job and counts its own rows from the footers") {
    val load = jobsOf(Tables.names.foreach { t =>
      // events through its own loader: its footer schema reads the nanos
      // as LONG
      if (t == "events") Tables.events(spark, sf).schema
      else Tables.load(spark, sf, t).schema
    })
    assert(load === 0, s"10 table schemas ran $load jobs")
    val dir = java.nio.file.Files.createTempDirectory("graft_fsc_").toString
    try {
      var n = 0L
      val w1 = jobsOf { n = graft.etl.ParquetSink.write(
        spark.range(0, 1000).toDF("id"), dir, maxRecordsPerFile = 300) }
      assert(w1 === 1, s"one sink write ran $w1 jobs")
      assert(n === 1000L)
      // an append reports its own delta only
      assert(graft.etl.ParquetSink.write(
        spark.range(0, 250).toDF("id"), dir, maxRecordsPerFile = 300) === 250L)
      assert(spark.read.parquet(dir).count() === 1250L)
    } finally FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("Tables.events leaves the session's nanosAsLong flag as it found " +
    "it, and reads the same micros timestamps under every setting") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    def ts(): Seq[Long] = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    try {
      spark.conf.unset(key)
      val unset = ts()
      assert(!spark.conf.getAll.contains(key), "events set the flag")
      assert(Tables.events(spark, sf).schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
      for (nanos <- Seq("true", "false")) {
        spark.conf.set(key, nanos)
        assert(ts() === unset, nanos)
        assert(spark.conf.get(key) === nanos)
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("parquetRowCount counts an empty store as 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_frc_").toString
    try {
      spark.range(0, 10).toDF("id").filter("id < 0")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      assert(FsUtil.parquetRowCount(spark, dir) === 0L)
    } finally FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("parquetRowCount prunes hidden SUBTREES and non-part files " +
    "(ADVICE r17: stale _temporary staging from an interrupted write " +
    "must not diverge the footer count from spark.read.count())") {
    val dir = java.nio.file.Files.createTempDirectory("graft_frc_").toString
    try {
      spark.range(0, 100).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      // a stale staging subtree with a NON-hidden part file inside —
      // Spark's InMemoryFileIndex prunes the '_'-prefixed dir at the
      // directory level, so count() never sees these 50 rows
      val staging = new java.io.File(dir, "_temporary/0/task_0")
      staging.mkdirs()
      val tmp = java.nio.file.Files.createTempDirectory("graft_frc_stage_")
      spark.range(0, 50).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toFile.listFiles()
        .filter(_.getName.startsWith("part-")).head.getPath)
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(staging, part.getName).toPath)
      FsUtil.deleteRecursively(tmp.toFile)
      assert(FsUtil.parquetRowCount(spark, dir) === 100L)
      assert(FsUtil.parquetRowCount(spark, dir) ===
        spark.read.parquet(dir).count())
      // a stray non-part, non-parquet file must be skipped, not crash
      // the footer parse (Spark's own reader would fail here — the
      // part-* restriction keeps the metadata path strictly safer)
      java.nio.file.Files.writeString(
        new java.io.File(dir, "stray.txt").toPath, "not parquet")
      assert(FsUtil.parquetRowCount(spark, dir) === 100L)
    } finally FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("ServedRoots builds once per key under concurrent callers and " +
    "does not convoy distinct keys (r18 parallel prewarm)") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            FsUtil.ServedRoots.getOrBuild(
              s"frc-spec-key-${i % 2}", "graft_frc_roots_") { _ =>
              built.incrementAndGet(); Thread.sleep(50)
            }
        })
      }
      val roots = futs.map(_.get()).distinct
      assert(roots.size === 2)   // one root per distinct key
      assert(built.get() === 2)  // each key built exactly once
    } finally pool.shutdown()
  }
}
