package graft

/** Pins [[FsUtil.parquetRowCount]] — the footer-metadata row count the
  * r17 optimization round substituted for `spark.read.parquet(p).count()`
  * on every store-segment control-flow gate (compaction triggers,
  * fixture floors, CellStore bucket derivation). The substitution is
  * only sound if the two numbers are IDENTICAL on every store layout
  * the composites write: flat multi-file, partitioned (bucket=N dirs,
  * the CellStore shape), and empty-but-present.
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

  test("parquetSchema equals the inferred schema: flat store, and the " +
    "CellStore layout once its int bucket column is added") {
    import org.apache.spark.sql.functions._
    val flat = java.nio.file.Files.createTempDirectory("graft_fsc_").toString
    val bucketed = java.nio.file.Files.createTempDirectory("graft_fsc_").toString
    try {
      val rows = spark.range(0, 300).toDF("vec_id")
        .select(col("vec_id"), (col("vec_id") % 23).as("cluster"),
          array(col("vec_id"), lit(1L)).as("qe"), lit("x").as("label"))
      // compared as READ: a file source reads every column nullable,
      // given or inferred, while the footer keeps the writer's flags
      def readWith(path: String, s: org.apache.spark.sql.types.StructType) =
        spark.read.schema(s).parquet(path)
      rows.write.mode("overwrite").parquet(flat)
      val fs = FsUtil.parquetSchema(spark, flat)
      assert(fs.map(readWith(flat, _).schema) ===
        Some(spark.read.parquet(flat).schema))
      graft.llm.CellStore.write(rows, nBuckets = 5, bucketed)
      val bs = FsUtil.parquetSchema(spark, bucketed)
        .map(_.add("bucket", org.apache.spark.sql.types.IntegerType))
      assert(bs.map(readWith(bucketed, _).schema) ===
        Some(spark.read.parquet(bucketed).schema))
      assert(readWith(bucketed, bs.get)
        .except(spark.read.parquet(bucketed)).isEmpty)
    } finally {
      FsUtil.deleteRecursively(new java.io.File(flat))
      FsUtil.deleteRecursively(new java.io.File(bucketed))
    }
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
