package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over a scale-factor directory of parquet files.
  *
  * Mirrors the reference's source seam: the reference addresses tables as
  * `(keyspace, table)` option pairs behind a `format()` string
  * (reference `SparkUtils.scala:62-65`); here the seam is a directory of
  * immutable parquet snapshots — one file-set per table — which is also how
  * the reference's SSTable→Parquet job lays out its output
  * (reference `App.scala:65-81`).
  *
  * Scale notes: a table read yields a `FileSourceScanExec` whose
  * splits are parquet row groups — at 100 TB this is thousands of parallel
  * input splits with predicate pushdown and column pruning handled by
  * Catalyst; nothing here caps parallelism. The schema comes from ONE
  * footer, read on the driver ([[FsUtil.readParquet]]): the same footer
  * Spark's own inference would read, so the read resolves the same schema
  * at any scale and launches no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    FsUtil.readParquet(spark, s"$dir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS) which Spark's reader rejects
    * outright ([PARQUET_TYPE_ILLEGAL]); read it as raw nanos, through a
    * footer schema that maps TIMESTAMP(NANOS) to LONG (the session's
    * `nanosAsLong` flag stays as it was), and convert with integer
    * division (a double division would lose precision at 1.7e18).
    * Downstream sees a plain micros TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val raw = FsUtil.parquetSchema(s, path, nanosAsLong = true)
      .fold(s.read)(s.read.schema).parquet(path)
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) surfaced as raw long nanos — convert
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      // timezone-naive writers (isAdjustedToUTC=false) surface NTZ;
      // the session is pinned UTC so the cast is a lossless relabel
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      // already the expected TimestampType encoding
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Ensure at least `defaultParallelism` partitions ahead of a per-row-
    * expensive stage (sketch kernels, regex/JSON scans, media decode).
    *
    * Parquet scan parallelism is bounded by row groups: a single-row-group
    * file (exactly what the local test fixtures are) scans as ONE task no
    * matter how many cores exist, serializing everything downstream. At
    * 100 TB a table has thousands of row-group splits and this is a no-op
    * — the guard keeps the extra shuffle out of the at-scale path and only
    * pays it (on a small input, by definition) when the scan would
    * otherwise under-parallelize the cluster.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
