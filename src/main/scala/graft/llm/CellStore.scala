package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed physical layout for the cell-partitioned ANN stores
  * (VERDICT r15 #1). The r15 layout wrote ONE parquet file per
  * blocking cell (`repartition(cluster)` + `partitionBy("cluster")`):
  * exact partition pruning, but cells grow as N/128, so the FILE and
  * DIRECTORY count is linear in N — ~7.8M files per store at N=1e9,
  * whose once-per-serve file-index listing is a driver-side metadata
  * bottleneck (plus object-store LIST cost and row-group
  * fragmentation) that no partition filter saves.
  *
  * The fix: pack cells into BUCKET dirs — `bucket = cluster mod B`
  * with B bounded ([[bucketCount]]: ~[[CellsPerBucket]] cells per
  * bucket, hard-capped at [[MaxBuckets]]) — one block file per bucket
  * (split only by [[RowsPerFile]], so file count is bounded by
  * min(MaxBuckets, rows/RowsPerFile): sublinear-to-constant in the
  * CELL count), rows inside each file sorted by `cluster` so parquet
  * row-group/page min-max stats skip unprobed cells' ranges under a
  * pushed cluster predicate.
  *
  * Read-side pruning comes in the two shapes the serve paths need:
  *  - [[prunedTo]] — a STATIC census (the ingest paths' batch-bounded
  *    collected cell list): bucket IN-list partition filter + cluster
  *    IN-list pushed parquet filter (row-group/page skipping);
  *  - [[prunedToF]] — an IN-PLAN census (VERDICT r15 #2: the beam
  *    passes' candidate cells as a broadcast frame): a broadcast
  *    LEFT SEMI equi-join on (bucket, cluster) whose bucket key is the
  *    partition column, so DYNAMIC partition pruning reaches the scan
  *    with no driver collect barrier — the q192/q217 shape.
  *
  * B is derived from the store's CENTROID table row count via
  * [[bucketsOf]] — the same deterministic rule on both the write and
  * read side, from the table's parquet footers, so no meta file is
  * needed and no reader pays a job for it.
  */
object CellStore {

  /** Target cells per bucket dir. 64 keeps fixture stores visibly
    * bucketed (797 cells at N=1e5 → 13 dirs, vs 797 before) while a
    * probe census of ~100 cells still maps to a strict subset of
    * buckets at production cell counts. */
  val CellsPerBucket: Long = 64L

  /** Bucket-count floor — below this, pruning granularity is too
    * coarse to matter and the fixture specs would degenerate. */
  val MinBuckets: Long = 8L

  /** Bucket-count ceiling — the file/dir count bound. At N=1e9
    * (~7.8M cells) the store is 4096 dirs instead of 7.8M; each
    * bucket holds ~1.9k cells whose rows the in-file cluster sort
    * exposes to row-group skipping. */
  val MaxBuckets: Long = 4096L

  /** File split size inside a bucket (maxRecordsPerFile): bounds any
    * single file at ~4M rows (~1 GB at the node tables' ~300 B/row)
    * while keeping total file count proportional to DATA size, never
    * to cell count. Inert at the fixtures. */
  val RowsPerFile: Long = 4L * 1024 * 1024

  def bucketCount(nCells: Long): Long =
    math.min(MaxBuckets,
      math.max(MinBuckets, (nCells + CellsPerBucket - 1) / CellsPerBucket))

  /** The bucket count of the store under `root`: [[bucketCount]] of its
    * stored `centroids` table's row count, read from the parquet footers
    * — no Spark job. The one rule every writer and reader applies. */
  def bucketsOf(spark: SparkSession, root: String): Long =
    bucketCount(graft.FsUtil.parquetRowCount(spark, s"$root/centroids"))

  /** The bucket of a cell — int-typed to match the partition column
    * Spark infers back from `bucket=<v>` dirs, so neither pruning shape
    * has to cast the partition column (a cast can defeat pruning). */
  def bucketOf(cluster: Column, nBuckets: Long): Column =
    pmod(cluster, lit(nBuckets)).cast("int")

  /** Writes `rows` (which must carry a long `cluster` column) under
    * `path` in the bucketed block-file layout: one task (→ one file,
    * up to the [[RowsPerFile]] split) per bucket, rows sorted by
    * cluster inside each file. `cluster` stays a DATA column — readers
    * get page-level skipping from pushed cluster predicates. */
  def write(rows: DataFrame, nBuckets: Long, path: String): Unit =
    rows.withColumn("bucket", bucketOf(col("cluster"), nBuckets))
      .repartition(col("bucket"))
      // sort by (bucket, cluster): the dynamic-partition writer demands
      // task rows ordered by the partition column and would otherwise
      // insert its OWN non-stable sort on bucket alone, destroying the
      // cluster order the row-group/page skipping depends on
      .sortWithinPartitions(col("bucket"), col("cluster"))
      .write.partitionBy("bucket").mode("overwrite")
      .option("maxRecordsPerFile", RowsPerFile)
      .parquet(path)

  /** Static-census prune of a bucketed store read: bucket IN-list
    * (partition pruning) + cluster IN-list (pushed parquet filter →
    * row-group/page skipping on the in-file sort). */
  def prunedTo(store: DataFrame, nBuckets: Long,
               cells: Seq[Long]): DataFrame =
    if (cells.isEmpty) store.filter(lit(false))
    else store.filter(
      col("bucket").isin(cells.map(c => (c % nBuckets).toInt).distinct: _*)
        && col("cluster").isin(cells: _*))

  /** In-plan census prune: `cellsF` is a (cell: long) frame — the
    * candidate cells of one beam pass, or a probe batch's probed
    * cells. The broadcast LEFT SEMI join's bucket key is the partition
    * column, so the optimizer inserts a dynamic-partition-pruning
    * subquery on the scan (the `>= 0` build-side predicate is always
    * true but REQUIRED — Spark only plants the DPP subquery when the
    * build side carries a selective predicate; the q192 lesson). That
    * coaxing is optimizer-version-sensitive: the plan pins in
    * PlanShapeSpec (q195/q198/q217) and GraphAnnSpec ("dynamicpruning")
    * are the regression guard — re-run them on any Spark bump. The
    * cluster key completes exactness: rows of co-bucketed unprobed
    * cells drop at the join. No driver collect anywhere. */
  def prunedToF(store: DataFrame, nBuckets: Long,
                cellsF: DataFrame): DataFrame = {
    val b = cellsF.select(col("cell"),
        bucketOf(col("cell"), nBuckets).as("bkt"))
      .distinct()
      .filter(col("bkt") >= 0)
    store.join(broadcast(b),
      store("bucket") === b("bkt") && store("cluster") === b("cell"),
      "left_semi")
  }
}
