package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Row, SparkSession}

/** Source/sink seam mirroring the reference's reader/writer factories
  * (reference `SparkUtils.scala:56-65`): the engine addresses tables
  * through a `format` string plus an option bag, so a different DSv2
  * connector (e.g. a Cassandra bulk reader — an external jar in the
  * reference too, `pom.xml:56-61`) slots in without touching call sites.
  *
  * Built-in formats: parquet (columnar, the at-rest default), csv, json,
  * orc. Reads are schema-on-read (parquet/orc footers; csv/json optional
  * inference) exactly like the reference's server-side schema inference
  * (`SparkUtils.scala:62-65` passes only options, never a schema).
  */
object TableIO {

  /** Reader factory (reference `getReader`, `SparkUtils.scala:62-65`). */
  def reader(spark: SparkSession, format: String,
             options: Map[String, String] = Map.empty): DataFrameReader =
    spark.read.format(format).options(options)

  def load(spark: SparkSession, format: String, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    reader(spark, format, options).load(path)

  /** Writer factory (reference `getWriter`, `SparkUtils.scala:56-60`) —
    * append mode by default, matching the reference's `mode("append")`. */
  def writer(df: DataFrame, format: String,
             options: Map[String, String] = Map.empty,
             mode: String = "append"): DataFrameWriter[Row] =
    df.write.format(format).mode(mode).options(options)

  def save(df: DataFrame, format: String, path: String,
           options: Map[String, String] = Map.empty,
           mode: String = "append"): Unit =
    writer(df, format, options, mode).save(path)

  /** Round-trip a table between formats (scan → write, no shuffle). */
  def convert(spark: SparkSession, srcFormat: String, srcPath: String,
              dstFormat: String, dstPath: String,
              writeOptions: Map[String, String] = Map.empty): Unit =
    save(load(spark, srcFormat, srcPath), dstFormat, dstPath, writeOptions,
      mode = "overwrite")

  /** Per-JVM scratch-path nonce (ADVICE r5): round-trip layouts are
    * keyed by (operator, dataset, THIS process), so two concurrent
    * sessions over the same fixture can never race on an overwrite or
    * observe each other's half-written directory — each process owns
    * its paths outright. Stable within the JVM so bench iterations
    * overwrite their own layout instead of leaking a directory per
    * iteration. */
  private val runNonce: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def scratchDir(tag: String, dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_" + tag + "_" + runNonce + "_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")).getPath

  /** q96: JSON round-trip fidelity through the format seam — write the
    * documents metadata columns as JSON lines, read them back with
    * schema inference, and aggregate. The oracle runs the same aggregate
    * on the original parquet, so a green row proves the JSON sink+source
    * preserve int64/string values exactly (the reference's convert job
    * shape, `SparkUtils.scala:56-65`, with a correctness check attached).
    *
    * 100 TB shape: scan → write is shuffle-free (file-parallel on both
    * sides, like [[convert]]); the verification aggregate is an ordinary
    * partial+final hash agg on low-cardinality keys. Text/embedding
    * columns stay in parquet — JSON is the interchange format for
    * metadata-sized tables, which is exactly how a production pipeline
    * uses it. */
  def jsonRoundTripAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val dst = scratchDir("json_rt", dir)
    save(docs, "json", dst, mode = "overwrite")
    load(spark, "json", dst)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("source"))
  }

  val jsonRoundTripAggSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** q100: partition-pruned layout — write events hive-partitioned by
    * event_type, then read back with a partition-key filter and
    * aggregate. The oracle runs the same filtered aggregate on the
    * unpartitioned original, so a green row proves the layout round-trip
    * AND the pruned read return identical data.
    *
    * 100 TB shape: THE mechanism that turns a full-corpus scan into a
    * directory listing — the filter is resolved against partition
    * directories (`PartitionFilters` in the scan, plan-guarded in
    * PlanShapeSpec), so non-matching partitions contribute zero I/O;
    * only same-type files are opened. Partition count tracks the key's
    * cardinality (here #event_types), not data volume. */
  def partitionPruneAgg(spark: SparkSession, dir: String): DataFrame =
    prunedClickAgg(eventsPartitioned(spark, dir))

  /** The shared event_type-partitioned layout (written once per sf dir,
    * overwritten on re-runs) backing q100 (static pruning) and q104
    * (dynamic pruning). */
  private def eventsPartitioned(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val dst = scratchDir("part_rt", dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dst)
    graft.FsUtil.readParquet(spark, dst)
  }

  /** The pruned read-side plan, split out so the plan guard can inspect
    * it without re-running the layout write. */
  def prunedClickAgg(partitioned: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    partitioned
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
      .orderBy(col("user_id"))
  }

  val partitionPruneAggSql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS val
      |FROM events WHERE event_type = 'click'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q104: DYNAMIC partition pruning — the runtime counterpart of q100:
    * the fact side is the event_type-partitioned layout, the dim side is
    * a derived above-average-volume type list (not knowable at plan
    * time), and Spark injects a dynamic-pruning subquery into the fact
    * scan's PartitionFilters: the broadcast dim's key set decides WHICH
    * partition directories are read, at runtime, before the fact scan
    * starts. Oracle = the same join on the unpartitioned original.
    *
    * 100 TB shape: a selective dim-fact join over a partitioned fact is
    * THE warehouse query; without DPP the fact scan reads every
    * partition and the join discards most rows post-I/O. With it, I/O
    * tracks the dim's selectivity. The dim filter here (total > corpus
    * average) is scale-relative, so the query demonstrates pruning at
    * any SF; the plan guard pins `dynamicpruning` on the scan. */
  def dynamicPruneAgg(spark: SparkSession, dir: String): DataFrame = {
    // cloned session (the q87 discipline): the DPP benefit heuristic
    // estimates from file sizes, and KB-scale fixtures fail a gate that
    // a TB-scale partition layout passes trivially — relaxing it here
    // reproduces the at-scale plan without touching the suite session.
    // The dim filter is a scalar-subquery comparison INSIDE a Filter
    // node (the SQL formulation) — a crossJoin(broadcast(avg)) variant
    // becomes a nested-loop join condition, which the pruning rule does
    // not recognize as a selective dim predicate.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    s.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10.0")
    eventsPartitioned(s, dir).createOrReplaceTempView("graft_events_part")
    graft.Tables.events(s, dir).createOrReplaceTempView("graft_events_raw")
    s.sql(
      """WITH c AS (SELECT event_type, count(*) AS total
        |           FROM graft_events_raw GROUP BY event_type)
        |SELECT e.event_type, d.total, count(*) AS n, round(sum(e.value), 2) AS val
        |FROM graft_events_part e
        |JOIN (SELECT event_type, total FROM c
        |      WHERE total > (SELECT avg(total) FROM c)) d
        |  ON d.event_type = e.event_type
        |GROUP BY e.event_type, d.total ORDER BY e.event_type""".stripMargin)
  }

  val dynamicPruneAggSql: String =
    """WITH c AS (SELECT event_type, count(*) AS total FROM events GROUP BY event_type),
      |d AS (SELECT event_type, total FROM c
      |      WHERE total > (SELECT avg(total) FROM c))
      |SELECT e.event_type, d.total, count(*) AS n, round(sum(e.value), 2) AS val
      |FROM events e JOIN d ON d.event_type = e.event_type
      |GROUP BY e.event_type, d.total ORDER BY e.event_type""".stripMargin

  /** q102: schema evolution across file batches — a v1 batch (doc_id,
    * lang) and a later v2 batch that added n_chars land in the same
    * table directory; `mergeSchema` reconciles the footers and v1 rows
    * surface NULL n_chars. The aggregate proves both the merge and the
    * null semantics (count sees every row, sum skips v1 rows, the v1
    * count is explicit). The oracle derives the same numbers from the
    * unevolved original.
    *
    * 100 TB shape: schema drift is a FACT of long-lived lakes — new
    * columns appear mid-corpus, and re-writing petabytes to backfill is
    * not an option. Merged reads cost one footer pass (schema union),
    * not a data pass; the scan stays file-parallel with per-file
    * projection. */
  def schemaEvolutionAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
    // Per-process path (scratchDir): the overwrite-then-append batch
    // pair below is only observed by THIS process, so no concurrent
    // reader can see the directory between the two writes; within the
    // process the read runs strictly after both writes, and a crash
    // between them is healed by the next invocation's overwrite.
    val dst = scratchDir("evo_rt", dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(dst)
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("append").parquet(dst)
    graft.FsUtil.readParquet(spark, Map("mergeSchema" -> "true"), dst)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("v2_chars"),
        sum(when(col("n_chars").isNull, lit(1L)).otherwise(lit(0L))).as("n_v1_rows"))
      .orderBy(col("lang"))
  }

  val schemaEvolutionAggSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS v2_chars,
      |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1_rows
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
}
