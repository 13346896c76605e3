package graft

import org.apache.spark.sql.SparkSession

/** Shared harness-session performance settings (OPTIMIZATION_r17.md),
  * applied by Bench, Verify, Profile and PlanSnap on top of the driver
  * contract's `local[$SPARK_GRAFT_CPUS]` / `shuffle.partitions = cpus`
  * base. Every setting here is scale-honest — it either matches what a
  * production deployment already does or adapts with input size; none
  * bakes in a fixture-size assumption:
  *
  *  - `spark.sql.codegen.cache.maxEntries` (default 100): the 241-query
  *    suite generates thousands of distinct whole-stage-codegen units
  *    per pass; a 100-entry LRU thrashes, so passes 2..5 re-pay Janino
  *    compilation for plans they already compiled. 10k entries lets a
  *    long-lived session (bench harness, Thrift server, notebook — the
  *    production analogues) reuse compiled classes. Memory cost is
  *    bounded (generated classes are small; keys are weak refs).
  *  - `spark.shuffle.sort.bypassMergeThreshold` (default 200): below
  *    the threshold every map task of a shuffle creates one FILE PER
  *    REDUCE PARTITION (32 creates+closes per task here) before
  *    concatenating them. Production shuffles run with
  *    `shuffle.partitions` in the hundreds-plus, i.e. ABOVE the
  *    threshold, on the single-spill sort path — so forcing the sort
  *    path locally both removes the per-stage file-creation tax
  *    (measured: DiskBlockObjectWriter.initialize was ~4% of RUNNABLE
  *    driver+executor samples in the graph-build profile) and makes
  *    local plans exercise the same writer production uses.
  *
  * Both are plan-shape-neutral: results, oracle hashes and `explain`
  * output are unchanged (PlanShapeSpec/GraphAnnSpec pins keep passing).
  */
object PerfConf {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.shuffle.sort.bypassMergeThreshold", "2")
}
