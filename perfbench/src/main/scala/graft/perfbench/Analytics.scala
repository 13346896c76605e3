package graft.perfbench

import graft.SparkEntry

/** The `analytics` workload: the 22 TPC-H families over the fixture
  * tables, each round in a seeded order. A timed op is one query: the
  * call into `operators` that builds the DataFrame (and runs any eager
  * jobs) and the sink that executes it and writes its result, which
  * `run.py` checks against the query's DuckDB oracle. There is no
  * warm-up round: the first round is each query's first execution in
  * the JVM (see README.md for why). */
final class Analytics(run: Run) {
  private val spark = run.spark
  private val order: Seq[Seq[String]] =
    run.readLines("query_order.txt").map(_.split(" ").toSeq)

  def apply(): Unit = {
    run.setup("oracle_sql") = order.head.map(q => q -> SparkEntry.oracleSql(q)).toMap
    // the JVM's first Spark job pays one-off costs (class loading, the
    // parquet reader); setup pays them here rather than whichever query
    // the seed puts first
    val t0 = System.nanoTime()
    spark.read.parquet(s"${run.fixtures}/region.parquet").collect()
    run.setup("warm_s") = (System.nanoTime() - t0) / 1e9
    run.window { r =>
      order(r % order.size).foreach { q =>
        run.op("query", q) { ctx =>
          val dir = s"${run.out}/results/$r/$q"
          ctx.out("dir") = dir
          val df = ctx.layer("operators.call")(SparkEntry.queries(q)(spark, run.fixtures))
          ctx.layer("operators.sink")(df.write.mode("overwrite").parquet(dir))
        }
      }
    }
  }
}
