package graft

import org.apache.spark.sql.SparkSession

/** Scratch main: write `.explain("formatted")` output for the named
  * queries into an output directory — the per-round plan evidence files
  * (`plans/rNN/<query>_<tag>.txt`).
  *
  * Usage: runMain graft.PlanSnap <outDir> <tag> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is sf-invariant,
  * so the cheap fixture is fine), SPARK_GRAFT_CPUS.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // PerfConf, as in Bench, Verify and Profile: plan evidence is taken
    // under the benched codegen and shuffle settings
    val spark = PerfConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
      println(s"wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
      // queries that localCheckpoint mid-build leave persisted RDDs —
      // sweep between snapshots (the Bench.once discipline)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
