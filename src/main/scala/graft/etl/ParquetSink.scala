package graft.etl

import java.io.File

import org.apache.spark.sql.DataFrame

/** Parquet sink with the reference's write-path semantics:
  * append mode + per-file row cap (reference #5 `SparkUtils.scala:56-60`,
  * #9 `App.scala:68`) and observer callbacks over the persisted objects
  * (reference #13). Spark's native `maxRecordsPerFile` replaces the
  * transformer's manual cap; the file listing after commit feeds the
  * observer without collecting any DATA to the driver (the reference,
  * too, collects only file paths — `App.scala:76`).
  */
object ParquetSink {

  /** Write and report. Returns the number of rows written, measured from
    * the committed files (NOT by re-executing the input lineage — the
    * reference's write-then-count re-runs its nondeterministic generator,
    * `App.scala:244`; counting the committed output avoids that bug).
    *
    * Appends to a non-empty destination report only THIS job's delta:
    * the pre-write file set is snapshotted and subtracted, so observer
    * callbacks and the returned row count cover exactly the files this
    * append committed — not earlier jobs' output. */
  def write(df: DataFrame, path: String, maxRecordsPerFile: Int = 100000,
            observer: JobObserver = NoopObserver, jobId: String = "job",
            partitionBy: Seq[String] = Nil): Long = {
    observer.onTransportStart(jobId)
    try {
      def list(): Seq[File] =
        if (partitionBy.nonEmpty) listParquetRecursive(new File(path))
        else listParquet(path)
      val before = list().map(_.getAbsolutePath).toSet
      val w = df.write.mode("append")
        .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path)
      val files = list().filterNot(f => before(f.getAbsolutePath))
      var bytes = 0L
      files.foreach { f =>
        bytes += f.length()
        observer.onObjectPersisted(path, f.getName, f.length())
      }
      observer.onAllObjectsPersisted(files.length.toLong, bytes)
      // from the committed files' footers (graft.FsUtil.parquetRowCount's
      // contract): no read-back job
      val written = graft.FsUtil.parquetFilesRowCount(df.sparkSession,
        files.map(_.getAbsolutePath))
      observer.onJobSucceeded(jobId)
      written
    } catch {
      case e: Throwable => observer.onJobFailed(jobId, e); throw e
    }
  }

  def listParquetRecursive(d: File): Seq[File] = {
    val kids = Option(d.listFiles()).getOrElse(Array.empty)
    kids.filter(_.isDirectory).toSeq.flatMap(listParquetRecursive) ++
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
  }

  def listParquet(path: String): Seq[File] = {
    val d = new File(path)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
  }
}
