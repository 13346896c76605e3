package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-copy pipeline — the reference's job surface (#7,
  * `App.scala:237-240`, `SparkUtils.scala:67-74`): read → write with
  * skip-semantics on empty option maps. The copy is a straight
  * scan→write pipeline: no shuffle, executor-parallel end to end.
  */
object CopyPipeline {

  /** Read leg; None when readOptions is empty
    * (reference `SparkUtils.scala:95`). */
  def read(spark: SparkSession, conf: JobConfig): Option[DataFrame] =
    if (!conf.shouldRead) None
    else conf.readPath.map(p =>
      graft.FsUtil.readParquet(spark, conf.readOptions - "path", p))

  /** Write leg; passes through None / skips when writeOptions is empty
    * (reference `SparkUtils.scala:68-69`, `:77`). Returns rows written. */
  def writeExisting(conf: JobConfig, readRows: Option[DataFrame],
                    observer: JobObserver = NoopObserver): Option[Long] =
    for {
      df <- readRows if conf.shouldWrite
      path <- conf.writePath
    } yield ParquetSink.write(df, path, conf.maxRecordsPerFile, observer)

  /** copyTable — compose read and write (reference `App.scala:237-240`). */
  def copyTable(spark: SparkSession, conf: JobConfig,
                observer: JobObserver = NoopObserver): Option[Long] =
    writeExisting(conf, read(spark, conf), observer)
}
