package graft.etl

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Job runner / error harness + transport ADT + session bootstrap —
  * the reference's operators #10, #12, #15
  * (reference `SparkUtils.scala:34-47`, `:134-140`, `:20-32`).
  */

/** Transport mode ADT (reference `SparkUtils.scala:134-140`): DIRECT
  * writes straight to the destination; S3_COMPAT stages through the
  * coordinated two-phase protocol (the local equivalent of the object
  * store transport, see CoordinatedCommit).
  */
sealed trait DataTransport
object DataTransport {
  case object Direct extends DataTransport
  case object S3Compat extends DataTransport

  def parse(s: String): DataTransport = s.toUpperCase match {
    case "DIRECT" => Direct
    case "S3_COMPAT" => S3Compat
    case other => throw new IllegalArgumentException(s"unknown transport: $other")
  }
}

object JobRunner {

  /** Run a job thunk under Try: log + rethrow on failure, return the
    * result otherwise (reference `execute`, `SparkUtils.scala:34-47`;
    * unlike the reference we rethrow instead of returning a fallback so
    * failures can't masquerade as zero-row successes). */
  def execute[T](conf: JobConfig, observer: JobObserver = NoopObserver,
                 jobId: String = "job")(f: JobConfig => T): T =
    Try(f(conf)) match {
      case Success(v) => v
      case Failure(e) =>
        System.err.println(s"[graft] job $jobId failed: ${e.getMessage}")
        observer.onJobFailed(jobId, e)
        throw e
    }

  /** Transport-dispatching write: DIRECT → plain parquet sink;
    * S3_COMPAT → two-phase coordinated commit (single destination). */
  def write(df: org.apache.spark.sql.DataFrame, conf: JobConfig,
            transport: DataTransport,
            observer: JobObserver = NoopObserver, jobId: String = "job"): Long =
    transport match {
      case DataTransport.Direct =>
        ParquetSink.write(df, conf.writePath.get, conf.maxRecordsPerFile,
          observer, jobId)
      case DataTransport.S3Compat =>
        val dirs = CoordinatedCommit.write(df,
          Seq(CoordinatedCommit.Destination("cluster_1", conf.writePath.get)),
          jobId, observer)
        graft.FsUtil.parquetRowCount(df.sparkSession, dirs.head)
    }

  /** Session bootstrap (reference `initialize`, `SparkUtils.scala:20-32`):
    * UTC, AQE on, shuffle width = requested cores. Kryo registration is
    * unnecessary for a DataFrame-only engine (Tungsten encoders). */
  def buildSession(appName: String, master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
