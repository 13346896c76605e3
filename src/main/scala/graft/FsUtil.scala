package graft

/** Shared filesystem helpers for scratch-dir lifecycles (the coordinated
  * commit's staging roots and the hermetic index-build queries). One
  * copy — four modules previously carried byte-identical private
  * versions (review r8). */
private[graft] object FsUtil {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Recursive directory copy — the segment-SNAPSHOT primitive (q211):
    * a serving system pins a store state by copying its segment
    * manifest; this local stand-in copies the (fixture-sized) segment
    * files themselves. Symlinks are SKIPPED, never followed (ADVICE
    * r14 #3): a linked directory would otherwise be deep-copied — or
    * loop — and no segment store legitimately contains links. */
  def copyRecursively(src: java.io.File, dst: java.io.File): Unit = {
    if (java.nio.file.Files.isSymbolicLink(src.toPath)) ()
    else if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty).foreach { c =>
        copyRecursively(c, new java.io.File(dst, c.getName))
      }
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Exact row count of a stored parquet table from its FILE FOOTERS —
    * the metadata-only equivalent of `spark.read.parquet(path).count()`
    * (parquet footers record per-row-group row counts; no data pages
    * are touched, and there are no deletes/filters in any graft store,
    * so the two numbers are identical by the format's contract).
    *
    * Why: the index-lifecycle composites gate their control flow
    * (compaction triggers, fixture floors, bucket counts) on segment
    * row counts, and each `count()` is a full Spark JOB — scheduler
    * round trip, task launch, AQE — serialized into the build's
    * critical path. At fixture scale those jobs ARE the cost (~0.1–0.3 s
    * apiece, ~10 per composite); at production scale a driver-side
    * footer read of a bounded segment (CellStore caps stores at ≤4096
    * block files; centroid tables are 1–2 files) is likewise cheaper
    * than a distributed count. Guard: stores larger than
    * [[FooterMaxFiles]] fall back to the distributed count — a
    * driver-serial footer sweep over an unbounded file set would be the
    * §5 driver-bottleneck anti-pattern.
    *
    * Counts only live data files (names starting `part-`, the only
    * shape Spark's committed writers produce — every graft store is
    * Spark-written), and PRUNES hidden path segments at every
    * DIRECTORY level, matching Spark's InMemoryFileIndex
    * `shouldFilterOutPathName` semantics (ADVICE r17: a flat
    * leaf-name filter over `fs.listFiles(p, true)` would count part
    * files left under a stale `_temporary/` staging dir from an
    * interrupted write that `spark.read.parquet(path).count()`
    * excludes — divergence exactly at the compaction triggers and
    * bucketCount derivations this helper gates). Recurses through
    * partition dirs (`bucket=N/`). */
  private val FooterMaxFiles = 512

  def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path, _.startsWith("part-"))
      .fold(readParquet(spark, path).count())(footerRowCount(conf, _))
  }

  /** [[parquetRowCount]] over an explicit set of committed data files
    * (a sink's own output, not a whole table); the same footer contract
    * and the same [[FooterMaxFiles]] guard. */
  def parquetFilesRowCount(spark: org.apache.spark.sql.SparkSession,
                           files: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    if (files.size > FooterMaxFiles)
      readParquet(spark, Map.empty[String, String], files: _*).count()
    else footerRowCount(conf, files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p)
    })
  }

  private def footerRowCount(conf: org.apache.hadoop.conf.Configuration,
                             files: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    files.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** The one parquet read of the engine: `spark.read.parquet(path)`
    * with the data schema taken from ONE footer on the driver
    * ([[parquetSchema]]) and handed over through `spark.read.schema(…)`,
    * so the read launches no schema-inference job. Without
    * `mergeSchema`, Spark's own inference reads exactly one footer too
    * (the first data file in path order) through the same
    * `readSchemaFromFooter`, and a file source reads every data column
    * as nullable whether its schema was given or inferred — so the two
    * reads resolve the same schema at any scale, without the one-task
    * job (30–75 ms plus its driver gap apiece on a 4-core VM, paid by
    * every table and store read). Partition columns (`bucket=N/`, `event_type=x/`) live
    * in directory names: Spark's file index still discovers and types
    * them, exactly as it does for an inferred read.
    *
    * Falls back to the plain read — Spark's own inference and errors —
    * when the read covers several paths, when the options or the
    * session ask for `mergeSchema`, and whenever [[parquetSchema]] finds
    * no single footer to read (a missing path, no data file, summary
    * files, more than [[FooterMaxFiles]] files, an unreadable footer). */
  def readParquet(spark: org.apache.spark.sql.SparkSession,
                  path: String): org.apache.spark.sql.DataFrame =
    readParquet(spark, Map.empty[String, String], path)

  def readParquet(spark: org.apache.spark.sql.SparkSession,
                  options: Map[String, String],
                  paths: String*): org.apache.spark.sql.DataFrame = {
    val reader = spark.read.options(options)
    val merge = options.find(_._1.equalsIgnoreCase("mergeSchema"))
      .map(_._2).getOrElse(spark.conf.get("spark.sql.parquet.mergeSchema"))
    val schema = paths match {
      case Seq(p) if !merge.trim.equalsIgnoreCase("true") =>
        parquetSchema(spark, p, options)
      case _ => None
    }
    schema.fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The Spark data schema of a stored parquet table from ONE file
    * footer — the first data file in path order, the file Spark's
    * non-merging inference reads — converted by Spark's own
    * `readSchemaFromFooter` under the session's converter flags
    * (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`, NTZ
    * inference), so Spark-, DuckDB- and pyarrow-written footers and
    * single-file tables all resolve as Spark would resolve them. None
    * when there is no single footer to read; the caller then lets Spark
    * infer. Partition columns are not in it (see [[readParquet]]).
    * `nanosAsLong` converts TIMESTAMP(NANOS) columns to LONG whatever
    * the session's flag says: a read given that schema gets the raw
    * nanos on either parquet reader, with the session left alone. */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, path: String,
                    options: Map[String, String] = Map.empty,
                    nanosAsLong: Boolean = false)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val sqlConf = if (!nanosAsLong) spark.sessionState.conf else {
      val c = spark.sessionState.conf.clone()
      c.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
      c
    }
    try dataFiles(conf, path, _ => true)
      .flatMap(_.minByOption(_.getPath.toString)).map { f =>
        val footer = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(sqlConf))
      }
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The data files Spark's file index lists under a stored table that
    * pass `keep` (or the path itself when it is a file), with hidden
    * SUBTREES pruned, not just hidden leaf names. None when the listing
    * passes [[FooterMaxFiles]] or meets a parquet summary file
    * (`_metadata`, `_common_metadata`: Spark's inference would read it
    * first); the caller then hands the work back to Spark. */
  private def dataFiles(conf: org.apache.hadoop.conf.Configuration,
                        path: String, keep: String => Boolean)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    // Spark's shouldFilterOutPathName: `_`-prefixed names are hidden
    // unless they hold `=` (a partition dir)
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def summary(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    def add(f: org.apache.hadoop.fs.FileStatus): Boolean = {
      if (keep(f.getPath.getName)) files += f
      files.size <= FooterMaxFiles
    }
    // returns false on overflow or a summary file
    def walk(dir: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(dir).forall { f =>
        val n = f.getPath.getName
        if (summary(n)) false
        else if (hidden(n)) true
        else if (f.isDirectory) walk(f.getPath)
        else add(f)
      }
    val root = fs.getFileStatus(p)
    // a single-file table is its own data file, whatever its name
    val complete = if (root.isDirectory) walk(p) else { files += root; true }
    if (complete) Some(files.toSeq) else None
  }

  /** Sweep-deferral gate for CONCURRENT store builds (r18, guide §2.6):
    * [[graft.llm.Similarity.sweepAfter]]'s unpersist-the-diff discipline
    * is correct only when builds run one at a time — under the bench's
    * parallel prewarm phase, build A's sweep would see build B's
    * still-live localCheckpoint blocks as "newly pinned" and unpersist
    * them MID-USE (a localCheckpoint'd RDD cannot be recomputed). While
    * `deferred` > 0 the per-build sweeps become no-ops and the phase
    * owner runs ONE global sweep after every build has joined — the
    * same block-store hygiene, applied once at the phase boundary. */
  private[graft] object SweepGate {
    private val depth = new java.util.concurrent.atomic.AtomicInteger(0)
    def deferred: Boolean = depth.get() > 0
    def defer[A](body: => A): A = {
      depth.incrementAndGet()
      try body finally depth.decrementAndGet()
    }
  }

  /** Session-scoped stored-index root cache shared by the serve-only
    * registrations (q179/q180/q183 and the streaming ANN path): the
    * index is built ONCE per (JVM, cache key) and later calls read the
    * stored tables, so the serve-leg bench medians time serving alone.
    *
    * Two r9-verdict housekeeping holes closed here: every root is
    * removed by ONE JVM shutdown hook (previously each bench/verify/test
    * run leaked a stored index per corpus tag into /tmp), and callers
    * put a cheap corpus CHECKSUM — not just the sfDir tag — into the
    * key, so a corpus changing under the same path can never be served
    * a stale index. */
  private[graft] object ServedRoots {
    // future-valued entries (r18): computeIfAbsent would run a multi-
    // second index build while HOLDING the key's hash bin, serializing
    // the bench's parallel prewarm builds whenever two keys share a
    // bin. putIfAbsent publishes the promise instantly; the build runs
    // outside any map lock and same-key callers block on the future —
    // the same build-once semantics, without cross-key convoys.
    private val roots = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.CompletableFuture[String]]()
    locally {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        roots.values.forEach { f =>
          // only completed builds own a directory worth deleting; a
          // build still in flight at JVM exit cleans up via its own
          // failure path or leaks at most its partial temp dir
          if (f.isDone && !f.isCompletedExceptionally)
            deleteRecursively(new java.io.File(f.join()))
        }))
    }
    /** The cached root for `key`, building the index under a fresh temp
      * dir (named after `prefix`) on first use. */
    def getOrBuild(key: String, prefix: String)(build: String => Unit): String = {
      val fresh = new java.util.concurrent.CompletableFuture[String]()
      val prior = roots.putIfAbsent(key, fresh)
      if (prior != null) prior.join()
      else {
        val r = java.nio.file.Files.createTempDirectory(prefix).toString
        // a failed build never stays registered in `roots` (same-key
        // retries rebuild) and deletes its temp dir before rethrowing
        // (ADVICE r10), or each failed build leaks a directory
        try { build(r); fresh.complete(r); r }
        catch {
          case t: Throwable =>
            roots.remove(key, fresh)
            fresh.completeExceptionally(t)
            deleteRecursively(new java.io.File(r))
            throw t
        }
      }
    }
  }
}
