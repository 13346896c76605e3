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
    * [[FooterCountMaxFiles]] fall back to the distributed count — a
    * driver-serial footer sweep over an unbounded file set would be the
    * §5 driver-bottleneck anti-pattern.
    *
    * Counts only live data files (names starting `part-`, the only
    * shape Spark's committed writers produce — every graft store is
    * Spark-written), and PRUNES `_`/`.`-prefixed path segments at
    * every DIRECTORY level, matching Spark's InMemoryFileIndex
    * `shouldFilterOutPathName` semantics (ADVICE r17: a flat
    * leaf-name filter over `fs.listFiles(p, true)` would count part
    * files left under a stale `_temporary/` staging dir from an
    * interrupted write that `spark.read.parquet(path).count()`
    * excludes — divergence exactly at the compaction triggers and
    * bucketCount derivations this helper gates). Recurses through
    * partition dirs (`bucket=N/`). */
  private val FooterCountMaxFiles = 512

  def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (files, complete) = partFiles(conf, path, FooterCountMaxFiles)
    if (!complete) spark.read.parquet(path).count()
    else files.iterator.map { f =>
      val r = openFooter(conf, f)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The Spark schema of a stored parquet table from ONE file footer:
    * the `org.apache.spark.sql.parquet.row.metadata` key every Spark
    * writer stamps, the same footer schema Spark's own inference reads
    * (without `mergeSchema`, inference reads one footer too). Passed
    * through `spark.read.schema(…)`, it spares the read the
    * schema-inference JOB — one task, no input, no shuffle, ~0.1 s of
    * driver round trip apiece, paid by every store segment read. None
    * when no data file carries the key; the caller then lets Spark
    * infer. Partition columns live in directory names, not footers: a
    * caller reading a partitioned table adds them. */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession,
                    path: String): Option[org.apache.spark.sql.types.StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    partFiles(conf, path, 1)._1.headOption.flatMap { f =>
      val r = openFooter(conf, f)
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(org.apache.spark.sql.types.DataType.fromJson(_)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      finally r.close()
    }
  }

  /** The live data files under a stored table (names starting `part-`,
    * hidden subtrees pruned), in listing order, stopping once `max`
    * are found; true when the listing completed within `max`. */
  private def partFiles(conf: org.apache.hadoop.conf.Configuration,
                        path: String, max: Int)
      : (Seq[org.apache.hadoop.fs.FileStatus], Boolean) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    // manual recursion so hidden SUBTREES are pruned, not just hidden
    // leaf names; returns false on overflow past `max`
    def walk(dir: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(dir).forall { f =>
        val n = f.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) true
        else if (f.isDirectory) walk(f.getPath)
        else if (!n.startsWith("part-")) true
        else { files += f; files.size <= max }
      }
    val complete = walk(p)
    (files.take(max).toSeq, complete)
  }

  private def openFooter(conf: org.apache.hadoop.conf.Configuration,
                         f: org.apache.hadoop.fs.FileStatus) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))

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
