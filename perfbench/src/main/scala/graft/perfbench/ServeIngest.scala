package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Expression, Length, Size, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{App, CoordinatedCommit, JobObserver}
import graft.functions.{Hashing, Int8PackVector, Int8PackedDot, LongVectorSqDist, VectorDotProduct}
import graft.llm.{Dedup, Similarity}

/** The `serve_ingest` workload: interactive vector serving beside
  * write-side ingest, in one closed loop. A round is twelve ops,
  *
  *   serve, LSM ingest, dedup, ETL write,
  *   serve, LSM ingest, dedup, ETL copy,
  *   serve, LSM ingest, dedup, ETL coordinated commit
  *
  * Serving runs seeded probe micro-batches through the stored binary
  * (sign-quantized, Hamming + rerank) index, built in setup. Ingest runs
  * seeded arrival batches (drifting vectors, a third tombstones) through
  * `Similarity.lsmIngestStreamBatch` into an LSM store seeded in setup by
  * `Similarity.lsmVectorIndexTo`; the store's 5 % trigger compacts on one
  * batch in three, so every round holds one compaction. Beside them run
  * seeded document batches with planted near-duplicates through
  * `Dedup.minhashLsh`, and the reference's ETL jobs through `etl.App.run`.
  * Every round holds the same op mix, so a window of whole rounds
  * measures the same work whatever the seed. Set-up builds the index and
  * the store and runs each other op kind once. Outputs are left in the
  * op records and the store; `run.py` checks them. */
final class ServeIngest(run: Run) {
  private val spark = run.spark
  private val tag = "perfbench"
  private val corpus = spark.read.parquet(s"${run.fixtures}/embeddings.parquet")
  private val etlRows = 250000L
  private val etlJobs = Seq("writeOneCluster", "oneClusterCopyTable",
    "twoClustersCoordinatedWrite")

  private def batches(file: String, cols: String*): (Map[Int, Seq[Row]], StructType) = {
    val df = spark.read.parquet(s"${run.inputs}/$file")
    val sel = df.select(col("batch") +: cols.map(col): _*)
    val rows = sel.collect().toSeq
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(r => Row.fromSeq(r.toSeq.tail)) }
    (rows, StructType(sel.schema.fields.tail))
  }
  private val (probes, probeSchema) = batches("probes.parquet", "vec_id", "embedding")
  private val (docs, docSchema) =
    batches("doc_batches.parquet", "doc_id", "text", "lang", "source", "n_chars")
  private val (arrivals, arrivalSchema) =
    batches("lsm_batches.parquet", "ent", "vec_id", "qe", "label", "del")
  private val lsmRoot = s"${run.out}/lsm"
  run.setup("inputs_s") = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def serveBq(dir: String, b: Int): Unit =
    Similarity.bqSearchStreamBatch(corpus, tag, dir)(
      spark.createDataFrame(probes(b).asJava, probeSchema), b.toLong)

  private def serve(b: Int): Unit = {
    val dir = s"${run.out}/serve/bq-$b"
    run.op("serve", "bq") { ctx =>
      ctx.out("batch") = b
      ctx.out("dir") = dir
      ctx.layer("llm.serve.bq")(serveBq(dir, b))
    }
  }

  private def dedup(d: Int): Unit = run.op("dedup", s"batch$d") { ctx =>
    ctx.out("batch") = d
    val pairs = ctx.layer("llm.dedup")(
      Dedup.minhashLsh(spark.createDataFrame(docs(d).asJava, docSchema))
        .select("doc_a", "doc_b").collect())
    ctx.out("pairs") = pairs.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
  }

  private def ingest(a: Int): Unit =
    Similarity.lsmIngestStreamBatch(lsmRoot)(
      spark.createDataFrame(arrivals(a).asJava, arrivalSchema), a.toLong)

  private def segments(): Array[String] = new File(lsmRoot).list()

  /** The store's newest base segment, as its readers choose it. */
  private def newestBase(): String = segments()
    .filter(d => d == "base" || d.startsWith("base_c"))
    .maxBy(d => if (d == "base") 0 else d.drop(6).toInt)

  private def dataBytes(dir: String): Long =
    java.nio.file.Files.walk(new File(dir).toPath).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .map(p => java.nio.file.Files.size(p)).sum

  /** One arrival batch into the LSM store. After it, outside its timing,
    * records whether it compacted, the bytes of the base it rewrote and
    * how many segments are live. */
  private def lsm(a: Int): Unit = {
    val before = newestBase()
    run.op("lsm", "ingest", check = ctx => {
      val after = newestBase()
      ctx.out("compacted") = after != before
      ctx.out("rewritten_bytes") = if (after != before) dataBytes(s"$lsmRoot/$after") else 0L
      ctx.out("live_segments") = 1 + segments().count(_.startsWith("delta"))
    }) { ctx =>
      ctx.out("batch") = a
      ctx.out("rows") = arrivals(a).size
      ctx.layer("llm.lsm")(ingest(a))
    }
  }

  /** Times the write and commit phases of one ETL job from its observer
    * callbacks, and counts the files it persisted. */
  private final class EtlObserver extends JobObserver {
    @volatile var files = 0L
    @volatile var bytes = 0L
    @volatile var persistedNs = 0L
    override def onObjectPersisted(bucket: String, key: String, n: Long): Unit = {
      files += 1; bytes += n
    }
    override def onAllObjectsPersisted(objects: Long, n: Long): Unit =
      persistedNs = System.nanoTime()
  }

  private def etl(job: String, e: Int): Unit = {
    val root = s"${run.out}/etl/$e"
    run.op("etl", job, check = _ => graft.FsUtil.deleteRecursively(new File(root))) { ctx =>
      val obs = new EtlObserver
      val t0 = System.nanoTime()
      val summary = ctx.layer("etl.App.run")(
        App.run(spark, job, Map("root" -> root, "rows" -> etlRows.toString), obs))
      val t1 = System.nanoTime()
      if (obs.persistedNs > 0) {
        ctx.t("etl.write") = (obs.persistedNs - t0) / 1e6
        ctx.t("etl.commit") = (t1 - obs.persistedNs) / 1e6
      }
      val dests = job match {
        case "writeOneCluster" => Seq(s"$root/test")
        case "oneClusterCopyTable" => Seq(s"$root/test", s"$root/test2")
        case _ => summary.stripPrefix("committed=").split(",").toSeq
      }
      if (job == "twoClustersCoordinatedWrite")
        ctx.out("visible") = Seq("cluster_1", "cluster_2").map(c =>
          CoordinatedCommit.visible(CoordinatedCommit.Destination(c, s"$root/$c")).size)
      // every column is scanned: a bare count() is answered from footers
      ctx.out("readback") = ctx.layer("etl.readback")(dests.map { p =>
        val r = spark.read.parquet(p).agg(count(lit(1)), count(col("course")),
          sum(col("id")), sum(col("marks")), sum(length(col("course")))).head()
        (0 until 5).map(r.getLong)
      })
      ctx.out("rows") = etlRows
      ctx.out("files") = obs.files
    }
  }

  /** ns per element of the hand-written kernels, on the workload's own
    * vectors (128 probes × the corpus, 16 M elements) through each
    * kernel's generated code (an `UnsafeProjection` over its expression),
    * less the same projection with the kernel replaced by array sizes;
    * minhash directly on one document batch. Best of five each. */
  private def kernels(): Map[String, Double] = {
    def best(f: => Unit): Double =
      (1 to 5).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }.min.toDouble
    val probeVecs = (1 to 4).flatMap(probes).map(_.getSeq[Float](1).toArray)
    val corpusVecs = corpus.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val dim = probeVecs.head.length
    def perElem(dt: DataType, encode: Array[Float] => Any,
                kernel: (Expression, Expression) => Expression,
                base: Expression => Expression): Double = {
      val (ps, cs) = (probeVecs.map(encode), corpusVecs.map(encode))
      val rows = for (p <- ps; c <- cs) yield InternalRow(p, c)
      val (a, b) = (BoundReference(0, dt, nullable = false), BoundReference(1, dt, nullable = false))
      val k = UnsafeProjection.create(Seq(kernel(a, b)))
      val z = UnsafeProjection.create(Seq(Add(base(a), base(b))))
      math.max(best(rows.foreach(k(_))) - best(rows.foreach(z(_))), 1.0) / (rows.size * dim)
    }
    val floats = (v: Array[Float]) => UnsafeArrayData.fromPrimitiveArray(v)
    val pack = Int8PackVector(BoundReference(0, ArrayType(FloatType, false), nullable = false))
    val texts = docs(0).map(_.getString(1))
    val seeds = Hashing.seeds(64)
    val elems = texts.map(t => Hashing.shingleHashes(t).length.toLong * seeds.length).sum
    val minhashNs = best(texts.foreach(t =>
      Hashing.minhashSignature(Hashing.shingleHashes(t), seeds)))
    Map(
      "functions.float_dot_ns_per_elem" -> perElem(ArrayType(FloatType, false), floats,
        VectorDotProduct(_, _), Size(_)),
      "functions.int8_dot_ns_per_elem" -> perElem(BinaryType,
        v => pack.eval(InternalRow(floats(v))), Int8PackedDot(_, _), Length(_)),
      "functions.long_sqdist_ns_per_elem" -> perElem(ArrayType(LongType, false),
        v => UnsafeArrayData.fromPrimitiveArray(v.map(x => math.round(x * 1000.0))),
        LongVectorSqDist(_, _), Size(_)),
      "functions.minhash_ns_per_elem" -> minhashNs / elems)
  }

  private def setupStep(name: String)(f: => Unit): Unit = {
    run.tracer.tracing = run.traced
    val t0 = System.nanoTime()
    try run.tracer.op(s"setup:$name")(f)
    finally {
      run.setup(name) = (System.nanoTime() - t0) / 1e9
      run.tracer.tracing = false
      run.sweep()
    }
  }

  def apply(): Unit = {
    run.setup("corpus_rows") = corpus.count()
    // the first call builds the store, then serves batch 0
    setupStep("llm.build.bq_s")(serveBq(s"${run.out}/serve/bq-warm", 0))
    setupStep("llm.build.lsm_s")(Similarity.lsmVectorIndexTo(corpus, lsmRoot))
    // one run of each other op kind, so no timed op is a plan's first
    // execution in this JVM; arrival batch 0 goes into the store here
    setupStep("warm_s") {
      ingest(0)
      Dedup.minhashLsh(spark.createDataFrame(docs(0).asJava, docSchema)).collect()
      etlJobs.foreach { job =>
        App.run(spark, job, Map("root" -> s"${run.out}/etl/warm", "rows" -> "10000"))
        graft.FsUtil.deleteRecursively(new File(s"${run.out}/etl/warm"))
      }
    }
    run.setup("lsm_root") = lsmRoot
    run.setup("lsm_setup_batches") = Seq(0)
    // batch 0 of each kind was used in set-up; the window cycles the rest
    var (b, a, d, e) = (1, 1, 1, 0)
    run.window { _ =>
      etlJobs.foreach { job =>
        serve(b); lsm(a); dedup(d); etl(job, e)
        b = 1 + b % (probes.size - 1); a += 1; d = 1 + d % (docs.size - 1); e += 1
      }
    }
    if (run.traced) run.setup("kernels") = kernels()
  }
}
