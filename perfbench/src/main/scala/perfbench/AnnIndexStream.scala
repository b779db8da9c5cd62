package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Similarity
import graft.streaming.Streams

/** ann_index_stream: the persisted-index and streaming family. One round
  * (a cycle) builds and writes an IVF and an IVF-PQ index over the base
  * corpus, streams two of the small delta files into each through its
  * maintenance stream (one file per micro-batch, compaction every second
  * batch), reads both indexes back and probes both with each of six
  * seeded queries. Recall is scored against an exact top-10 the benchmark
  * computes itself.
  *
  * A maintenance job starts cold in every run, so the cycle runs from cold;
  * the probe latency leaves out the first probe pair, which pays the JVM's
  * first compile of the probe plans. */
final class AnnIndexStream extends Workload {
  import AnnIndexStream.Batch

  val Base = 2000
  val DeltaFiles = 8
  val PerDelta = 80
  val DeltasPerCycle = 2
  val Queries = 12
  val ProbePairs = 6
  val CompactEvery = 2
  val Cells = 16
  val K = 10

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType))))

  private var vs: Gen.Vectors = _
  private var dir: Path = _
  private var n = 0
  private val probeSecs = mutable.ArrayBuffer.empty[Double]
  private val recalls = mutable.ArrayBuffer.empty[(String, Double)]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val streamSecs = mutable.ArrayBuffer.empty[Double]
  private var cycles = 0
  private var indexFiles = 0L
  private var indexBytes = 0L

  def generate(ctx: Ctx, d: Path): String = {
    vs = Gen.vectors(ctx.seed, Base, DeltaFiles, PerDelta, Queries)
    dir = d.resolve("vectors")
    Gen.writeVectors(vs, dir)
    Gen.digest(d)
  }

  private def stream(ctx: Ctx, name: String, root: String, pq: Boolean): StreamingQuery = {
    val spark = ctx.spark
    val deltas = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .json(s"$root/deltas")
    ctx.span("streaming", name) {
      val t0 = System.nanoTime()
      val q =
        if (pq) Streams.pqIndexMaintenanceStream(deltas, "vec_id", "embedding",
          s"$root/pq", s"$root/chk-pq", compactEvery = CompactEvery)
        else Streams.indexMaintenanceStream(deltas, "vec_id", "embedding",
          s"$root/ivf", s"$root/chk-ivf", compactEvery = CompactEvery)
      q.awaitTermination()
      streamSecs += (System.nanoTime() - t0) / 1e9
      q
    }
  }

  private def tree(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && f.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  def round(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val root = ctx.work.resolve(s"ann/c$n")
    val picked = (0 until DeltasPerCycle).map(j => (n * DeltasPerCycle + j) % DeltaFiles)
    n += 1
    Files.createDirectories(root.resolve("deltas"))
    picked.foreach { i =>
      val f = f"delta-$i%03d.json"
      Files.copy(dir.resolve("deltas").resolve(f), root.resolve("deltas").resolve(f))
    }
    val corpus = vs.base ++ picked.flatMap(vs.deltas)
    val ids = corpus.map(_._1)
    val rootS = root.toString
    val total = ids.size.toLong
    ctx.op("index build and streams") {
      ctx.span("ops", "index_build") {
        val base = spark.read.schema(schema).json(dir.resolve("base").toString)
        val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", Cells)
        Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
          "embedding", seeds, "sid", "svec"), s"$rootS/ivf")
        val pq = Similarity.buildIvfPqIndex(base, "vec_id", "embedding", seeds,
          "sid", "svec", codebookIds = 1L to 16L, inDims = Gen.Dims, nSub = 8)
        Similarity.writeIvfPqIndex(pq, s"$rootS/pq")
        graft.Lineage.retireDependents(pq.codes)
      }
      val progress = Seq(stream(ctx, "ivf_stream", rootS, pq = false),
        stream(ctx, "pq_stream", rootS, pq = true)).flatMap(_.recentProgress)
      progress.filter(_.numInputRows > 0).foreach { p =>
        val d = p.durationMs.asScala
        batches += Batch((p.batchId + 1) % CompactEvery == 0, p.numInputRows,
          d.get("addBatch").map(_.longValue).getOrElse(0L),
          d.get("triggerExecution").map(_.longValue).getOrElse(0L))
      }
      val (files, bytes) = tree(root.resolve("ivf/postings"))
      indexFiles = files + tree(root.resolve("pq/codes"))._1
      indexBytes = bytes
      // exactly-once: every vector appended once, in both indexes
      val got = Seq("ivf/postings", "pq/codes").map { sub =>
        val r = spark.read.parquet(s"$rootS/$sub")
          .selectExpr("count(*)", "count(DISTINCT corpus_id)", "sum(corpus_id)").head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val want = (total, total, ids.sum)
      ctx.expect("index holds each vector once", got.forall(_ == want), s"got $got want $want")
    }
    val (ivf, pq) = ctx.span("ops", "index_read") {
      (Similarity.readIvfIndex(spark, s"$rootS/ivf"), Similarity.readIvfPqIndex(spark, s"$rootS/pq"))
    }
    val cycleRecall = mutable.ArrayBuffer.empty[Double]
    // each query probes both indexes; one pair is one timed operation
    (0 until ProbePairs).foreach { i =>
      val j = (n * ProbePairs + i) % Queries
      val truth = Gen.bruteTopK(corpus, vs.queries(j), K).toSet
      val q = Seq((j.toLong, vs.queries(j).toSeq)).toDF("qid", "qvec")
      val t0 = System.nanoTime()
      val results = Seq(false, true).map { usePq =>
        usePq -> ctx.span("ops", "probe") {
          val df =
            if (usePq) Similarity.probeIvfPqIndex(pq, q, "qid", "qvec", K)
            else Similarity.probeIvfIndex(ivf, q, "qid", "qvec", K)
          df.select("corpus_id").as[Long].collect().toSeq
        }
      }
      if (i > 0) probeSecs += (System.nanoTime() - t0) / 1e9
      val known = ids.toSet
      results.foreach { case (usePq, got) =>
        ctx.op("probe") {
          val rec = got.count(truth).toDouble / K
          recalls += ((if (usePq) "pq" else "ivf", rec))
          if (!usePq) cycleRecall += rec
          ctx.expect("probe returns k distinct indexed ids",
            got.size == K && got.distinct.size == K && got.forall(known), s"got $got")
        }
      }
    }
    // an exact-vector IVF probe that misses most true neighbours is wrong
    // output, not an approximation
    ctx.op("ivf recall") {
      ctx.expect("IVF recall@10 of the cycle", cycleRecall.sum / cycleRecall.size >= 0.5,
        s"${cycleRecall.sum / cycleRecall.size}")
    }
    Main.deleteTree(root)
    cycles += 1
  }

  private def recall(kind: String): Double = {
    val r = recalls.filter(_._1 == kind).map(_._2)
    if (r.isEmpty) 0.0 else r.sum / r.size
  }

  def warmUp: Boolean = false
  def reset(): Unit = {
    probeSecs.clear(); recalls.clear(); batches.clear(); streamSecs.clear(); cycles = 0
  }
  def rounds: Int = cycles
  def opSeconds: Seq[Double] = probeSecs.toSeq
  /** Vectors appended per second of stream wall time (start to end). */
  def items: (Double, Double) = (batches.map(_.rows).sum.toDouble, streamSecs.sum)
  def named: Seq[(String, Double, String, Int)] = {
    val trig = batches.map(_.triggerMs / 1e3).toSeq
    Seq(("stream_batch_p50_s", Stats.median(trig), "s", trig.size),
      ("index_vectors_per_s", items._1 / items._2, "vectors/s", streamSecs.size),
      ("probe_pair_p50_s", Stats.median(probeSecs.toSeq), "s", probeSecs.size),
      ("probe_recall_at_10", recall("ivf"), "ratio", recalls.count(_._1 == "ivf")),
      ("probe_recall_at_10_pq", recall("pq"), "ratio", recalls.count(_._1 == "pq")))
  }
  def layerExtras(ctx: Ctx): Map[String, Double] = {
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val plain = batches.filterNot(_.compacted).map(_.addMs / 1e3).toSeq
    val compact = batches.filter(_.compacted).map(_.addMs / 1e3).toSeq
    Map("streaming.batches" -> batches.size.toDouble / math.max(1, rounds),
      "streaming.add_batch_p50_s" -> p50(plain),
      "streaming.compact_batch_p50_s" -> p50(compact),
      "streaming.overhead_p50_s" -> p50(batches.map(b => (b.triggerMs - b.addMs) / 1e3).toSeq),
      "ops.index_files" -> indexFiles.toDouble,
      "ops.index_bytes_per_vector" ->
        indexBytes.toDouble / (Base + DeltasPerCycle * PerDelta))
  }
}

object AnnIndexStream {
  /** One micro-batch's progress: whether it compacted, rows appended, and
    * its `addBatch` and `triggerExecution` durations. */
  final case class Batch(compacted: Boolean, rows: Long, addMs: Long, triggerMs: Long)
}
