package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.ops.Similarity
import graft.streaming.Streams

/** Job counts, plans and phases of the persisted-index family in the
  * benchmark's shape: 2000 64-dim vectors, 16 cells, an 8-subspace
  * codebook of 16 codes, local[4].
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag>"
  *
  * probes: writes `<outDir>/{ivf,pq}_probe_<tag>.txt` (the final adaptive
  * plan of a warm probe, one driver-local query, k = 10, nprobe = 4) and
  * `<outDir>/jobs_<tag>.json` (jobs of the first probe on freshly read
  * frames and of a warm one, plus warm walls).
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> stream"
  *
  * maintenance streams: runs the IVF and the PQ maintenance stream over
  * two JSON delta files of 80 vectors (one file per micro-batch,
  * compaction every second batch) after one unmeasured warm-up round,
  * and writes `<outDir>/stream_<tag>.json` and `<outDir>/stream_<tag>.md`
  * — per batch: the Spark jobs it ran (each labelled by its result
  * stage's operation scopes) and the stream's phase durations. Only public index and stream calls are
  * used, so the same file measures any version of the library. */
object ProbeJobs {

  private val spark = SparkSuite.spark

  private def jobs(body: => Unit): Int =
    org.apache.spark.TestJobs.of(spark)(body)._1

  private lazy val corpus: DataFrame =
    spark.range(0, 2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin(col("id") * 1.37 + j * 0.61).cast("float"))
        .as("embedding"))

  /** A fresh root holding the IVF index at `ivf` and the PQ one at `pq`. */
  private def buildRoot(): String = {
    val root = Files.createTempDirectory("probe_jobs").toString
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), s"$root/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec", codebookIds = 1L to 16L,
      inDims = 64, nSub = 8), s"$root/pq")
    root
  }

  def main(args: Array[String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    args match {
      case Array(outDir, tag) => probes(outDir, tag)
      case Array(outDir, tag, "stream") => streams(outDir, tag)
      case _ => sys.error("usage: ProbeJobs <outDir> <tag> [stream]")
    }
    spark.stop()
  }

  private def probes(outDir: String, tag: String): Unit = {
    import spark.implicits._
    val root = buildRoot()
    val ivf = Similarity.readIvfIndex(spark, s"$root/ivf")
    val pq = Similarity.readIvfPqIndex(spark, s"$root/pq")
    val q = Seq((7L, (0 until 64).map(j => math.sin(7 * 1.37 + j * 0.61)
      .toFloat))).toDF("qid", "qvec")
    val probes = Seq[(String, () => DataFrame)](
      "ivf" -> (() => Similarity.probeIvfIndex(ivf, q, "qid", "qvec", 10)),
      "pq" -> (() => Similarity.probeIvfPqIndex(pq, q, "qid", "qvec", 10)))
    Files.createDirectories(Paths.get(outDir))
    val report = probes.map { case (name, probe) =>
      val cold = jobs(probe().collect())
      val warm = jobs(probe().collect())
      val walls = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        probe().collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val df = probe()
      df.collect()
      Files.writeString(Paths.get(outDir, s"${name}_probe_$tag.txt"),
        df.queryExecution.explainString(FormattedMode))
      f""""$name": {"cold_jobs": $cold, "warm_jobs": $warm, """ +
        f""""warm_wall_median_s": ${walls(2)}%.3f}"""
    }
    Files.writeString(Paths.get(outDir, s"jobs_$tag.json"),
      report.mkString("{", ", ", "}\n"))
    println(report.mkString("\n"))
  }

  /** One stream's batches: (batch id, job labels, phase ms). */
  private type Batches = Seq[(Long, Seq[String], Map[String, Long])]

  /** Runs both maintenance streams over two fresh delta files of 80
    * vectors each against a freshly built root. */
  private def streamRound(): Seq[(String, Batches)] = {
    import scala.jdk.CollectionConverters._
    val root = buildRoot()
    (0 until 2).foreach { f =>
      spark.range(2000 + 80 * f, 2080 + 80 * f)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            j => cos(col("id") * 0.91 + j * 0.47).cast("float"))
            .as("embedding"))
        .coalesce(1).write.mode("append").json(s"$root/deltas")
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    Seq("ivf", "pq").map { kind =>
      val deltas = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$root/deltas")
      var query: StreamingQuery = null
      val jobs = org.apache.spark.TestJobs.perBatch(spark) {
        query =
          if (kind == "pq") Streams.pqIndexMaintenanceStream(deltas,
            "vec_id", "embedding", s"$root/pq", s"$root/chk-pq",
            compactEvery = 2)
          else Streams.indexMaintenanceStream(deltas, "vec_id",
            "embedding", s"$root/ivf", s"$root/chk-ivf", compactEvery = 2)
        query.awaitTermination()
      }
      val byBatch = jobs.map { case ((_, b), sites) => b -> sites }
      kind -> query.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map { p =>
          (p.batchId, byBatch.getOrElse(p.batchId, Nil),
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
              .toMap)
        }
    }
  }

  private def streams(outDir: String, tag: String): Unit = {
    streamRound() // warm-up: JIT and first-plan compilation
    val measured = streamRound()
    val phases = Seq("addBatch", "triggerExecution", "queryPlanning",
      "getBatch", "latestOffset", "walCommit", "commitOffsets")
    def q(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val json = measured.map { case (kind, batches) =>
      q(kind) + ": " + batches.map { case (b, sites, ms) =>
        s"""{"batch": $b, "compacting": ${(b + 1) % 2 == 0}, """ +
          s""""jobs": ${sites.size}, "job_scopes": """ +
          sites.map(q).mkString("[", ", ", "]") + """, "duration_ms": """ +
          phases.filter(ms.contains).map(p => s"${q(p)}: ${ms(p)}")
            .mkString("{", ", ", "}") + "}"
      }.mkString("[", ", ", "]")
    }.mkString("{", ",\n ", "}\n")
    val rows = for ((kind, batches) <- measured; (b, sites, ms) <- batches)
      yield s"| $kind | $b | ${if ((b + 1) % 2 == 0) "yes" else "no"} | " +
        s"${sites.size} | " +
        phases.map(p => ms.get(p).map(_.toString).getOrElse("")).mkString(" | ") +
        " |"
    val md = (s"| stream | batch | compacts | jobs | " +
        phases.map(_ + " ms").mkString(" | ") + " |") +:
      ("|" + Seq.fill(4 + phases.size)("---").mkString("|") + "|") +: rows
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"stream_$tag.json"), json)
    Files.writeString(Paths.get(outDir, s"stream_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }
}
