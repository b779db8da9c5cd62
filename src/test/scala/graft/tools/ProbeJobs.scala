package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.Similarity

/** Job counts and physical plans of one IVF and one IVF-PQ probe over a
  * persisted index, in the benchmark's shape: 2000 64-dim vectors, 16
  * cells, an 8-subspace codebook of 16 codes, one driver-local query,
  * k = 10, nprobe = 4, local[4].
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag>"
  *
  * writes `<outDir>/{ivf,pq}_probe_<tag>.txt` (the final adaptive plan
  * of a warm probe) and `<outDir>/jobs_<tag>.json` (jobs of the first
  * probe on freshly read frames and of a warm one, plus warm walls).
  * Only public index calls are used, so the same file measures any
  * version of the library. */
object ProbeJobs {

  private val spark = SparkSuite.spark

  private def jobs(body: => Unit): Int =
    org.apache.spark.TestJobs.of(spark)(body)._1

  def main(args: Array[String]): Unit = {
    val Array(outDir, tag) = args
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val corpus = spark.range(0, 2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin(col("id") * 1.37 + j * 0.61).cast("float"))
        .as("embedding"))
    val root = Files.createTempDirectory("probe_jobs").toString
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), s"$root/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec", codebookIds = 1L to 16L,
      inDims = 64, nSub = 8), s"$root/pq")
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
    spark.stop()
  }
}
