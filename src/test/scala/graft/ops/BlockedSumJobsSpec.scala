package graft.ops

import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Spark job budgets of the ops that run a blocked running sum, on fixed
  * fixtures, each with its result collected. The blocked sum spends one
  * driver collect of its (group, block) subtotals, so a change that adds
  * a collect or a job to it shows here. The pins are the counts the ops
  * ran before they shared [[RunningSums]]. */
class BlockedSumJobsSpec extends SparkSuite {
  import spark.implicits._

  private def jobs(result: => DataFrame): Int =
    TestJobs.of(spark)(result.collect())._1

  private lazy val values =
    (1 to 400).map(i => (s"g${i % 3}", (i * 7919L) % 1000 - 50)).toDF("g", "v")

  test("exactQuantiles runs within its job budget") {
    assert(jobs(Sketches.exactQuantiles(values, "v",
      Seq((1, 4), (1, 2), (99, 100)))) <= 5)
  }

  test("exactQuantilesByGroup runs within its job budget") {
    assert(jobs(Sketches.exactQuantilesByGroup(values, "g", "v",
      Seq((1, 4), (1, 2), (99, 100)))) <= 8)
  }

  test("packChunks runs within its job budget") {
    val docs = (1 to 300).map(i => (i.toLong * 3, (i * 37) % 900))
      .toDF("doc_id", "n_tok")
    assert(jobs(Packing.packChunks(docs, "doc_id", col("n_tok"),
      capacity = 512, buckets = 8)) <= 6)
  }

  test("rankMovers runs within its job budget") {
    val sales = (1 to 300).map(i => (i % 60, i % 2 == 0, (i * 131L) % 977))
      .toDF("k", "a", "cents")
    assert(jobs(Profiling.rankMovers(sales, "k", col("a"), col("cents"),
      topK = 10)) <= 9)
  }

  test("lifeTable runs within its job budget") {
    val activity = (1 to 300).map(i => (i % 70, (i * 13) % 40))
      .toDF("k", "p")
    assert(jobs(Sessions.lifeTable(activity, "k", col("p"))) <= 9)
  }
}
