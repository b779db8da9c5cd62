package graft

import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame

import graft.closure.TransitiveClosure
import graft.ops.{Dedup, Graphs}

/** Per-loop Spark job budgets of the fixpoint family on fixed fixtures.
  *
  * Every round of a fixpoint loop pays Spark's fixed per-job cost, so the
  * jobs a loop runs end to end (entry, rounds and the caller's one
  * action) are pinned as upper bounds — the counts of the loops before
  * they shared one round driver — and the round counts exactly. */
class FixpointJobsSpec extends SparkSuite {
  import spark.implicits._

  /** (jobs, rounds) of building `result` and counting it: the rounds are
    * the SQL executions whose plan joins over a checkpoint. */
  private def measure(result: => DataFrame): (Int, Int) = {
    val (jobs, plans) = TestJobs.of(spark)(result.count())
    (jobs, graft.tools.ProbeJobs.loopRounds(plans))
  }

  test("closureLong: a depth-66 chain with a hub fan closes in 8 rounds " +
    "within its job budget") {
    val chain = (0 until 64).map(i => (i.toLong, i.toLong + 1))
    val fan = (1001L to 1100L).map(c => (1000L, c))
    val edges = ((chain :+ (64L, 1000L)) ++ fan).toDF("parent", "child")
    val (jobs, rounds) = measure(TransitiveClosure.closureLongWith(spark,
      edges, walkMaxEdges = TransitiveClosure.LoopOnly))
    assert(rounds === 8)
    assert(jobs <= 51)
  }

  test("nearDupClusters: a 40-chain labels in 7 rounds within its job " +
    "budget") {
    val pairs = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val (jobs, rounds) = measure(Dedup.nearDupClusters(pairs))
    assert(rounds === 7)
    assert(jobs <= 49)
  }

  test("dagDepth: a depth-8 DAG settles in 9 rounds within its job " +
    "budget") {
    val edges = ((1L to 8L).map(i => (i - 1, i)) ++
      Seq((0L, 5L), (2L, 7L), (3L, 9L))).toDF("parent", "child")
    val (jobs, rounds) = measure(Graphs.dagDepth(spark, edges))
    assert(rounds === 9)
    assert(jobs <= 21)
  }

  test("kCore: a triangle with a 5-node pendant path peels in 5 rounds " +
    "within its job budget") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++
      (3L until 8L).map(i => (i, i + 1))
    val sym = (e ++ e.map(_.swap)).toDF("src", "dst")
    val (jobs, rounds) = measure(Graphs.kCore(spark, sym, k = 2))
    assert(rounds === 5)
    assert(jobs <= 20)
  }
}
