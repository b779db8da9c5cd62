package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The optimizer rule must turn a raw BETWEEN range join into the binned
  * hash join — same rows, no nested-loop node — and stay inert without
  * its conf key. */
class RangeJoinRewriteSpec extends SparkSuite {

  /** `f` under the rule's bin width (the session installs the rule, which
    * is inert without one). */
  private def withWidth[A](binWidth: Option[Long])(f: => A): A = {
    binWidth match {
      case Some(w) => spark.conf.set(RangeJoinRewrite.BinWidthKey, w.toString)
      case None => spark.conf.unset(RangeJoinRewrite.BinWidthKey)
    }
    try f finally spark.conf.unset(RangeJoinRewrite.BinWidthKey)
  }

  private lazy val points: DataFrame = {
    import spark.implicits._
    Seq.tabulate(300)(i => (i.toLong, i.toLong * 7 % 1000)).toDF("pid", "p")
  }
  private lazy val intervals: DataFrame = {
    import spark.implicits._
    // includes bin-crossing, zero-length and inverted (empty) intervals
    (Seq.tabulate(40)(i => (i.toLong, i.toLong * 25, i.toLong * 25 + 60)) :+
      (90L, 500L, 500L) :+ (91L, 400L, 300L)).toDF("iid", "s", "e")
  }

  private def rangeJoin(): DataFrame =
    points.join(intervals, col("p") >= col("s") && col("p") <= col("e"))
      .select("pid", "iid")

  test("rewrites a raw range join to a hash join with identical rows") {
    val naive = rangeJoin().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    withWidth(Some(50L)) {
      val df = rangeJoin()
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("NestedLoopJoin"),
        "rule did not fire:\n" + plan.take(2000))
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.toSet.size, "duplicated pairs")
      assert(got.toSet === naive)
    }
  }

  test("mirrored operand forms rewrite too") {
    withWidth(Some(50L)) {
      val df = intervals.join(points,
        col("s") <= col("p") && col("e") >= col("p")) // point side on right
        .select("pid", "iid")
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("NestedLoopJoin"), plan.take(2000))
      assert(df.collect().length === rangeJoin().collect().length)
    }
  }

  test("inert without the conf key; non-range joins untouched") {
    withWidth(None) {
      val plan = rangeJoin().queryExecution.executedPlan.toString()
      assert(plan.contains("NestedLoopJoin")) // baseline shape, no rewrite
    }
    withWidth(Some(50L)) {
      // equi-join: rule must not touch it
      val eq = points.join(intervals, col("p") === col("s"))
      assert(eq.queryExecution.executedPlan.toString()
        .contains("HashJoin"))
      // strict bounds are NOT the between shape: left alone (still correct)
      val strict = points.join(intervals,
        col("p") > col("s") && col("p") < col("e"))
      val nStrict = strict.count()
      val nBetween = rangeJoin().count()
      assert(nStrict <= nBetween)
    }
  }
}
