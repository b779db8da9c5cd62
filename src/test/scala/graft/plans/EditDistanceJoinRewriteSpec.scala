package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The optimizer rule must turn a naive `levenshtein(a,b) <= 1` join into
  * the deletion-neighborhood equi-join — identical ROWS (multiplicity
  * included), no nested-loop node — skip hash-plannable joins, and honor
  * its kill switch. */
class EditDistanceJoinRewriteSpec extends SparkSuite {
  import spark.implicits._

  /** `f` with the rewrite off (the session installs it): the naive
    * nested-loop plan every reference here is computed by. */
  private def naive[A](f: => A): A = graft.ConfScope.withConf(spark,
    EditDistanceJoinRewrite.EnabledKey, "false")(f)

  private lazy val names: DataFrame =
    spark.read.parquet(s"$sfDir/customer.parquet")
      .limit(300)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
      .localCheckpoint()

  private def naiveJoin(): DataFrame = {
    val a = names.select(col("id").as("ia"), col("s").as("sa"))
    val b = names.select(col("id").as("ib"), col("s").as("sb"))
    a.join(b, levenshtein(col("sa"), col("sb")) <= 1 &&
      col("ia") < col("ib"))
  }

  test("rewrites the naive levenshtein join: equi-join plan, " +
      "identical pairs, no duplicates") {
    val want = naive(naiveJoin().select("ia", "ib").as[(Long, Long)]
      .collect().toSet)
    assert(want.nonEmpty)
    val df = naiveJoin()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("NestedLoopJoin"),
      "rule did not fire:\n" + plan.take(2000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
    val got = df.select("ia", "ib").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "duplicated pairs")
    assert(got.toSet === want)
  }

  test("equal strings and duplicate input rows keep naive multiplicity") {
    val l = Seq((1L, "same"), (2L, "same"), (2L, "same"))
      .toDF("il", "sl")
    val r = Seq((7L, "same"), (8L, "sam")).toDF("ir", "sr")
    val df = l.join(r, levenshtein(col("sl"), col("sr")) <= 1)
      .select("il", "ir")
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("NestedLoopJoin"), plan.take(2000))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    // every (l-row, r-row) pair exactly once: 3 left rows x 2 right
    assert(got === Seq((1L, 7L), (1L, 8L), (2L, 7L), (2L, 7L),
      (2L, 8L), (2L, 8L)))
  }

  test("reversed operand orientation rewrites too") {
    val a = names.select(col("id").as("ia"), col("s").as("sa"))
    val b = names.select(col("id").as("ib"), col("s").as("sb"))
    // lev(right-side, left-side) and the k on the left of >=
    val df = a.join(b, lit(1) >= levenshtein(col("sb"), col("sa")) &&
      col("ia") < col("ib"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("NestedLoopJoin"), plan.take(2000))
    val got = df.select("ia", "ib").as[(Long, Long)].collect().toSet
    val want = naive(naiveJoin().select("ia", "ib").as[(Long, Long)]
      .collect().toSet)
    assert(got === want)
  }

  test("joins that already have an equi key are left alone") {
    val a = names.select(col("id").as("ia"), col("s").as("sa"))
    val b = names.select(col("id").as("ib"), col("s").as("sb"))
    val df = a.join(b, col("sa") === col("sb") &&
      levenshtein(col("sa"), col("sb")) <= 1)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("__graft_edv"),
      "rule fired on a hash-plannable join:\n" + plan.take(2000))
  }

  test("kill switch disables the rewrite") {
    val plan = naive(naiveJoin().queryExecution.optimizedPlan.toString())
    assert(!plan.contains("__graft_edv"))
  }

  test("matches editOneJoin on the fixture") {
    val viaRule = naiveJoin().select("ia", "ib").as[(Long, Long)]
      .collect().toSet
    val viaOp = graft.ops.Dedup.editOneJoin(
      names.withColumnRenamed("id", "c_custkey")
        .withColumnRenamed("s", "c_name"), "c_custkey", "c_name")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaRule === viaOp)
  }

  /** The (left, right) join strategies of the rewritten join. */
  private def rewrittenHints(df: DataFrame): (Option[String], Option[String]) =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.left.output.exists(_.name.startsWith("__graft_edv")) =>
        (j.hint.leftHint.flatMap(_.strategy).map(_.toString),
          j.hint.rightHint.flatMap(_.strategy).map(_.toString))
    }.getOrElse(fail("rule did not fire:\n" +
      df.queryExecution.optimizedPlan.toString.take(2000)))

  test("a user join hint survives the rewrite; unhinted sides refuse " +
      "broadcast") {
    val want = naive(naiveJoin().select("ia", "ib").as[(Long, Long)]
      .collect().toSet)
    val a = names.select(col("id").as("ia"), col("s").as("sa"))
    val b = names.select(col("id").as("ib"), col("s").as("sb"))
    val cond = levenshtein(col("sa"), col("sb")) <= 1 &&
      col("ia") < col("ib")
    val plain = a.join(b, cond)
    assert(rewrittenHints(plain) ===
      ((Some("no_broadcast_hash"), Some("no_broadcast_hash"))))
    val hinted = a.join(b.hint("shuffle_hash"), cond)
    assert(rewrittenHints(hinted) ===
      ((Some("no_broadcast_hash"), Some("shuffle_hash"))))
    val physical = hinted.queryExecution.executedPlan.toString
    assert(physical.contains("ShuffledHashJoin"), physical.take(2000))
    assert(hinted.select("ia", "ib").as[(Long, Long)].collect().toSet ===
      want)
    val bcast = a.join(broadcast(b), cond)
    assert(rewrittenHints(bcast)._2 === Some("broadcast"))
    assert(bcast.select("ia", "ib").as[(Long, Long)].collect().toSet ===
      want)
  }

  test("a duplicated levenshtein conjunct is banded away with the " +
      "matched one") {
    val a = names.select(col("id").as("ia"), col("s").as("sa"))
    val b = names.select(col("id").as("ib"), col("s").as("sb"))
    // the same predicate twice, the copy written the other way round
    val df = a.join(b, levenshtein(col("sa"), col("sb")) <= 1 &&
      col("ia") < col("ib") && lit(1) >= levenshtein(col("sa"), col("sb")))
    // the stock optimizer already drops the copy, so apply the rule to
    // the analyzed plan, where both conjuncts are still present
    val analyzed = df.queryExecution.analyzed
    def unbanded(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.flatMap(_.expressions).flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Levenshtein
            if l.threshold.isEmpty => l
      })
    assert(unbanded(analyzed).size === 2)
    val rewritten = EditDistanceJoinRewrite(analyzed)
    assert(rewritten.toString.contains("__graft_edv"))
    assert(unbanded(rewritten).isEmpty, rewritten.toString.take(2000))
    assert(df.select("ia", "ib").as[(Long, Long)].collect().toSet ===
      naive(naiveJoin().select("ia", "ib").as[(Long, Long)].collect().toSet))
  }
}
