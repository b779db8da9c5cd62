package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.DeletionVariants

/** Catalyst optimizer rule: rewrites a naive edit-distance similarity
  * join — `a JOIN b ON levenshtein(x, y) <= 1 [AND ...]`, which Spark can
  * only plan as a broadcast-nested-loop over all pairs (levenshtein per
  * n² pair: the fuzzy-match query every analyst writes and every cluster
  * dies on) — into the deletion-neighborhood blocked join of
  * [[graft.ops.Dedup.editOneJoin]], transparently.
  *
  * Shape after rewrite: each side explodes to its deletion-neighborhood
  * keys (the [[graft.functions.DeletionVariants]] codegen'd kernel: the
  * string plus its single-code-point deletions, distinct), the join
  * becomes a hash EQUI-join on the shared key, and the original
  * predicate survives as a residual filter — `ed(x,y) <= 1` GUARANTEES a
  * shared key, so the candidate set is a superset and the residual makes
  * the result exact.
  *
  * Multiplicity: DISTINCT strings at edit distance exactly 1 share
  * exactly ONE variant value (their single join match needs no dedup);
  * only EQUAL strings share the whole neighborhood, and those matches
  * are restricted to the self-variant key. So each qualifying row pair
  * emits exactly once with no distinct, no row-identity bookkeeping,
  * and no per-row array state — duplicate input rows keep their join
  * multiplicity exactly as the naive plan would.
  *
  * Scope (semantics-preserving, loop-safe):
  *  - INNER joins whose condition's conjuncts include
  *    `levenshtein(x, y) <= k` with literal k in {0, 1} (either operand
  *    orientation; also `< k+1`), x and y string columns from opposite
  *    sides;
  *  - skipped when any conjunct is already a cross-side equality — the
  *    join is hash-plannable without help, and the rewritten join's own
  *    equality key makes reapplication a no-op (the optimizer batch runs
  *    to fixpoint);
  *  - disabled with `spark.graft.editJoin.rewrite=false`.
  *
  * Hints: each side keeps the user's join hint; a side without a
  * strategy gets NO_BROADCAST_HASH (see [[rewrite]]).
  */
object EditDistanceJoinRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.editJoin.rewrite"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "true") == "false") return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !hasCrossSideEquality(cond, left, right) =>
        findLevenshteinConjunct(cond, left, right) match {
          case Some((x, y, conjunct, k)) => rewrite(j, x, y, conjunct, k)
          case None => j
        }
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def fromSide(side: LogicalPlan)(x: Expression): Boolean =
    x.references.nonEmpty && x.references.subsetOf(side.outputSet)

  private def hasCrossSideEquality(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean =
    splitConjuncts(cond).exists {
      case EqualTo(a, b) =>
        (fromSide(left)(a) && fromSide(right)(b)) ||
          (fromSide(right)(a) && fromSide(left)(b))
      case _ => false
    }

  /** Finds a conjunct `levenshtein(x, y) <= 1` (or `<= 0` / `< 1` /
    * `< 2`, either operand orientation) with x, y strings from opposite
    * sides. Returns (x, y) ordered (left-side, right-side), the matched
    * conjunct itself (so the rewrite can swap it for the banded form),
    * and the effective bound k. */
  private def findLevenshteinConjunct(cond: Expression, left: LogicalPlan,
      right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Int)] = {
    def boundedLev(c: Expression)
        : Option[(Expression, Expression, Expression, Int)] =
      c match {
        case LessThanOrEqual(Levenshtein(x, y, None), Literal(k: Int,
            IntegerType)) if k >= 0 && k <= 1 => Some((x, y, c, k))
        case LessThan(Levenshtein(x, y, None), Literal(k: Int,
            IntegerType)) if k >= 1 && k <= 2 => Some((x, y, c, k - 1))
        case GreaterThanOrEqual(Literal(k: Int, IntegerType),
            Levenshtein(x, y, None)) if k >= 0 && k <= 1 => Some((x, y, c, k))
        case GreaterThan(Literal(k: Int, IntegerType),
            Levenshtein(x, y, None)) if k >= 1 && k <= 2 =>
          Some((x, y, c, k - 1))
        case _ => None
      }
    splitConjuncts(cond).iterator.flatMap(boundedLev).collectFirst {
      case (x, y, c, k) if x.dataType == StringType &&
          y.dataType == StringType &&
          fromSide(left)(x) && fromSide(right)(y) => (x, y, c, k)
      case (x, y, c, k) if x.dataType == StringType &&
          y.dataType == StringType &&
          fromSide(right)(x) && fromSide(left)(y) => (y, x, c, k)
    }
  }

  private def sideWithKeys(side: LogicalPlan, str: Expression,
      keyName: String): (LogicalPlan, Attribute) = {
    val arr = Alias(DeletionVariants(str), keyName + "_arr")()
    val proj = Project(side.output :+ arr, side)
    val key = AttributeReference(keyName, StringType, nullable = false)()
    // unrequiredChildIndex drops the variant array right after the
    // explode — only the scalar blocking key crosses the join shuffle
    val gen = Generate(Explode(arr.toAttribute),
      unrequiredChildIndex = Seq(proj.output.length - 1),
      outer = false, qualifier = None, generatorOutput = Seq(key),
      child = proj)
    (gen, key)
  }

  private def rewrite(j: Join, x: Expression, y: Expression,
      levConjunct: Expression, k: Int): LogicalPlan = {
    val (lGen, lKey) =
      sideWithKeys(j.left, x, "__graft_edv_l")
    val (rGen, rKey) =
      sideWithKeys(j.right, y, "__graft_edv_r")
    // Exactly-once emission with NO per-row state: distinct strings at
    // edit distance 1 share EXACTLY ONE variant value (equal lengths:
    // only the delete-at-the-mismatch value survives — any other
    // deletion keeps the mismatch; length±1: the variant values have
    // different lengths on the two sides except the shorter string
    // itself), so their single join match needs no dedup. Only EQUAL
    // strings share their whole neighborhood — restrict those to the
    // self-variant match (key == x). Candidate rows therefore carry
    // just the 1-deletion key; no arrays, no intersect, no distinct.
    // (Earlier versions shipped both neighborhood arrays and picked
    // min(intersect): measured 13x slower at 10x blocking density —
    // the array bytes, not the compute, dominated the shuffle.)
    val witness = Or(Not(EqualTo(x, y)), EqualTo(lKey, x))
    // Candidate verification: the user's unbounded `levenshtein(x, y)`
    // builds the full O(|x|·|y|) matrix per candidate pair; the
    // THRESHOLDED form computes only the diagonal band (O(min(|x|,|y|)·k)
    // with early exit) and returns -1 past the bound, so
    // `lev(x,y) <= k  ⟺  lev(x,y,k) >= 0` for every input including
    // nulls (both sides null out together). The cheap remaining
    // conjuncts (e.g. an id ordering) run BEFORE the banded verify so
    // most candidates never reach it.
    val banded = GreaterThanOrEqual(
      Levenshtein(x, y, Some(Literal(k))), Literal(0))
    // every semantically identical copy of the matched conjunct goes —
    // the banded form below decides them all
    val others = splitConjuncts(j.condition.get)
      .filterNot(_.semanticEquals(levConjunct))
    val newCond =
      (Seq(EqualTo(lKey, rKey), witness) ++ others :+ banded).reduce(And)
    // NEVER broadcast a deletion-neighborhood side: the generate fans
    // each input row out ~|s| times and every hash match still pays the
    // banded verify, so the probe side's real cost is orders of
    // magnitude beyond its SCAN size estimate. Left to size estimates,
    // a single-split input collapses the whole candidate join into ONE
    // broadcast-probe task (measured at 10x bench scale: 110 s of
    // single-core wall; the shuffled plan does the same work in
    // seconds). A shuffled join keys BOTH sides on the variant — the
    // partitioning a 100 TB run needs anyway. A side's own user hint
    // wins: the strategy only fills a side that has none.
    def noBroadcast(h: Option[HintInfo]): Option[HintInfo] = {
      val i = h.getOrElse(HintInfo())
      Some(i.copy(strategy = i.strategy.orElse(Some(NO_BROADCAST_HASH))))
    }
    val newJoin = Join(lGen, rGen, Inner, Some(newCond),
      JoinHint(noBroadcast(j.hint.leftHint), noBroadcast(j.hint.rightHint)))
    Project(j.output, newJoin)
  }
}
