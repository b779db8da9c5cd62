package graft.closure

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  Generator, JoinedRow, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.StructType
import graft.Lineage._
import graft.distinctAtMost
import org.apache.spark.sql.functions._

/** Transitive closure over a parent-child edge list.
  *
  * The reference walks each node's ancestors on the driver over all the
  * collected edges (Hierarchies.expandElements, bunsen-spark's
  * codes/Hierarchies.java:314-391). Here
  * that walk runs on the executors under a size gate: a bounded collect of
  * the distinct edges, a broadcast child → parents table over dense code
  * ids, and the lazy generator `ancestors_of` ([[AncestorsOf]]) over them.
  * Above [[WalkMaxEdges]] the closure is a self-join by **prefix doubling**
  * (paths <= 2^i after round i: O(log d) rounds for depth d; AQE skew
  * splits the hub keys of the `ancestor`-keyed build side) on
  * [[graft.Lineage.fixpoint]], shared with the incremental [[addEdges]].
  * Both return paths >= 1 (no self-pairs), terminate on cycles, drop edges
  * with a null endpoint and collapse duplicates; `maxIterations` bounds
  * only the loop.
  */
object TransitiveClosure {

  /** The walk's gate in distinct edges (see the README for its heap). */
  private[graft] val WalkMaxEdges = 1000000

  /** The gate that sends every graph to the loop. */
  private[graft] val LoopOnly = -1

  private val codeColumns = Seq("ancestorSystem", "ancestorValue",
    "descendantSystem", "descendantValue")

  /** Closure over (ancestorSystem, ancestorValue, descendantSystem,
    * descendantValue) edges; returns every transitive pair, paths >= 1, in
    * those four columns. Edges with a null system or value are dropped.
    * Above the gate the codes are encoded ([[dictionary]]), closed by the
    * loop at width `shufflePartitions` or max(8, min(session width, codes /
    * 50k)) and decoded; the dictionary's checkpoint belongs to the result. */
  def closure(spark: SparkSession, edges: org.apache.spark.sql.Dataset[_],
      maxIterations: Int = 25, shufflePartitions: Option[Int] = None)
      : DataFrame = closureWith(spark, edges, maxIterations, shufflePartitions)

  /** [[closure]] under the gate `walkMaxEdges`. */
  private[graft] def closureWith(spark: SparkSession,
      edges: org.apache.spark.sql.Dataset[_], maxIterations: Int = 25,
      shufflePartitions: Option[Int] = None,
      walkMaxEdges: Int = WalkMaxEdges): DataFrame = {
    val clean = edges.toDF().select(codeColumns.map(col): _*)
      .where(codeColumns.map(c => col(c).isNotNull).reduce(_ && _))
    val walked =
      walk(spark, clean, codeColumns, true, shufflePartitions, walkMaxEdges)
    if (walked.isDefined) return walked.get
    val (dict, codes) = dictionary(clean)
    def role(name: String, id: String): DataFrame = dict.select(
      col("system").as(s"${name}System"), col("value").as(s"${name}Value"),
      col("id").as(id))
    val ids = clean
      .join(role("ancestor", "parent"), Seq("ancestorSystem", "ancestorValue"))
      .join(role("descendant", "child"),
        Seq("descendantSystem", "descendantValue"))
      .select(col("parent"), col("child"))
    val width = shufflePartitions.getOrElse(math.max(8L, math.min(
      graft.ConfScope.sessionShuffleWidth(spark).toLong, codes / 50000L)).toInt)
    closureLongWith(spark, ids, maxIterations, Some(width), LoopOnly)
      .join(role("ancestor", "ancestor"), Seq("ancestor"))
      .join(role("descendant", "descendant"), Seq("descendant"))
      .select(codeColumns.map(col): _*)
  }

  /** Dense dictionary of the distinct (system, value) endpoints of `edges`:
    * ids 0 until n, assigned once to a checkpointed frame so a
    * recomputation can never renumber a code. `monotonically_increasing_id`
    * holds the partition in its upper 31 bits and the row within it in the
    * lower 33; row r of partition p gets offset(p) + r. The job that counts
    * the partitions also materializes the checkpoint. Returns (system,
    * value, id) and n. */
  private def dictionary(edges: DataFrame): (DataFrame, Long) = {
    val codes = edges.select(col("ancestorSystem").as("system"),
        col("ancestorValue").as("value"))
      .union(edges.select(col("descendantSystem"), col("descendantValue")))
      .distinct()
      .withColumn("row", monotonically_increasing_id())
      .truncateLineage(eager = false)
    val part = shiftright(col("row"), 33)
    val sizes = codes.groupBy(part).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val offsets =
      if (sizes.isEmpty) Array.empty[Long]
      else (0 to sizes.keys.max).scanLeft(0L)(_ + sizes.getOrElse(_, 0L)).toArray
    (codes.select(col("system"), col("value"),
      (element_at(typedLit(offsets), part.cast("int") + 1) +
        col("row").bitwiseAND((1L << 33) - 1)).as("id")), sizes.values.sum)
  }

  /** Closure over arbitrary (parent, child) long-keyed edges — used by the
    * relational-analog correctness queries. Output columns (ancestor,
    * descendant). Above the gate the loop width is `shufflePartitions` or,
    * by default, sized to the edge count ([[graft.ConfScope.loopEntry]]). */
  def closureLong(spark: SparkSession, edges: DataFrame, // parent, child
      maxIterations: Int = 25, shufflePartitions: Option[Int] = None)
      : DataFrame =
    closureLongWith(spark, edges, maxIterations, shufflePartitions)

  /** [[closureLong]] under the gate `walkMaxEdges`. */
  private[graft] def closureLongWith(spark: SparkSession, edges: DataFrame,
      maxIterations: Int = 25, shufflePartitions: Option[Int] = None,
      walkMaxEdges: Int = WalkMaxEdges): DataFrame = {
    val clean = (e: DataFrame) => e.select(col("parent").as("ancestor"),
        col("child").as("descendant"))
      .where(col("ancestor").isNotNull && col("descendant").isNotNull)
    walk(spark, clean(edges), Seq("ancestor", "descendant"), false,
        shufflePartitions, walkMaxEdges)
      .getOrElse(graft.ConfScope.loopEntry(spark, edges, shufflePartitions) {
        entry =>
          val start = clean(entry.frame).distinct()
            .truncateLineage(eager = false)
          fixpoint(start, start.count(), maxIterations)
      })
  }

  /** The walk over `clean` (k parent key columns, then k child key columns
    * of the same types, no nulls) as columns `out`, or None above the gate;
    * `width` slices of code ids (default: one per 25k edges, at most the
    * session width). */
  private def walk(spark: SparkSession, clean: DataFrame, out: Seq[String],
      nullable: Boolean, width: Option[Int],
      walkMaxEdges: Int): Option[DataFrame] = {
    val k = out.length / 2
    val fields = clean.schema.fields.toSeq
    if (walkMaxEdges < 0 || fields.take(k).map(_.dataType) !=
        fields.drop(k).map(_.dataType)) return None
    val edges = distinctAtMost(clean, walkMaxEdges).getOrElse(return None)
    val ids = scala.collection.mutable.HashMap.empty[UnsafeRow, Int]
    val Seq(parent, child) = Seq(0, k).map { from =>
      val key = UnsafeProjection.create(fields.slice(from, from + k)
        .zipWithIndex.map(f => BoundReference(from + f._2, f._1.dataType, false)))
      edges.map(e => ids.getOrElseUpdate(key(e).copy(), ids.size))
    }
    val offsets = new Array[Int](ids.size + 1)
    child.foreach(c => offsets(c + 1) += 1)
    (1 to ids.size).foreach(c => offsets(c) += offsets(c - 1))
    val (parents, fill) = (new Array[Int](edges.length), offsets.clone())
    edges.indices.foreach { e =>
      parents(fill(child(e))) = parent(e); fill(child(e)) += 1
    }
    val keys = new Array[Array[Byte]](ids.size)
    ids.foreach { case (r, id) => keys(id) = r.getBytes }
    val slices = width.getOrElse(graft.ConfScope.autoLoopPartitions(
      edges.length, graft.ConfScope.sessionShuffleWidth(spark), 25000L))
    Some(spark.range(0, ids.size, 1, slices).select(GraftShim.column(
      AncestorsOf(GraftShim.expression(col("id")),
        spark.sparkContext.broadcast((offsets, parents, keys)),
        StructType(out.zip(fields).map { case (n, f) =>
          f.copy(name = n, nullable = nullable) })))))
  }

  /** The pairs (a, c) with (a, b) in `l` and (b, c) in `r`. */
  private def compose(l: DataFrame, r: DataFrame): DataFrame =
    l.as("l").join(r.as("r"), col("l.descendant") === col("r.ancestor"))
      .select(col("l.ancestor").as("ancestor"),
        col("r.descendant").as("descendant"))

  /** Prefix doubling from the checkpointed (ancestor, descendant) pairs
    * `start` (`startCount` rows) to the fixpoint: each round joins the
    * closure with itself, drops self-pairs and takes the distinct union;
    * its count is the fixpoint test. */
  private def fixpoint(start: DataFrame, startCount: Long,
      maxIterations: Int): DataFrame =
    graft.Lineage.fixpoint(start, maxIterations,
      Some(startCount -> ((_: DataFrame).count())),
      s"Transitive closure did not converge within $maxIterations rounds " +
        s"(2^$maxIterations hops); raise maxIterations for deeper graphs") {
      current => current.union(compose(current, current))
        .where(col("ancestor") =!= col("descendant"))
        .distinct()
    }

  /** Incremental closure maintenance: given an already-CLOSED relation
    * `closure` (ancestor, descendant) and a batch of NEW edges `delta`
    * (parent, child), returns the closure of the combined graph WITHOUT
    * recomputing from the base edges — the view-maintenance form a
    * terminology service needs when a code system ships an update (the
    * reference recomputes hierarchies wholesale on import; at 100 TB of
    * ancestry pairs that is a full re-closure for a handful of edges).
    *
    * Semi-naive: every genuinely new path uses ≥ 1 delta edge, so seed
    * M = (C+I) ∘ D ∘ (C+I) — each delta edge pre/post-extended through
    * the OLD closure (three bounded joins) — then prefix-double M on
    * itself (chains of MULTIPLE delta edges) until fixpoint, and union
    * with C. Rounds = ⌈log₂(max delta edges on any path)⌉, typically 1-2
    * for a code-system update, vs the full re-closure's depth-of-graph
    * rounds over ALL pairs; every join is keyed, nothing is driver-side.
    */
  def addEdges(
      spark: SparkSession,
      closure: DataFrame, // columns: ancestor, descendant (closed)
      delta: DataFrame, // columns: parent, child
      maxIterations: Int = 25,
      shufflePartitions: Option[Int] = None): DataFrame =
    graft.ConfScope.withIsolatedSession(spark) { (iso, rebind) =>
      val c = rebind(closure).select(col("ancestor"), col("descendant"))
        .distinct().truncateLineage(eager = false)
      // the delta feeds FOUR plan branches (d, cd, dc, m's union) — the
      // checkpoint also stops 4x re-execution of the caller's delta plan
      val d = rebind(delta)
        .select(col("parent").as("ancestor"), col("child").as("descendant"))
        .where(col("parent").isNotNull && col("child").isNotNull)
        .distinct().truncateLineage(eager = false)
      // seed joins at the full closure's width, prefix doubling at the
      // seed's; `shufflePartitions` pins both
      val closed = graft.ConfScope.withTwoWidths(iso, shufflePartitions,
          math.max(c.count(), d.count())) {
        val cd = compose(c, d)
        Seq(cd, compose(d, c), compose(cd, c)).foldLeft(d)(_ unionAll _)
          .where(col("ancestor") =!= col("descendant"))
          .distinct()
      } { (m, seedCount) =>
        graft.Lineage.retire(d)
        fixpoint(m, seedCount, maxIterations)
      }
      c.unionAll(closed).distinct()
    }
}

/** `ancestors_of(id)`: a (ancestor key, descendant key) row per code
  * reachable from `id` over the broadcast child → parents table
  * (`parents(offsets(c) until offsets(c + 1))`, keys as UnsafeRow bytes),
  * `id` excluded: a breadth-first walk with a per-call visited stamp, so
  * cycles terminate. The buffers are per task. */
private[closure] case class AncestorsOf(child: Expression,
    table: Broadcast[(Array[Int], Array[Int], Array[Array[Byte]])],
    elementSchema: StructType)
    extends UnaryExpression with Generator with CodegenFallback {
  override def prettyName: String = "ancestors_of"
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  @transient private lazy val t = table.value
  @transient private lazy val seen = new Array[Int](t._3.length)
  @transient private lazy val found = new Array[Int](t._3.length)
  @transient private lazy val rows = (new UnsafeRow(elementSchema.length / 2),
    new UnsafeRow(elementSchema.length / 2), new JoinedRow)
  @transient private var epoch = 0

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val ((offsets, parents, keys), (ancestor, descendant, joined)) = (t, rows)
    val d = child.eval(input).asInstanceOf[Long].toInt
    epoch += 1
    seen(d) = epoch
    var (n, next, c) = (0, 0, d)
    while (c >= 0) {
      var j = offsets(c)
      while (j < offsets(c + 1)) {
        val p = parents(j)
        if (seen(p) != epoch) { seen(p) = epoch; found(n) = p; n += 1 }
        j += 1
      }
      c = if (next < n) found(next) else -1
      next += 1
    }
    descendant.pointTo(keys(d), keys(d).length)
    Iterator.range(0, n).map { i =>
      ancestor.pointTo(keys(found(i)), keys(found(i)).length)
      joined(ancestor, descendant)
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): AncestorsOf = copy(child = newChild)
}
