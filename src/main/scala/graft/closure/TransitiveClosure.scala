package graft.closure

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Lineage._
import org.apache.spark.sql.functions._

/** Distributed transitive closure over a parent-child edge list.
  *
  * The reference computes ancestor expansion entirely on the driver — it
  * collects every edge, walks an in-memory graph per node, and re-parallelizes
  * the result in 100k-row slices (Hierarchies.expandElements,
  * /root/reference/bunsen-spark/.../codes/Hierarchies.java:314-391). That is
  * driver-memory-bound and cannot scale past a few million edges.
  *
  * This implementation keeps the computation on the cluster as an iterative
  * self-join by **prefix doubling**: after round i, `closure` holds every
  * path of length <= 2^i, so the round count is O(log d) for depth d. Each
  * round joins closure ⋈ closure — whose build side keyed on `ancestor` is
  * skewed at hub nodes (a root is the ancestor of every descendant), which
  * AQE skew-splitting absorbs. It is cycle-safe (`distinct` + self-loop
  * drop reach a fixpoint). The rounds run on the library's one round
  * driver, [[graft.Lineage.fixpoint]]: each round is checkpointed, its
  * count — the fixpoint test — is its one measuring job, and the
  * superseded round is retired. The full closure and the incremental
  * [[addEdges]] share one round ([[fixpoint]]).
  *
  * The loop runs on long ids. The (system, value)-keyed [[closure]]
  * encodes its codes to dense dictionary ids first — every round then
  * shuffles 8-byte keys instead of system+code strings — and decodes the
  * pairs with two joins at the end. The ids come from one checkpointed
  * frame of the distinct codes, so two codes can never share an id and
  * no collision check or fallback is needed.
  *
  * At 100 TB scale: equi-joins shuffle by key, `distinct` partially
  * aggregates map-side, AQE rebalances; the driver sees counts only (per
  * round, and the dictionary's per-partition code counts).
  */
object TransitiveClosure {

  private val codeColumns = Seq("ancestorSystem", "ancestorValue",
    "descendantSystem", "descendantValue")

  /** Closure over (ancestorSystem, ancestorValue, descendantSystem,
    * descendantValue) edges; returns every transitive pair, paths >= 1, in
    * those four columns. Edges with a null system or value are dropped.
    * The codes are encoded to dense ids ([[dictionary]]), closed by
    * [[closureLong]] and decoded. The loop width is `shufflePartitions` or,
    * by default, scaled to the code count: max(8, min(session width,
    * codes / 50k)) — a 30k-code hierarchy does not need the session's full
    * width per round (narrower shuffles cut per-round overhead), a
    * 100M-code one gets the session width back. The dictionary's
    * checkpoint belongs to the result ([[graft.Lineage.retireDependents]]). */
  def closure(
      spark: SparkSession,
      edges: org.apache.spark.sql.Dataset[_],
      maxIterations: Int = 25,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val clean = edges.toDF().select(codeColumns.map(col): _*)
      .where(codeColumns.map(c => col(c).isNotNull).reduce(_ && _))
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
    closureLong(spark, ids, maxIterations, Some(width))
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
    * descendant). The loop width is `shufflePartitions` or, by default,
    * sized to the edge count ([[graft.ConfScope.loopEntry]]). */
  def closureLong(
      spark: SparkSession,
      edges: DataFrame, // columns: parent, child
      maxIterations: Int = 25,
      shufflePartitions: Option[Int] = None): DataFrame =
    graft.ConfScope.loopEntry(spark, edges, shufflePartitions) { entry =>
      val start = entry.frame
        .select(col("parent").as("ancestor"), col("child").as("descendant"))
        .where(col("parent").isNotNull && col("child").isNotNull)
        .distinct()
        .truncateLineage(eager = false)
      fixpoint(start, start.count(), maxIterations)
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
      addEdgesImpl(iso, rebind(closure), rebind(delta), maxIterations,
        shufflePartitions)
    }

  /** Seed joins at the full closure's width, prefix doubling at the
    * seed's ([[graft.ConfScope.withTwoWidths]]); an explicit `fixedWidth`
    * pins both. */
  private def addEdgesImpl(
      iso: SparkSession,
      closure: DataFrame,
      delta: DataFrame,
      maxIterations: Int,
      fixedWidth: Option[Int]): DataFrame = {
    val c = closure.select(col("ancestor"), col("descendant"))
      .distinct().truncateLineage(eager = false)
    // the delta feeds FOUR plan branches (d, cd, dc, m's union) — the
    // checkpoint also stops 4x re-execution of the caller's delta plan
    val d = delta
      .select(col("parent").as("ancestor"), col("child").as("descendant"))
      .where(col("parent").isNotNull && col("child").isNotNull)
      .distinct().truncateLineage(eager = false)
    val closed = graft.ConfScope.withTwoWidths(iso, fixedWidth,
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
