package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Lineage._
import org.apache.spark.sql.functions._

/** Distributed graph centrality for corpus curation.
  *
  * Domain/document authority is a standard quality prior in large-scale
  * training-data pipelines (weight pages by the authority of what links
  * to them, not just by their own features). PageRank is the classic
  * instance; the implementation below is the Spark-native shape — an
  * edge-partitioned power iteration where every round is one keyed join +
  * one keyed aggregation, both shuffling on the node key, with lineage
  * truncated per round exactly like the transitive-closure family
  * (closure/TransitiveClosure.scala).
  *
  * Determinism: ranks are FIXED-POINT bigints (scale 10^12), all updates
  * are integral (`div`), so the result is bit-identical regardless of
  * partitioning, reduction order, or engine — floating-point PageRank is
  * famously non-associative and cannot be hash-compared across engines;
  * this one can, and the DuckDB oracle re-runs the identical iteration.
  */
object Graphs {

  /** Fixed-point PageRank over a directed edge list `(src, dst)` (bigint
    * node ids; for an undirected graph pass each edge in both
    * directions).
    *
    * Per iteration: `contrib(e) = rank(src) div deg(src)` flows along
    * each edge, sums per dst, and
    * `rank' = (15·S) div (100·N) + (85·sum) div 100` with S = 10^12.
    * Nodes are the distinct edge sources (an isolated node has no rank
    * mass to give or get). All arithmetic is nonnegative bigint, so
    * Spark's truncating `div` and the oracle's floor division agree.
    *
    * Scale shape: the edge list is the big side and is shuffled ONCE by
    * `src` (persisted reuse each round); each round then shuffles only
    * the O(N) rank frame — join on src, aggregate on dst,
    * `localCheckpoint` to stop the 3-deep lineage from re-running prior
    * rounds. On a cluster the checkpoint goes to reliable storage and
    * both sides pre-partition on the node key. */
  def pageRankFixedPoint(spark: SparkSession, edges: DataFrame,
      iterations: Int, scale: Long = 1000000000000L): DataFrame =
    pageRank(spark, edges, iterations) { deg =>
      // one-row N attaches by broadcast; base rank and teleport term are
      // integral divisions evaluated per node row (an empty graph has no
      // node rows, so the n=0 division never evaluates)
      deg.crossJoin(broadcast(deg.agg(count(lit(1)).as("n"))))
        .select(col("src").as("node"), col("deg"),
          expr(s"$scale div n").as("rank"),
          expr(s"(15 * $scale) div (100 * n)").as("base"))
    }

  /** The power iteration of both PageRanks, from the initial state
    * `init` builds out of the (src, deg) out-degree frame: (node, deg,
    * rank, base) rows.
    *
    * The state frame is hash-partitioned by `node` ONCE, up front, with
    * the same partitioning the edge list has on `src`: each round's
    * e.join(state) is then exchange-free on BOTH sides (checkpoint
    * captures the physical outputPartitioning into the LogicalRDD, and
    * the left-outer update join keeps the left side's partitioning), so
    * the only per-round shuffle left is the inherent src→dst
    * contribution regroup. */
  private def pageRank(spark: SparkSession, edges: DataFrame,
      iterations: Int)(init: DataFrame => DataFrame): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    graphLoop(spark, edges) { entry =>
      val (e, hot) = splitHotSources(entry.frame, entry.rows, entry.width)
      val loopEdges = e +: hot.map(_._1).toSeq
      loopEdges.foreach(_.count())
      entry.superseded()
      val deg = loopEdges.map(_.groupBy("src").agg(count(lit(1)).as("deg")))
        .reduce(_ unionAll _)
      graft.Lineage.fixpoint(
        init(deg).repartition(col("node")).truncateLineage(), iterations,
        None, releasing = loopEdges) {
        state => pageRankRound(e, state, hot)
      }
    }
  }

  /** The entry of the graph loops (both PageRanks, [[kCore]],
    * [[dagDepth]]): the (src, dst) edges as bigints on an isolated
    * session with AQE off
    * ([[graft.ConfScope.loopEntry]]: checkpoints only capture
    * outputPartitioning without the AdaptiveSparkPlan wrapper, and that
    * capture is what keeps the per-round state join exchange-free;
    * ConcurrentConfSpec pins that a concurrent query on the caller's
    * session never observes the override), at a width from the edge
    * count. Null src/dst rows (e.g. non-numeric ids nulled by the cast)
    * are dropped EXPLICITLY so the hub-split and unsplit paths see the
    * same graph: splitHotSources' !isin() predicate is null-rejecting. */
  private def graphLoop[T](spark: SparkSession, edges: DataFrame)(
      body: graft.ConfScope.LoopEntry => T): T =
    graft.ConfScope.loopEntry(spark,
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull),
      None, "spark.sql.adaptive.enabled" -> "false")(body)

  /** Hub-source skew split for the PageRank family (r12 directive #4,
    * measured: one src owning 10% of a 20M-edge list made each round's
    * src-partitioned join+partial-agg task 2.4x the uniform wall,
    * because with AQE pinned off inside the loop nothing re-splits the
    * hot partition). Sources whose out-degree would dominate a
    * partition (deg ≥ m/(2·width), top 64 by degree — the pigeonhole
    * cap keeps the id literal bounded) are split out of the
    * src-partitioned edge frame into a DST-partitioned hot frame: their
    * per-round contributions come from a broadcast of ≤64 state rows
    * joined map-side, so the hub's work spreads across every partition
    * instead of serializing in one task, while the cold path keeps its
    * exchange-free co-partitioned join. Returns (coldEdges persisted,
    * Some((hotEdges persisted, hotIds))) or None when no source
    * qualifies — the common case, where the plan is unchanged. */
  private[graft] def splitHotSources(eRaw: DataFrame, m: Long, width: Int)
      : (DataFrame, Option[(DataFrame, Seq[Long])]) = {
    val threshold = math.max(m / (2L * width), 1024L)
    val hotIds: Seq[Long] =
      if (width <= 1 || m == 0L) Seq.empty
      else eRaw.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= threshold)
        .orderBy(col("deg").desc, col("src"))
        .limit(64).collect().map(_.getLong(0)).toSeq
    if (hotIds.isEmpty) {
      (eRaw.repartition(col("src")).persist(), None)
    } else {
      val cold = eRaw.where(!col("src").isin(hotIds: _*))
        .repartition(col("src")).persist()
      val hotE = eRaw.where(col("src").isin(hotIds: _*))
        .repartition(col("dst")).persist()
      (cold, Some((hotE, hotIds)))
    }
  }

  /** Personalized (seeded-teleport) fixed-point PageRank: identical
    * power iteration to [[pageRankFixedPoint]], but rank mass teleports
    * ONLY to the seed set — the "authority relative to these trusted
    * nodes" prior (topic-conditioned curation: weight documents/domains
    * by proximity to a vetted seed list, not global popularity).
    *
    * Init: seeds get rank scale div |S| and teleport base
    * (15·scale) div (100·|S|); everything else starts at 0. Each round
    * reuses [[pageRankRound]] verbatim (rank' = base + 85%·inflow —
    * base is just 0 for non-seeds), so the per-round plan shape, the
    * co-partitioning, and the bigint bit-reproducibility are all
    * inherited. `seeds` is a driver-side list (a vetted whitelist is
    * small by nature); |S| counts the given seeds whether or not they
    * have out-edges, and seeds absent from the node set simply drop
    * their mass (documented teleport-loss semantics, matching the
    * oracle's recomputation). */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
      seeds: Seq[Long], iterations: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(seeds.nonEmpty, "seed set must be non-empty")
    val isSeed = col("src").isin(seeds: _*)
    val nS = seeds.size
    pageRank(spark, edges, iterations) { deg =>
      deg.select(col("src").as("node"), col("deg"),
        when(isSeed, expr(s"$scale div $nS")).otherwise(lit(0L))
          .as("rank"),
        when(isSeed, expr(s"(15 * $scale) div (100 * $nS)"))
          .otherwise(lit(0L)).as("base"))
    }
  }

  /** One power-iteration round — factored out so PlanSpec can pin its
    * physical shape: with `edges` hash-partitioned on `src` and `state`
    * on `node` (both LogicalRDDs carrying their outputPartitioning from
    * the checkpoint), the ONLY shuffle in this plan is the inherent
    * src→dst contribution regroup. */
  private[graft] def pageRankRound(edges: DataFrame,
      state: DataFrame,
      hot: Option[(DataFrame, Seq[Long])] = None): DataFrame = {
    val cold = edges.join(state, edges("src") === state("node"))
      .select(col("dst"), expr("rank div deg").as("c"))
    val flows = hot match {
      case None => cold
      case Some((hotE, ids)) =>
        // ≤64 hub state rows broadcast each round (a tiny job against
        // the checkpointed state); the hub edges stay dst-partitioned,
        // so the hub's contribution work runs map-side everywhere and
        // partial aggregation folds it before the dst exchange
        val hotState = broadcast(
          state.where(col("node").isin(ids: _*))
            .select(col("node").as("src"), col("deg"), col("rank")))
        cold.unionAll(hotE.join(hotState, Seq("src"))
          .select(col("dst"), expr("rank div deg").as("c")))
    }
    val contrib = flows.groupBy("dst").agg(sum(col("c")).as("acc"))
    state.join(contrib, state("node") === contrib("dst"), "left")
      .select(col("node"), col("deg"), col("base"),
        (col("base") +
          expr("(85 * coalesce(acc, CAST(0 AS BIGINT))) div 100"))
          .as("rank"))
  }

  /** Global triangle census over an undirected edge list — the standard
    * graph-cohesion statistic (clustering/community structure; in a
    * curation pipeline: link-farm and citation-ring detection on the
    * document/domain graph).
    *
    * The naive triple-join explodes on skew: a hub of degree d
    * contributes O(d^2) wedges. This is the degree-ordered node-iterator
    * (Schank & Wagner 2005; the same orientation trick GraphX's
    * TriangleCount and every distributed triangle counter uses): orient
    * each edge from its lower-(degree, id) endpoint to the higher one,
    * form wedges only between the out-neighbors of each node, and close
    * them against the oriented edge set. Out-degrees are bounded by
    * O(sqrt(m)), so wedge volume is O(m^1.5) worst case and tiny in
    * practice — independent of hub in-degree. All joins are equi-joins
    * (node key / edge key); nothing is collected.
    *
    * Returns ONE row of exact integers — n_nodes, n_edges, n_wedges
    * (= sum over nodes of deg·(deg−1)/2), n_triangles — attached by
    * one-row broadcast cross joins. Counts are orientation-invariant, so
    * the oracle can recount them with a plain a<b<c triple join. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // canonicalize: undirected, deduped, no self-loops
    val e = edges.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .where(col("lo") < col("hi")).distinct()
      .truncateLineage(eager = false)
    val deg = e.select(col("lo").as("node"))
      .unionAll(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // rank = (deg, node): total order; orient low rank -> high rank
    val dl = deg.select(col("node").as("lo"), col("deg").as("dlo"))
    val dh = deg.select(col("node").as("hi"), col("deg").as("dhi"))
    val loFirst = col("dlo") < col("dhi") ||
      (col("dlo") === col("dhi") && col("lo") < col("hi"))
    val oriented = e.join(dl, "lo").join(dh, "hi")
      .select(when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
        when(loFirst, col("hi")).otherwise(col("lo")).as("dst"))
      .truncateLineage(eager = false)
    // adjacency-intersection count (forward algorithm): for each
    // oriented edge (u,v), triangles closed over it are
    // |adj+(u) ∩ adj+(v)| — each triangle counted exactly once at its
    // lowest-rank edge. Compared to materializing the wedge list
    // (Σ outdeg² rows — 41M at bench scale), this ships each node's
    // ≤O(sqrt(m)) out-list once per incident edge and intersects
    // in-row: same asymptotics, a fraction of the shuffled rows.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val closedPerEdge = oriented.select(col("src"), col("dst"))
      .join(adj.select(col("src"), col("nbrs").as("au")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("av")),
        Seq("dst"), "left")
      .select(when(col("av").isNull, lit(0))
        .otherwise(size(array_intersect(col("au"), col("av"))))
        .as("t"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    val triStats = closedPerEdge
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    nodeStats.crossJoin(broadcast(edgeStats))
      .crossJoin(broadcast(triStats))
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        col("n_triangles"))
  }

  /** The part co-purchase graph: an undirected edge between two parts
    * whenever some order contains both (the item-item graph of every
    * recommender / market-basket pipeline). Per-order pair expansion is
    * bounded by the max lines-per-order, not by part popularity.
    *
    * SHARED-PREP COST NOTE (r13 directive #8): this distinct + self-join
    * DOMINATES the wall time of every downstream graph operator run on
    * its output ([[twoHopReach]], [[itemItemTopK]], [[triangleStats]],
    * [[degreeAssortativity]] each document their own shape, but their
    * measured cost is mostly THIS prep). A pipeline running several of
    * them materializes the edge list ONCE — `coPurchaseEdges(li)
    * .truncateLineage(eager = false)` (or a bucketed table,
    * [[graft.Tables.saveBucketed]]) — and feeds the checkpointed frame
    * to each operator, paying the distinct-join a single time; at 100 TB
    * the co-purchase graph is a persisted artifact, never a per-query
    * recompute. `SparkEntry.sharedGraphPrep` is the reference wiring. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val pr = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    pr.as("a").join(pr.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
  }

  /** Longest-path depth per node of a DAG — topological layering (the
    * schedule level of a dependency graph; for code-system hierarchies,
    * the deepest-specialization rank a flat closure cannot express).
    * depth(n) = 0 for roots, else 1 + max over parents.
    *
    * Max-propagation fixpoint entered like the other graph loops
    * ([[graphLoop]], parent → src, child → dst): each round is one keyed
    * join of the checkpointed edges against the depth state + one
    * groupBy max. Self-loops are ignored. Rounds = graph depth.
    * Throws after `maxIterations` (a cycle never converges — failing
    * loudly beats silently wrong depths). */
  def dagDepth(spark: SparkSession, edges: DataFrame,
      maxIterations: Int = 64): DataFrame =
    graphLoop(spark,
        edges.select(col("parent").as("src"), col("child").as("dst"))) {
        entry =>
      val e = entry.frame.where(col("src") =!= col("dst"))
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      // depths only ever grow, so convergence is "the depth SUM stopped
      // moving" — one scalar aggregate over the round's checkpoint
      // instead of a join-against-previous diff; round 0's sum is 0
      graft.Lineage.fixpoint(
        nodes.select(col("node"), lit(0L).as("depth")).truncateLineage(),
        maxIterations,
        Some(0L -> ((df: DataFrame) =>
          df.agg(coalesce(sum(col("depth")), lit(0L))).head().getLong(0))),
        s"dagDepth did not converge in $maxIterations rounds — " +
          "cycle in the edge list?") { state =>
        val viaParent = e.join(state, e("src") === state("node"))
          .select(col("dst").as("node"), (col("depth") + 1).as("depth"))
        state.unionAll(viaParent)
          .groupBy(col("node")).agg(max(col("depth")).as("depth"))
      }
    }

  /** Item-item top-k neighbor lists from a weighted co-occurrence edge
    * list — the classic collaborative-filtering building block ("parts
    * bought together"), and in a curation pipeline the
    * related-documents/related-domains index. Per source node, the k
    * strongest neighbors by count (ties by neighbor id ascending).
    *
    * Shape: mirror the undirected edges, ONE map-side-combined groupBy
    * to (src, dst, n), then the bounded topk_by_score aggregate —
    * per-node reducer input is k × partitions buffers, never the full
    * neighbor list of a hub (the row_number window a naive version
    * would use ships every hub edge through one reducer). */
  def itemItemTopK(edges: DataFrame, k: Int): DataFrame = {
    val mirrored = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val cnt = mirrored.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    cnt.groupBy(col("src").as("part"))
      .agg(graft.functions.GraftFunctions.topKByScore(
        col("n").cast("double"), col("dst"), k).as("nb"))
      .select(col("part"), posexplode(col("nb")))
      .select(col("part"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor"),
        col("col.score").cast("long").as("n_co"))
  }

  /** 2-hop neighborhood-reach estimation via mergeable KMV sketches —
    * the HyperANF idea (Boldi–Rosa–Vigna) at radius 2: per node,
    * estimate `|{v : dist(u,v) <= 2}|` (closed neighborhood) WITHOUT
    * materializing 2-hop pairs, whose exact count is Σ deg² — the thing
    * that actually explodes on hub nodes at scale. Reach distributions
    * separate influencer/spam hubs from normal nodes long before exact
    * counting is feasible.
    *
    * Sketch propagation: round 1 builds each node's k-minimum-values
    * sketch over N[u] (its neighbors + itself, hashed with the portable
    * 60-bit family); round 2 merges, for each u, the sketches of every
    * w ∈ N[u] — a join on the edge list + one explode + the same
    * bounded KMV aggregate. Each round shuffles O(k) longs per node,
    * never the quadratic pair set. Sketches are deterministic (hash of
    * node id), so the DuckDB oracle reconstructs the identical estimate
    * from the exactly-materialized 2-hop set (feasible at oracle
    * scale). Groups under k distinct are EXACT. */
  def twoHopReach(edges: DataFrame, k: Int): DataFrame = {
    val h = conv(substring(md5(col("w").cast("string").cast("binary")),
      1, 15), 16, 10).cast("long")
    // Closed-neighborhood edge set N[u]: the symmetric pairs are
    // distinct'd WITHOUT the self-rows (halving the wide distinct's
    // input vs the old 4-way unionAll — the allocation burst that made
    // this query's shared-JVM bench slot 2-3x its isolated time, r13
    // directive #1), and the (u,u) self-rows are rebuilt from the
    // single-column node set — cheap map-side-combined distinct — then
    // appended disjointly (self-loops are filtered OUT of the symmetric
    // side, so the union is exactly the old set, no final dedup).
    val sym = edges.select(col("src").as("u"), col("dst").as("w"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("w")))
      .where(col("u").isNotNull && col("w").isNotNull)
    val nonSelf = sym.where(col("u") =!= col("w")).distinct()
    val selfRows = sym.select(col("u")).distinct()
      .select(col("u"), col("u").as("w"))
    val e = nonSelf.unionAll(selfRows)
      .truncateLineage(eager = false)
    val hop1 = e.select(col("u"), h.as("h"))
      .groupBy(col("u"))
      .agg(graft.functions.GraftFunctions.kminValues(col("h"), k)
        .as("kmv"))
    val hop2 = e.join(hop1.select(col("u").as("w"), col("kmv")),
        Seq("w"))
      .select(col("u"), explode(col("kmv")).as("h"))
      .groupBy(col("u"))
      .agg(graft.functions.GraftFunctions.kminValues(col("h"), k)
        .as("kmv"))
    hop2.select(col("u").as("node"),
      size(col("kmv")).as("n_sketch"),
      when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
        .otherwise(floor(lit((k - 1).toDouble * math.scalb(1.0, 60)) /
          element_at(col("kmv"), k).cast("double")).cast("long"))
        .as("reach2_est"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the undirected edge list (Newman 2002) — one scalar
    * separating hub-to-hub "rich club" graphs (r > 0) from hub-to-leaf
    * star topologies (r < 0); in curation, link-farm rings assort, and
    * organic link graphs disassort.
    *
    * Exactness: each edge contributes its endpoint-degree pair in BOTH
    * orders (the standard symmetrization), all five correlation sums
    * are exact bigints from one map-side-combined aggregate, and the
    * final r is a fixed IEEE sequence (two casts, one sqrt each side,
    * one multiply, one divide) — engine-identical. Returns
    * (n_edges, n_pairs, r); r is null for degree-regular graphs
    * (zero variance). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .where(col("lo") < col("hi")).distinct()
      .truncateLineage(eager = false)
    val deg = e.select(col("lo").as("node"))
      .unionAll(e.select(col("hi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dl = deg.select(col("node").as("lo"), col("deg").as("dl"))
    val dh = deg.select(col("node").as("hi"), col("deg").as("dh"))
    val pairs = e.join(dl, "lo").join(dh, "hi")
      .select(col("dl").as("x"), col("dh").as("y"))
    val sym = pairs.unionAll(pairs.select(col("y").as("x"),
      col("x").as("y")))
    val sums = sym.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // products in DECIMAL: n * sum(x^2) overflows bigint at ~1e9 edges
    def d(c: Column) = c.cast("decimal(19,0)")
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val vx = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val vy = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(sums))
      .select(col("n_edges"), col("n").as("n_pairs"),
        when(col("n") > 0 && vx =!= 0 && vy =!= 0,
          num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("assortativity"))
  }

  /** Hierarchical subtree rollup: for every node of a (parent, child)
    * hierarchy, the aggregate of a measure over its ENTIRE subtree
    * (itself plus all transitive descendants) — the org-chart /
    * bill-of-materials / category-tree report ("total balance under
    * every manager"), which a plain one-level groupBy(parent) cannot
    * answer.
    *
    * Plan: the transitive closure (closure/TransitiveClosure.scala: an
    * executor-side ancestor walk over one bounded edge collect, prefix
    * doubling in O(log depth) rounds above its edge gate) expands each
    * node to its descendant set, self-pairs are unioned in, and one keyed
    * aggregation sums the measure per ancestor — no per-level driver
    * loop over the tree, and the measure is DECIMAL-summed so the
    * rolled-up totals are engine-exact. Nodes with no value rows
    * anywhere in their subtree are absent (nothing to report). */
  def subtreeRollup(spark: SparkSession, edges: DataFrame,
      values: DataFrame, nodeCol: String, valueCol: String,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val closure = graft.closure.TransitiveClosure
      .closureLong(spark, edges, shufflePartitions = shufflePartitions)
    // pre-aggregate values per node: the closure join then carries one
    // row per (ancestor, valued-descendant), and the self-pairs are
    // distinct by construction even under multi-row-per-node inputs
    val vAgg = values
      .select(col(nodeCol).cast("long").as("descendant"),
        col(valueCol).cast("decimal(18,2)").as("w"))
      .groupBy(col("descendant"))
      .agg(count(lit(1)).as("cnt"), sum(col("w")).as("w"))
    val pairs = closure.select(col("ancestor"), col("descendant"))
      .unionAll(vAgg.select(col("descendant").as("ancestor"),
        col("descendant")))
    pairs.join(vAgg, Seq("descendant"))
      .groupBy(col("ancestor").as("node"))
      .agg(sum(col("cnt")).as("n_subtree"),
        sum(col("w")).cast("double").as("subtree_total"))
  }

  /** Multi-source exact BFS reach profile: from each seed, the EXACT
    * number of nodes first reached at every depth ≤ `maxDepth` — the
    * blast-radius / influence-horizon report ("how much of the graph is
    * within 3 hops of this account"), and the exact ground truth the
    * sketched 2-hop estimator (q161) trades away. Frontier-at-a-time:
    * each round is one equi-join frontier⋈edges, a distinct, and an
    * anti-join against the visited set — never materializing paths
    * (the recursive-CTE failure mode on dense graphs: path count grows
    * exponentially, first-visit sets don't). `maxDepth` sequential
    * rounds, each checkpointed; state is (seed, node) pairs, bounded by
    * seeds × nodes. */
  def multiSourceBfs(spark: SparkSession, edges: DataFrame,
      seeds: Seq[Long], maxDepth: Int): DataFrame = {
    require(seeds.nonEmpty && maxDepth >= 1, "need seeds and depth >= 1")
    import spark.implicits._
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).truncateLineage(eager = false)
    var visited = seeds.map(s => (s, s, 0))
      .toDF("seed", "node", "dist").truncateLineage(eager = false)
    var frontier = visited.select(col("seed"), col("node"))
    for (d <- 1 to maxDepth) {
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(d))
        .truncateLineage(eager = false)
      visited = visited.unionAll(next).truncateLineage(eager = false)
      frontier = next.select(col("seed"), col("node"))
    }
    visited.groupBy(col("seed"), col("dist"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** The customer–supplier interaction graph: an undirected bipartite
    * edge per distinct (o_custkey, l_suppkey) trading pair, encoded
    * customers = 2k, suppliers = 2k+1. Same shared-prep cost note as
    * [[coPurchaseEdges]]: the orders⋈lineitem distinct dominates every
    * downstream graph operator — materialize once, feed many. */
  def customerSupplierEdges(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    pairs.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .unionAll(pairs.select((col("s") * 2 + 1).as("src"),
        (col("c") * 2).as("dst")))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983): drop
    * every node whose degree (restricted to surviving nodes) is below
    * k, recompute degrees, repeat to fixpoint — the maximal subgraph
    * where every node keeps ≥ k surviving neighbors, the standard
    * cohesion filter (spam/fringe pruning before any ranking).
    * Edges must be a symmetric directed list (both directions present,
    * as [[customerSupplierEdges]] emits).
    *
    * Per round: one src-side semi-join (exchange-free — edges are
    * pre-partitioned on src and the survivor frame on node), one
    * dst-side semi-join (the round's inherent regroup, same role as
    * PageRank's contribution shuffle), one keyed count. The survivor
    * set only SHRINKS, so count equality ⟹ set equality and the
    * convergence check is a cheap count on the already-checkpointed
    * frame — no EXCEPT/anti-join. Superseded rounds are retired
    * ([[graft.Lineage.retire]]) so a deep peel holds O(1) round states.
    *
    * Returns surviving (node, core_deg) — core_deg is the degree inside
    * the final core. */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graphLoop(spark, edges) { entry =>
      val e = entry.frame.repartition(col("src")).persist()
      e.count()
      entry.superseded()
      def survivors(live: DataFrame): DataFrame =
        live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k)
          .select(col("src").as("node"), col("deg"))
          .repartition(col("node"))
      val start = survivors(e).truncateLineage(eager = false)
      graft.Lineage.fixpoint(start, Int.MaxValue,
        Some(start.count() -> ((_: DataFrame).count())),
        releasing = Seq(e)) { surv =>
        survivors(e
          .join(surv.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(surv.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      }.select(col("node"), col("deg").as("core_deg"))
    }
  }

  /** Deterministic negative sampling for link prediction — the
    * training-pair generator for any edge-scoring model (recommender,
    * knowledge-graph, citation): per source node, `k` pseudo-random
    * candidates drawn from the DESTINATION universe by hashing
    * (salt, src, j) into the universe's dense shuffle positions
    * ([[graft.ops.Splits.deterministicShuffle]] — the same md5 rank any
    * engine replays), then true edges and self-loops are removed by one
    * keyed anti-join. A candidate lost to the exclusion simply drops
    * (standard practice oversamples k; emitted j makes the gap
    * visible), so resamples are reproducible end to end — no rand(),
    * no retry loop.
    *
    * Scale shape: the universe index is node-sized; candidates are
    * |src|·k rows joined by position (uniform key by construction —
    * no skew), and the exclusion is a keyed left-anti against the edge
    * list. Output: (src, j, neg_dst). */
  def negativeSamples(edges: DataFrame, k: Int,
      salt: String = "graft-neg"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val universe = e.select(col("dst").as("id")).distinct()
    val idx = graft.ops.Splits.deterministicShuffle(universe, "id")
      .select(col("position").as("pos"), col("id").as("neg_dst"))
    val n = idx.count()
    if (n == 0)
      return e.limit(0).select(col("src"), lit(0L).as("j"),
        col("dst").as("neg_dst"))
    val cands = e.select(col("src")).distinct()
      .select(col("src"),
        explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      .withColumn("pos", pmod(conv(substring(md5(concat_ws(":",
        lit(salt), col("src").cast("string"), col("j"))), 1, 15),
        16, 10).cast("long"), lit(n)))
    cands.join(idx, Seq("pos"))
      .join(e.select(col("src"), col("dst").as("neg_dst")).distinct(),
        Seq("src", "neg_dst"), "left_anti")
      .where(col("src") =!= col("neg_dst"))
      .select(col("src"), col("j"), col("neg_dst"))
  }
}
