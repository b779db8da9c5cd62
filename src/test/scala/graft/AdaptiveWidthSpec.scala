package graft

import org.apache.spark.sql.functions._
import graft.Lineage._

/** Adaptive loop widths (r12 directive #8) and the hub-source skew split
  * (r12 directive #4).
  *
  * Every iterative fixpoint loop now derives its per-round shuffle width
  * from its input size on the ISOLATED child session — a 3-edge fixture
  * runs 1-task rounds instead of inheriting the session's generic
  * parallelism, and the session width is never exceeded or mutated.
  * PageRank additionally splits hub sources (out-degree that would
  * dominate one src partition) into a dst-partitioned frame joined
  * against a bounded broadcast of their state rows.
  */
class AdaptiveWidthSpec extends SparkSuite {
  import spark.implicits._

  test("autoLoopPartitions: clamp arithmetic") {
    assert(ConfScope.autoLoopPartitions(0L, 32) === 1)
    assert(ConfScope.autoLoopPartitions(3L, 32) === 1)
    assert(ConfScope.autoLoopPartitions(250000L, 32) === 1)
    assert(ConfScope.autoLoopPartitions(250001L, 32) === 2)
    assert(ConfScope.autoLoopPartitions(10000000L, 32) === 32)
    assert(ConfScope.autoLoopPartitions(Long.MaxValue / 2, 200) === 200)
  }

  test("small fixtures run the loops at width 1; the session conf is " +
    "untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val pr = ops.Graphs.pageRankFixedPoint(spark, edges, iterations = 2)
    assert(pr.rdd.getNumPartitions === 1,
      s"pagerank state ran at ${pr.rdd.getNumPartitions} partitions")
    assert(pr.count() === 3L)
    val kc = ops.Graphs.kCore(spark,
      edges.unionAll(edges.select(col("dst").as("src"),
        col("src").as("dst"))), k = 2)
    assert(kc.rdd.getNumPartitions === 1)
    val cl = closure.TransitiveClosure.closureLongWith(spark,
      Seq((1L, 2L), (2L, 3L)).toDF("parent", "child"),
      walkMaxEdges = closure.TransitiveClosure.LoopOnly)
    assert(cl.rdd.getNumPartitions === 1)
    assert(cl.count() === 3L)
    val nd = ops.Dedup.nearDupClusters(
      Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"))
    assert(nd.rdd.getNumPartitions === 1)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("splitHotSources: a dominating out-degree source is split out; " +
    "uniform degrees are not") {
    val hub = (1 to 2000).map(i => (0L, i.toLong))
    val rest = (1 to 3000).map(i => (1L + i % 50, (i % 997).toLong))
    val e = (hub ++ rest).toDF("src", "dst")
    val (cold, hot) = ops.Graphs.splitHotSources(e, 5000L, width = 4)
    assert(hot.isDefined, "hub source not detected")
    val (hotE, ids) = hot.get
    assert(ids === Seq(0L))
    assert(hotE.count() === 2000L)
    assert(cold.count() === 3000L)
    assert(cold.where(col("src") === 0L).count() === 0L)
    cold.unpersist(); hotE.unpersist()
    // uniform: nobody reaches max(m/(2*width), 1024)
    val u = rest.toDF("src", "dst")
    val (c2, h2) = ops.Graphs.splitHotSources(u, 3000L, width = 4)
    assert(h2.isEmpty)
    c2.unpersist()
  }

  test("pageRankRound: the hot-split branch is algebraically identical " +
    "to the unsplit round") {
    // graph: hub 0 -> 1..6, plus a small cycle 1->2->3->1
    val all = ((1 to 6).map(i => (0L, i.toLong)) ++
      Seq((1L, 2L), (2L, 3L), (3L, 1L))).toDF("src", "dst")
    val deg = all.groupBy("src").agg(count(lit(1)).as("deg"))
    val state = deg.select(col("src").as("node"), col("deg"),
      lit(1000000L).as("rank"), lit(150000L).as("base"))
      .truncateLineage()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(3)))
        .toSeq
    val unsplit = rows(ops.Graphs.pageRankRound(all, state, None))
    val split = rows(ops.Graphs.pageRankRound(
      all.where(col("src") =!= 0L),
      state,
      Some((all.where(col("src") === 0L), Seq(0L)))))
    assert(split === unsplit)
  }

  test("pageRankFixedPoint with an auto-triggered hub split matches the " +
    "brute-force recomputation") {
    // big enough that width > 1 (m > 250k) and the hub (30% of edges)
    // crosses the m/(2*width) threshold — the split engages for real
    val n = 300000L
    val e = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 3, lit(0L))
        .otherwise(pmod(xxhash64(lit("s"), col("id")), lit(5000L)))
        .as("src"),
      pmod(xxhash64(lit("d"), col("id")), lit(5000L)).as("dst"))
      .persist()
    val got = ops.Graphs.pageRankFixedPoint(spark, e, iterations = 2)
    assert(got.rdd.getNumPartitions === 2) // ceil(300k / 250k)
    // brute-force: two unsplit rounds at session width over the same
    // integral arithmetic
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val nn = deg.count()
    var st = deg.select(col("src").as("node"), col("deg"),
      lit(1000000000000L / nn).as("rank"),
      lit(15L * 1000000000000L / (100L * nn)).as("base"))
      .truncateLineage()
    for (_ <- 1 to 2)
      st = ops.Graphs.pageRankRound(e, st, None).truncateLineage()
    val exp = st.orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    val act = got.orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(act === exp)
    e.unpersist()
  }
}
