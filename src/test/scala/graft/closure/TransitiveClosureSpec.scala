package graft.closure

import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.terminology.HierarchicalElement

/** Distributed closure vs an in-memory DFS oracle, including cycles —
  * mirrors the reference's cycle test
  * (ValueSetUdfsTest.testHasCyclicAncestor:234-248). The oracle tests run
  * against both the walk (under the gate) and the prefix-doubling loop
  * (the gate [[TransitiveClosure.LoopOnly]]); the round-count and skew
  * tests pin the loop alone. */
class TransitiveClosureSpec extends SparkSuite {

  private val Walk = TransitiveClosure.WalkMaxEdges
  private val Loop = TransitiveClosure.LoopOnly

  /** In-memory oracle: DFS with visited set per node (the reference's
    * driver-side algorithm, Hierarchies.java:295-307). */
  private def dfsOracle(edges: Seq[(Int, Int)]): Set[(Int, Int)] = {
    val parents = edges.groupMap(_._2)(_._1) // child -> parents
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.flatMap { n =>
      val visited = scala.collection.mutable.Set.empty[Int]
      def walk(c: Int): Unit = parents.getOrElse(c, Nil).foreach { p =>
        if (!visited.contains(p)) { visited += p; walk(p) }
      }
      walk(n)
      (visited - n).map(a => (a, n))
    }.toSet
  }

  private def run(edges: Seq[(Int, Int)],
      gate: Int = Walk): Set[(Int, Int)] = {
    import spark.implicits._
    val df = edges.toDF("parent", "child")
    TransitiveClosure.closureLongWith(spark, df, walkMaxEdges = gate)
      .as[(Long, Long)].collect().map { case (a, d) => (a.toInt, d.toInt) }
      .toSet
  }

  /** The pairs of `edges` by both paths, required equal. */
  private def both(edges: Seq[(Int, Int)]): Set[(Int, Int)] = {
    val walked = run(edges)
    assert(walked === run(edges, Loop), s"walk != loop on $edges")
    walked
  }

  test("chain closure") {
    assert(both(Seq(1 -> 2, 2 -> 3, 3 -> 4)) ===
      Set((1, 2), (2, 3), (3, 4), (1, 3), (1, 4), (2, 4)))
  }

  test("diamond closure") {
    val edges = Seq(1 -> 2, 1 -> 3, 2 -> 4, 3 -> 4)
    assert(both(edges) === dfsOracle(edges))
  }

  test("cycle-safe: closure of a cycle terminates and excludes self-loops") {
    val got = both(Seq(1 -> 2, 2 -> 3, 3 -> 1))
    // every distinct ordered pair is in the closure, no self-pairs
    assert(got === Set((1, 2), (2, 3), (3, 1), (1, 3), (2, 1), (3, 2)))
  }

  test("typed hierarchy closure (system+value keys)") {
    import spark.implicits._
    val edges = Seq(
      HierarchicalElement("s", "a", "s", "b"),
      HierarchicalElement("s", "b", "s", "c")).toDS()
    for (gate <- Seq(Walk, Loop)) {
      val got = TransitiveClosure.closureWith(spark, edges,
          walkMaxEdges = gate)
        .as[HierarchicalElement].collect().toSet
      assert(got === Set(
        HierarchicalElement("s", "a", "s", "b"),
        HierarchicalElement("s", "b", "s", "c"),
        HierarchicalElement("s", "a", "s", "c")), s"gate=$gate")
    }
  }

  test("the walk returns the loop's columns and types; maxIterations " +
      "bounds only the loop") {
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("parent", "child")
    val walked = TransitiveClosure.closureLong(spark, chain, maxIterations = 1)
    assert(walked.count() === 41L * 40L / 2)
    assert(walked.schema === TransitiveClosure.closureLongWith(spark, chain,
      walkMaxEdges = Loop).schema)
    val typed = Seq(HierarchicalElement("s", "a", "s", "b")).toDS()
    assert(TransitiveClosure.closure(spark, typed).schema ===
      TransitiveClosure.closureWith(spark, typed, walkMaxEdges = Loop).schema)
    val ints = Seq((1, 2), (2, 3)).toDF("parent", "child")
    assert(TransitiveClosure.closureLong(spark, ints).schema ===
      TransitiveClosure.closureLongWith(spark, ints, walkMaxEdges = Loop)
        .schema)
  }

  test("the gate: at most walkMaxEdges distinct edges walk, one more " +
      "falls back to the loop") {
    import spark.implicits._
    def walks(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("ancestors_of")
    // 3 distinct edges, one of them repeated
    val three = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 4L))
      .toDF("parent", "child")
    val four = three.union(Seq((4L, 5L)).toDF("parent", "child"))
    val at = TransitiveClosure.closureLongWith(spark, three, walkMaxEdges = 3)
    val over = TransitiveClosure.closureLongWith(spark, four, walkMaxEdges = 3)
    // over the gate across tasks, and within one task
    val overInOne = TransitiveClosure.closureLongWith(spark, four.coalesce(1),
      walkMaxEdges = 3)
    assert(walks(at) && !walks(over) && !walks(overInOne))
    assert(at.count() === 6L && over.count() === 10L &&
      overInOne.count() === 10L)
    val typed = Seq(HierarchicalElement("s", "a", "s", "b"),
      HierarchicalElement("s", "b", "s", "c")).toDS()
    assert(walks(TransitiveClosure.closureWith(spark, typed,
      walkMaxEdges = 2)))
    val loop = TransitiveClosure.closureWith(spark, typed, walkMaxEdges = 1)
    assert(!walks(loop) && loop.count() === 3L)
  }

  test("under the gate closure and closureLong run at most 2 jobs, the " +
      "result action included, and the plan shows ancestors_of") {
    import spark.implicits._
    val longs = (0L until 200L).map(i => (i / 2, i + 1))
      .toDF("parent", "child")
    val codes = (0 until 200).map(i => HierarchicalElement(
      "urn:sys", (i / 2).toString, "urn:sys", (i + 1).toString)).toDS()
    for ((name, result) <- Seq[(String, () => DataFrame)](
        "closureLong" -> (() => TransitiveClosure.closureLong(spark, longs)),
        "closure" -> (() => TransitiveClosure.closure(spark, codes)))) {
      var rows = 0L
      val (jobs, plans) = TestJobs.of(spark) { rows = result().count() }
      assert(rows === 1160L, name)
      assert(jobs <= 2, s"$name: $jobs jobs")
      assert(plans.exists(_.contains("ancestors_of")), s"$name: $plans")
    }
  }

  test("property: closure matches DFS oracle on random graphs (incl cycles)") {
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(12)((rnd.nextInt(8), rnd.nextInt(8)))
        .filter(e => e._1 != e._2).distinct
      assert(both(edges) === dfsOracle(edges), s"seed=$seed edges=$edges")
    }
  }

  test("property: string-keyed closure matches DFS oracle on random graphs " +
      "(incl cycles, one value under two systems, null endpoints)") {
    import spark.implicits._
    // node n is the code (system n % 2, value n / 2): every value exists
    // under two systems, and the two are different codes
    def code(n: Int): (String, String) =
      (if (n % 2 == 0) "urn:sys:a" else "urn:sys:b", (n / 2).toString)
    (31 to 36).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(14)((rnd.nextInt(10), rnd.nextInt(10)))
        .filter(e => e._1 != e._2).distinct
      val typed = edges.map { case (p, c) =>
        HierarchicalElement(code(p)._1, code(p)._2, code(c)._1, code(c)._2)
      }
      // edges with a null system or value are not part of the graph
      val nulls = Seq(
        HierarchicalElement(null, "0", "urn:sys:a", "1"),
        HierarchicalElement("urn:sys:a", null, "urn:sys:b", "2"),
        HierarchicalElement("urn:sys:b", "3", null, "4"),
        HierarchicalElement("urn:sys:b", "3", "urn:sys:a", null))
      val want = dfsOracle(edges).toSeq.map { case (a, d) =>
        HierarchicalElement(code(a)._1, code(a)._2, code(d)._1, code(d)._2)
      }
      for (gate <- Seq(Walk, Loop)) {
        val got = TransitiveClosure.closureWith(spark,
            (typed ++ nulls ++ typed.take(2)).toDS(), walkMaxEdges = gate)
          .as[HierarchicalElement].collect()
        assert(got.length === got.distinct.length, s"seed=$seed gate=$gate")
        assert(got.toSet === want.toSet,
          s"seed=$seed gate=$gate edges=$edges")
      }
    }
  }

  test("deep chain + hub fan: prefix doubling converges in O(log d) rounds") {
    import spark.implicits._
    // the skew case called out in TransitiveClosure.scala:21-24: a 64-deep
    // chain (0→1→…→64) whose tail feeds a hub (64→1000) fanning out to
    // 2000 leaves; end-to-end depth 66
    val chain = (0 until 64).map(i => (i.toLong, i.toLong + 1))
    val fan = (1001L to 3000L).map(c => (1000L, c))
    val edges = (chain :+ (64L, 1000L)) ++ fan
    // closed form: chain pairs C(65,2)=2080; ancestors of the hub root 65;
    // (chain node ∪ hub root) × 2000 leaves
    val expected = 2080 + 65 + 66 * 2000
    // depth 66 → prefix doubling needs ceil(log2(66))=7 growth rounds + 1
    // fixpoint round; maxIterations=8 IS the O(log d) round-count
    // assertion — the run throws if any more were needed
    val got = TransitiveClosure.closureLongWith(spark,
      edges.toDF("parent", "child"), maxIterations = 8,
      shufflePartitions = Some(8), walkMaxEdges = Loop)
    assert(got.count() === expected)
    // one round short of that budget it must refuse loudly rather than
    // return a truncated closure
    assertThrows[IllegalStateException] {
      TransitiveClosure.closureLongWith(spark, edges.toDF("parent", "child"),
        maxIterations = 7, shufflePartitions = Some(8), walkMaxEdges = Loop)
    }
  }

  test("AQE skew-split absorbs the hub-key straggler in the closure join") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // star graph: 150 sources → hub → 1000 leaves. The doubling join's
    // build side is keyed by ancestor, so the hub key holds 1000 of 1150
    // edge rows in ONE shuffle partition — the input-byte skew AQE's
    // OptimizeSkewedJoin is built to split. The
    // measurement is join-output share: without skew handling one task
    // emits ~all of the 150k src×leaf pairs; with it the hub partition is
    // split into advisory-sized chunks, none dominating.
    val srcs = (2000L until 2150L).map(s => (s, 1000L))
    val fan = (3000L until 4000L).map(c => (1000L, c))
    val edges = srcs ++ fan
    val expected = 150 + 1000 + 150 * 1000
    val stageWrites =
      scala.collection.concurrent.TrieMap[Int, List[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val rec = Option(t.taskMetrics)
          .map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L)
        stageWrites.updateWith(t.stageId)(v => Some(rec :: v.getOrElse(Nil)))
      }
    }
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    // returns, per multi-task stage writing >= 50k join-output records,
    // the largest single-task share of that stage's output
    def run(skewJoin: Boolean): Seq[Double] = {
      stageWrites.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        // force shuffled sort-merge joins (no broadcast escape hatch) and
        // keep the 8 shuffle partitions visible (no coalescing), with
        // test-scale skew thresholds (production defaults are 256 MB)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
        conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
        val got = TransitiveClosure.closureLongWith(spark,
          edges.toDF("parent", "child"), maxIterations = 3,
          shufflePartitions = Some(8), walkMaxEdges = Loop)
        assert(got.count() === expected)
      } finally {
        // the listener bus is asynchronous — wait for task-end events to
        // drain before asserting over them
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val now = stageWrites.valuesIterator.map(_.length).sum
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        spark.sparkContext.removeSparkListener(listener)
        saved.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None) => conf.unset(k)
        }
      }
      stageWrites.toSeq.collect {
        case (_, recs) if recs.length >= 4 && recs.sum >= 50000 =>
          recs.max.toDouble / recs.sum
      }
    }
    val withoutSkew = run(skewJoin = false)
    val withSkew = run(skewJoin = true)
    info(f"max single-task output share, skew off: " +
      f"${withoutSkew.maxOption.getOrElse(0.0)}%.2f; " +
      f"on: ${withSkew.maxOption.getOrElse(0.0)}%.2f")
    // positive control: without skew handling the hub task IS a straggler
    // producing >=90% of a join stage's output on its own
    assert(withoutSkew.exists(_ >= 0.9),
      s"expected an unsplit hub straggler, shares: $withoutSkew")
    // with AQE skew-split, no task of any join stage produces more than
    // half the stage output — the straggler is gone
    assert(withSkew.nonEmpty && withSkew.forall(_ <= 0.5),
      s"skew-split did not absorb the hub partition, shares: $withSkew")
  }

  test("incremental addEdges equals the from-scratch closure on random " +
    "splits (including delta-edge chains)") {
    import spark.implicits._
    (20 to 24).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(16)((rnd.nextInt(10), rnd.nextInt(10)))
        .filter(e => e._1 != e._2).distinct
      val (delta, base) = edges.partition(_ => rnd.nextBoolean())
      if (base.nonEmpty) {
        val closed = TransitiveClosure.closureLong(spark,
          base.toDF("parent", "child"))
        val got = TransitiveClosure.addEdges(spark, closed,
            delta.toDF("parent", "child"))
          .as[(Long, Long)].collect()
          .map { case (a, d) => (a.toInt, d.toInt) }.toSet
        assert(got === dfsOracle(edges), s"seed=$seed base=$base " +
          s"delta=$delta")
      }
    }
    // a delta that is a pure chain (every new path uses MANY delta
    // edges) exercises the prefix-doubling rounds on M
    val base = Seq(1 -> 2)
    val delta = (2 until 12).map(i => i -> (i + 1))
    val closed = TransitiveClosure.closureLong(spark,
      base.toDF("parent", "child"))
    val got = TransitiveClosure.addEdges(spark, closed,
        delta.toDF("parent", "child"))
      .as[(Long, Long)].collect()
      .map { case (a, d) => (a.toInt, d.toInt) }.toSet
    assert(got === dfsOracle(base ++ delta))
  }
}
