package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.closure.TransitiveClosure
import graft.ops.{Dedup, Graphs, Profiling, Sketches}

/** Checkpoint-block OWNERSHIP contract (r13 directive #2).
  *
  * The iterative loops retire their superseded rounds themselves, but a
  * one-shot operator whose result plan reads a lazily-checkpointed frame
  * strands those blocks on the caller's session until a GC-driven
  * ContextCleaner sweep: a library caller invoking such operators
  * repeatedly on a long-lived session accumulates blocks. The contract —
  * wrap the call in [[Lineage.scoped]] (or call
  * [[Lineage.retireDependents]] after the terminal action) — must leave
  * ZERO leftover persistent RDDs for every operator family, including
  * checkpoints STACKED behind the result (frame B checkpointed over
  * frame A's blocks), which only the scope registry can see.
  *
  * Leftovers are counted as persistent-RDD registrations created by the
  * scoped call and still present after it (`getPersistentRDDs` is
  * updated synchronously by `unpersist`, so no polling is needed). */
class LineageOwnershipSpec extends SparkSuite {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `build` under the scoped contract with one count() as the
    * terminal action; return the persistent-RDD ids it leaked. */
  private def leftovers(build: => DataFrame): Set[Int] = {
    val before = persistedIds
    Lineage.scoped(build) { df => df.count() }
    persistedIds -- before
  }

  private def edges(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
  }

  test("twoHopReach releases its symmetrized edge checkpoint") {
    val left = leftovers(Graphs.twoHopReach(edges(64), k = 8))
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("pageRankFixedPoint releases loop state and edge prep") {
    val left = leftovers(
      Graphs.pageRankFixedPoint(spark, edges(64), iterations = 2))
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("kCore releases loop state and edge prep") {
    import spark.implicits._
    val sym = edges(64).unionAll(
      edges(64).select(col("dst").as("src"), col("src").as("dst")))
    val left = leftovers(Graphs.kCore(spark, sym, k = 2))
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("closureLong + addEdges release every closure round") {
    import spark.implicits._
    val base = (1L until 32L).map(i => (i, i + 1)).toDF("parent", "child")
    val left = leftovers {
      val closed = TransitiveClosure.closureLongWith(spark, base,
        walkMaxEdges = TransitiveClosure.LoopOnly)
      TransitiveClosure.addEdges(spark, closed,
        Seq((0L, 1L)).toDF("parent", "child"))
    }
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("nearDupClusters + addToClusters release contraction frames") {
    import spark.implicits._
    val pairs = (0 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val left = leftovers {
      val existing = Dedup.nearDupClusters(pairs)
      Dedup.addToClusters(existing,
        Seq((100L, 0L)).toDF("id_a", "id_b"))
    }
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("exactQuantilesByGroup releases BOTH stacked checkpoints " +
    "(per + cum) — the case a plan walk alone cannot see") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"g${i % 3}", (i * 37 % 101).toLong))
      .toDF("g", "v")
    val left = leftovers(
      Sketches.exactQuantilesByGroup(df, "g", "v", Seq((1, 2), (9, 10))))
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("giniConcentration releases its blocked-rank checkpoint") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"g${i % 3}", (i * 37 % 101).toLong))
      .toDF("g", "v")
    val left = leftovers(Profiling.giniConcentration(df, "g", "v"))
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("minhashCandidatePairsRefined releases banding-round frames") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      (i.toLong, s"the quick brown fox ${i % 5} jumps over the lazy dog")
    }.toDF("doc_id", "text")
    val left = leftovers(
      Dedup.minhashCandidatePairsRefined(docs, "doc_id", "text",
        maxBucketSize = 8, refineRounds = 1))
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("retireDependents releases the result-plan leaves without a scope") {
    val before = persistedIds
    val r = Graphs.twoHopReach(edges(64), k = 8)
    r.count()
    Lineage.retireDependents(r)
    val left = persistedIds -- before
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("buildIvfPqIndex codes release via retireDependents after write") {
    import spark.implicits._
    val corpus = (0L until 64L).map { i =>
      (i, (0 until 8).map(j => ((i * 7 + j) % 11).toFloat / 11f))
    }.toDF("vec_id", "embedding")
    val seeds = graft.ops.Similarity.hashSeeds(corpus, "vec_id",
      "embedding", 4)
    val before = persistedIds
    val idx = graft.ops.Similarity.buildIvfPqIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec", codebookIds = Seq(1L, 2L),
      inDims = 8, nSub = 2)
    val path = java.nio.file.Files.createTempDirectory("pq_own").toString
    graft.ops.Similarity.writeIvfPqIndex(idx, path)
    Lineage.retireDependents(idx.codes)
    val left = persistedIds -- before
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("a loop that fails at its round budget releases what it persisted, " +
    "outside any scope") {
    import spark.implicits._
    val before = persistedIds
    intercept[IllegalStateException] {
      Graphs.dagDepth(spark, Seq((1L, 2L), (2L, 3L), (3L, 1L))
        .toDF("parent", "child"), maxIterations = 4)
    }
    intercept[IllegalStateException] {
      TransitiveClosure.closureLongWith(spark,
        (1L until 32L).map(i => (i, i + 1)).toDF("parent", "child"),
        maxIterations = 2, walkMaxEdges = TransitiveClosure.LoopOnly)
    }
    intercept[IllegalStateException] {
      Dedup.nearDupClusters((0 until 40).map(i => (i.toLong, i + 1L))
        .toDF("id_a", "id_b"), maxIterations = 1)
    }
    val left = persistedIds -- before
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }

  test("scoped releases on failure too") {
    val before = persistedIds
    intercept[RuntimeException] {
      Lineage.scoped(Graphs.twoHopReach(edges(16), k = 4)) { df =>
        df.count()
        throw new RuntimeException("caller failure")
      }
    }
    val left = persistedIds -- before
    assert(left.isEmpty, s"leaked persistent RDDs: $left")
  }
}
