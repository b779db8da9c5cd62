package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.closure.TransitiveClosure

/** Contract for [[Lineage]] — the fault-tolerance switch the iterative
  * family (closure, PageRank, connected components, BFS) depends on at
  * cluster scale: with `graft.checkpoint.dir` set, every loop round
  * checkpoints to RELIABLE storage (survives executor loss); unset, the
  * zero-infrastructure `localCheckpoint` path is used. Both must produce
  * identical results; the reliable mode must actually write checkpoint
  * files into the configured directory. */
class LineageSpec extends SparkSuite {

  private def closurePairs(): Set[(Long, Long)] = {
    import spark.implicits._
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("parent", "child")
    TransitiveClosure.closureLongWith(spark, edges,
        walkMaxEdges = TransitiveClosure.LoopOnly)
      .as[(Long, Long)].collect().toSet
  }

  test("reliable checkpoint mode: same closure, files on disk") {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    val expected = closurePairs() // default local mode
    spark.conf.set(Lineage.CheckpointDirKey, dir.getAbsolutePath)
    try {
      val got = closurePairs()
      assert(got === expected)
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(countFiles).sum
        else 1
      assert(countFiles(dir) > 0,
        s"expected reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset(Lineage.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("reliable mode: one UUID subdir, superseded rounds retired") {
    val dir = Files.createTempDirectory("graft-ckpt-ret").toFile
    spark.conf.set(Lineage.CheckpointDirKey, dir.getAbsolutePath)
    try {
      closurePairs() // 64-node chain: several prefix-doubling rounds
      // setCheckpointDir ran ONCE for this (app, dir): exactly one UUID
      // subdirectory (the old dead guard re-created one per call)
      val subdirs = dir.listFiles().filter(_.isDirectory)
      assert(subdirs.length === 1,
        s"expected one checkpoint subdir, got ${subdirs.map(_.getName).toSeq}")
      // retire() deleted every superseded round: only the surviving
      // frames' rdd-* dirs remain (final closure + the initial edge
      // frame), NOT one per round
      val rddDirs = subdirs.head.listFiles().filter(_.isDirectory)
      assert(rddDirs.length <= 2,
        s"expected <=2 surviving checkpoints, got ${rddDirs.length}: " +
          rddDirs.map(_.getName).mkString(", "))
    } finally {
      spark.conf.unset(Lineage.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("retire drops a superseded frame's blocks and files") {
    import graft.Lineage._
    val dir = Files.createTempDirectory("graft-ckpt-retire").toFile
    spark.conf.set(Lineage.CheckpointDirKey, dir.getAbsolutePath)
    try {
      val df = spark.range(100).toDF("id").truncateLineage()
      assert(df.count() === 100)
      def rddDirs(): Seq[java.io.File] =
        dir.listFiles().filter(_.isDirectory)
          .flatMap(_.listFiles().filter(_.isDirectory)).toSeq
      assert(rddDirs().nonEmpty, "eager reliable checkpoint wrote files")
      Lineage.retire(df)
      assert(rddDirs().isEmpty, "retire deletes the checkpoint files")
    } finally {
      spark.conf.unset(Lineage.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("local mode: loop rounds retire their localCheckpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    import org.apache.spark.sql.functions._
    val edges = spark.range(200).select(
      (col("id") % 50).as("src"), ((col("id") * 7 + 3) % 50).as("dst"))
    val ranks = graft.ops.Graphs.pageRankFixedPoint(spark, edges,
      iterations = 5)
    assert(ranks.count() > 0)
    val leftover = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
    // 5 rounds + init state: without retire() that is 6+ live block sets;
    // with it only the final state (+ its construction remnant) survive
    assert(leftover.size <= 3,
      s"expected <=3 surviving persistent RDDs, got ${leftover.size}")
    leftover.values.foreach(_.unpersist(blocking = false))
  }

  test("pagerank identical under both checkpoint modes") {
    import graft.Lineage._
    val edges = spark.range(200).select(
      (col("id") % 50).as("src"), ((col("id") * 7 + 3) % 50).as("dst"))
    def run(): Map[Long, Long] =
      graft.ops.Graphs.pageRankFixedPoint(spark, edges, iterations = 3)
        .select(col("node"), col("rank")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val dir = Files.createTempDirectory("graft-ckpt-pr").toFile
    spark.conf.set(Lineage.CheckpointDirKey, dir.getAbsolutePath)
    try assert(run() === local)
    finally {
      spark.conf.unset(Lineage.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
}
