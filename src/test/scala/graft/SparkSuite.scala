package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the same forked test JVM), built with the graft extensions as
  * `graft.localSession` is: the edit-distance join rewrite is on for every
  * suite, so a naive reference turns it off for its own scope. */
object SparkSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The bounded-buffer object aggregates (topk_by_score,
    // bounded_collect_set) keep O(k) state per key, so the engine's
    // conservative 128-key sort-fallback would turn a cheap hash
    // aggregation into a full sort-and-spill of the scored input
    // (measured: 2.5x on 10x-scale margin mining). 64Ki keys x the
    // bounded buffers stays well inside executor memory.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  // Overridable for the scale-stress plan-invariance run (PlanLint at a
  // generated sf1 dir); default is the committed smoke scale.
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR",
    "/root/testdata/sf0.001")
}
