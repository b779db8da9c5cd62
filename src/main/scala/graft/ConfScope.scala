package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Lineage._

/** Temporarily override a session conf around a block, always restoring.
  *
  * Iterative fixpoint loops and stateful streaming queries materialize with
  * whatever `spark.sql.shuffle.partitions` says at execution time; sizing
  * that to the ITERATION/STATE data instead of the session's generic
  * parallelism removes fixed per-round scheduling overhead that AQE will
  * not coalesce away (minPartitionNum floor). One shared implementation so
  * the save/set/restore policy cannot drift between call sites. */
private[graft] object ConfScope {

  /** Per-round shuffle width for an iterative loop, derived from the
    * loop's input row count (r12 directive #8): ceil(rows /
    * rowsPerPartition) clamped to [1, sessionWidth]. A fixpoint loop
    * pays its width in task-scheduling overhead EVERY round, so a
    * 3-edge fixture must not run 200-task rounds; conversely the
    * session width is the cluster-tuned ceiling and is never exceeded —
    * at 100 TB the clamp leaves the operator at full cluster width.
    * Always applied on an ISOLATED child session, never the caller's. */
  def autoLoopPartitions(rows: Long, sessionWidth: Int,
      rowsPerPartition: Long = 250000L): Int = {
    require(sessionWidth >= 1 && rowsPerPartition >= 1,
      s"bad width inputs: session=$sessionWidth per=$rowsPerPartition")
    math.max(1L, math.min(sessionWidth.toLong,
      (rows + rowsPerPartition - 1L) / rowsPerPartition)).toInt
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The session's current shuffle width as an Int. */
  def sessionShuffleWidth(spark: SparkSession): Int =
    spark.conf.get(ShufflePartitions).toInt

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily overridden (None = no-op); always restores. */
  def withShuffleWidth[T](spark: SparkSession,
      partitions: Option[Int])(body: => T): T = partitions match {
    case None => body
    case Some(n) =>
      val previous = spark.conf.get(ShufflePartitions)
      spark.conf.set(ShufflePartitions, n.toString)
      try body finally spark.conf.set(ShufflePartitions, previous)
  }

  /** Generic scoped conf override (save/set/restore) on the caller's
    * session — only safe single-threaded, since a concurrent query on the
    * same session observes the override. The fixpoint loops therefore do
    * not use it: they pin their confs on an isolated child session
    * ([[withIsolatedSession]] through [[loopEntry]]). */
  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally previous match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The one entry of the fixpoint loops (closureLong, nearDupClusters,
    * kCore and both PageRanks): runs `body` on an isolated child session
    * ([[withIsolatedSession]], with `confs`) and hands it the caller's
    * `input`. With a `width`, the loop runs at that width and `input` goes
    * in as it is. Otherwise `input` is checkpointed and counted first —
    * counting the caller's plan and then looping over it would execute
    * that plan twice — and the loop width is [[autoLoopPartitions]] of
    * the count. The entry checkpoint is retired when `body` returns or
    * fails, or earlier through [[LoopEntry.superseded]].
    *
    * The graph loops pass `spark.sql.adaptive.enabled=false`: a
    * checkpointed round's `LogicalRDD` only CAPTURES its physical
    * outputPartitioning when the plan is not wrapped in
    * `AdaptiveSparkPlan`, and that captured partitioning is what makes
    * the next round's state join exchange-free. Their plans are small and
    * fixed-shape — partial aggregation already absorbs key skew map-side
    * — so giving up AQE inside the loop saves one O(N) state shuffle per
    * round. */
  def loopEntry[T](spark: SparkSession, input: DataFrame,
      width: Option[Int], confs: (String, String)*)(
      body: LoopEntry => T): T =
    withIsolatedSession(spark, confs: _*) { (iso, rebind) =>
      width match {
        case Some(n) =>
          iso.conf.set(ShufflePartitions, n.toString)
          body(new LoopEntry(rebind(input), -1L, n))
        case None =>
          val ck = rebind(input).truncateLineage(eager = false)
          try {
            val rows = ck.count()
            val n = autoLoopPartitions(rows, sessionShuffleWidth(iso))
            iso.conf.set(ShufflePartitions, n.toString)
            body(new LoopEntry(ck, rows, n))
          } finally Lineage.retire(ck)
      }
    }

  /** A fixpoint loop's input as [[loopEntry]] hands it over: the entry
    * `frame`, its `rows` (-1 when the width was given) and the loop
    * `width`. */
  final class LoopEntry private[ConfScope] (val frame: DataFrame,
      val rows: Long, val width: Int) {
    /** Called once the loop's own frames hold everything read from the
      * entry checkpoint. In local mode the checkpoint is retired at once
      * (a lost block means a lost JVM anyway); in reliable mode its files
      * are the only recompute source of the loop's persisted frames after
      * an executor loss, so they stay until the loop ends. */
    def superseded(): Unit =
      if (!Lineage.isReliable(frame.sparkSession)) Lineage.retire(frame)
  }

  /** The two-width rule of the incremental loops (addEdges,
    * addToClusters): the loop iterates a DELTA-sized seed and is sized by
    * it, but the joins that build the seed and the caller's action on the
    * result touch the FULL existing relation — sizing those by a handful
    * of delta rows would run one reducer over all of it. `seed` is built,
    * checkpointed and counted at the width for `largeRows`; `loop` gets
    * the seed and its count and runs at the seed's width; the seed is
    * retired after it, and the large width is restored for the lazy
    * result. A given `width` pins both. */
  def withTwoWidths[T](iso: SparkSession, width: Option[Int],
      largeRows: Long)(seed: => DataFrame)(loop: (DataFrame, Long) => T): T = {
    val sessW = sessionShuffleWidth(iso)
    def sizeFor(rows: Long): Unit = iso.conf.set(ShufflePartitions,
      width.getOrElse(autoLoopPartitions(rows, sessW)).toString)
    sizeFor(largeRows)
    val s = seed.truncateLineage(eager = false)
    try {
      val n = s.count()
      sizeFor(n)
      val out = loop(s, n)
      sizeFor(largeRows)
      out
    } finally Lineage.retire(s)
  }

  /** Run an iterative fixpoint loop on an ISOLATED child session — same
    * SparkContext (shared executors, block manager, checkpoint dir),
    * fresh SQL-conf state — so a loop-scoped override like
    * `adaptive.enabled=false` can NEVER be observed by a concurrent
    * query on the caller's session (the shared-session caveat the
    * [[withConf]] call sites documented; a save/set/restore on a shared
    * conf is only safe single-threaded).
    *
    * `body` receives the child session and a `rebind` function that
    * hands a caller-session DataFrame across via a global temp view —
    * the supported cross-session plan hand-off: the view stores the
    * ANALYZED logical plan, so scan pushdown and column pruning survive
    * intact, no data movement happens. Views are dropped on exit; by
    * then every fixpoint loop has checkpointed its state into
    * LogicalRDDs that no longer reference them. The frame `body`
    * returns belongs to the child session (only conf resolution
    * differs; both sessions share one SparkContext), which also means
    * its final actions run under the loop's conf — the intended
    * behavior for a loop result. */
  def withIsolatedSession[T](spark: SparkSession,
      confs: (String, String)*)(
      body: (SparkSession, DataFrame => DataFrame) => T): T = {
    val iso = spark.newSession()
    // COPY the caller's explicitly-set runtime conf: a bare newSession()
    // starts from context defaults, silently dropping workload tuning
    // the caller applied at runtime (AQE skew thresholds, broadcast
    // limits, codegen knobs) — isolation means the loop's WRITES stay
    // private, not that the caller's READS stop applying. Entries that
    // are static/non-modifiable on a live session are skipped; fatal
    // errors (OOM, interrupt) must still propagate, so only NonFatal
    // is swallowed.
    spark.conf.getAll.foreach { case (k, v) =>
      try iso.conf.set(k, v) catch { case NonFatal(_) => () }
    }
    confs.foreach { case (k, v) => iso.conf.set(k, v) }
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    val rebind: DataFrame => DataFrame = df =>
      if (df.sparkSession eq iso) df
      else {
        val nm = "graft_iso_" +
          java.util.UUID.randomUUID().toString.replaceAll("-", "")
        df.createOrReplaceGlobalTempView(nm)
        views += nm
        iso.table(s"global_temp.$nm")
      }
    try body(iso, rebind)
    finally views.foreach { nm =>
      try spark.catalog.dropGlobalTempView(nm)
      catch { case NonFatal(_) => () }
    }
  }
}
