package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for the iterative operator family (transitive
  * closure, PageRank, connected components, BFS, semi-naive deltas, …)
  * with a cluster-grade fault-tolerance switch.
  *
  * Every fixpoint loop in this library truncates its growing lineage once
  * per round — otherwise round k re-executes rounds 1..k-1 and the job is
  * quadratic in round count. `Dataset.localCheckpoint()` does that with
  * zero external storage, but the blocks live on executor-local disk/
  * memory: on a REAL cluster, losing one executor mid-job discards blocks
  * that have no lineage to recompute from, and the whole job dies. That
  * is fine at local[32] (one JVM — if it dies, everything dies anyway)
  * and wrong at 1000 executors on a 100 TB run.
  *
  * Setting `graft.checkpoint.dir` (session conf) switches every loop in
  * the library to RELIABLE `Dataset.checkpoint()` into that directory
  * (HDFS/S3/any Hadoop FS): blocks survive executor loss and the job
  * continues. Unset (the default), behavior is unchanged
  * (`localCheckpoint`). One shared implementation so the policy cannot
  * drift between call sites.
  *
  * Storage hygiene (the r10 advice's "unbounded checkpoint growth"):
  * every per-round loop in this library runs on one round driver,
  * [[Lineage.fixpoint]], which retires the superseded round's frame via
  * [[Lineage.retire]] as soon as the next round has materialized —
  * deleting its reliable checkpoint files and dropping its
  * localCheckpoint blocks — so a long fixpoint job holds O(1)
  * round-states on storage, not O(rounds) (the PeriodicCheckpointer
  * pattern), and releases every round it holds when it fails. The LAST
  * round's checkpoint intentionally survives (the caller consumes it);
  * on a cluster, set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` in the
  * SparkConf so the ContextCleaner removes those final files once the
  * result frame is garbage-collected.
  *
  * Both forms preserve the physical `outputPartitioning` of the child
  * plan (Spark captures it into the `LogicalRDD`), so co-partitioned
  * iterative joins (e.g. PageRank state partitioned by node against the
  * src-partitioned edge list) keep their exchange-free shape across
  * rounds under either mode.
  */
object Lineage {

  /** Session conf key: when set to a non-empty path, [[truncateLineage]]
    * uses reliable `checkpoint()` into it instead of `localCheckpoint()`. */
  val CheckpointDirKey = "graft.checkpoint.dir"

  // `SparkContext.setCheckpointDir` stores a scheme-qualified path with a
  // fresh random UUID subdirectory, so reading it back NEVER equals the
  // conf value (the r10 advice's dead guard — the old `getCheckpointDir
  // .contains(dir)` test always failed, re-running the FS mkdirs RPC and
  // scattering every checkpoint into its own UUID subdir). Track what WE
  // configured, one entry per (application, dir), so the RPC runs once
  // and all checkpoints of a run land under one subdirectory.
  private val configuredDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  implicit final class DataFrameLineageOps(private val df: DataFrame)
      extends AnyVal {
    /** Truncate lineage: reliable `checkpoint()` when
      * `graft.checkpoint.dir` is set, `localCheckpoint(eager)` otherwise.
      *
      * `eager = false` (local mode) defers materialization so the
      * checkpoint fuses with the next action instead of costing its own
      * job. In RELIABLE mode the request is intentionally promoted to
      * eager-with-cache: a reliable checkpoint writes its files in a
      * second job after the materializing action, and without a cache
      * that job recomputes the whole round plan (the standard 2x-compute
      * caveat). persist → checkpoint → unpersist makes the write job read
      * cached blocks instead — one cheap extra job versus a full-plan
      * recompute. */
    def truncateLineage(eager: Boolean = true): DataFrame = {
      val spark = df.sparkSession
      val dir = try spark.conf.get(CheckpointDirKey, "")
        catch { case _: Throwable => "" }
      val out =
        if (dir.isEmpty) df.localCheckpoint(eager)
        else {
          val sc = spark.sparkContext
          if (configuredDirs.add(sc.applicationId + " " + dir))
            sc.setCheckpointDir(dir)
          val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
          try cached.checkpoint(eager = true)
          finally cached.unpersist(blocking = false)
        }
      registerInScope(out)
      out
    }
  }

  /** True when [[truncateLineage]] writes RELIABLE checkpoints on this
    * session (`graft.checkpoint.dir` set). The fixpoint loops use this to
    * DEFER retiring their input-edge checkpoint until the loop completes:
    * in reliable mode the checkpoint files are the only recompute source
    * for the loop's persisted edge partitions after an executor loss, so
    * deleting them mid-loop would defeat the fault-tolerance mode this
    * switch exists for. In local mode (single JVM) a lost block means a
    * dead JVM anyway, so the early retire is safe and keeps block
    * pressure O(1). */
  def isReliable(spark: org.apache.spark.sql.SparkSession): Boolean =
    (try spark.conf.get(CheckpointDirKey, "")
     catch { case _: Throwable => "" }).nonEmpty

  /** Best-effort release of a SUPERSEDED checkpointed frame produced by
    * [[DataFrameLineageOps.truncateLineage]]: drops its localCheckpoint
    * blocks from executor storage and deletes its reliable checkpoint
    * files from the checkpoint FS.
    *
    * Call ONLY once the frame can no longer be read — i.e. the round that
    * consumed it has materialized its own checkpoint. The fixpoint loops
    * call this on round k's state right after round k+1's count/action
    * lands, so a long iterative job keeps O(1) round-states alive instead
    * of accumulating one per round (executor block pressure in local
    * mode; unbounded HDFS/S3 growth in reliable mode). Errors are
    * swallowed: cleanup must never fail the job. */
  def retire(df: DataFrame): Unit =
    try {
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          retireRdd(df.sparkSession, l)
        case _ => ()
      }
    } catch { case _: Throwable => () }

  /** The one round driver of the fixpoint family (transitive closure,
    * near-dup clustering, DAG depth, k-core peeling, PageRank): from the
    * checkpointed round 0 `start`, round k+1 is `step` of round k,
    * checkpointed — lazily when it is measured, so the measuring job is
    * the one that materializes it, eagerly otherwise. Round k is retired
    * once round k+1 has materialized. With a `measure` (round 0's value
    * and the function taking one scalar job, a count or a sum), the loop
    * stops when the measure repeats and throws IllegalStateException
    * with `failure` if that has not happened within `rounds` rounds — a
    * truncated fixpoint is silently wrong data. Without one it runs
    * exactly `rounds` rounds. The driver owns `start` and every round;
    * on failure it retires all it still holds. The `releasing` frames —
    * checkpoints and persisted frames only the rounds read — are
    * released when the loop ends, whatever the exit. */
  private[graft] def fixpoint[M](start: DataFrame, rounds: Int,
      measure: Option[(M, DataFrame => M)], failure: => String = "",
      releasing: Seq[DataFrame] = Nil)(
      step: DataFrame => DataFrame): DataFrame = {
    var current = start
    var next: DataFrame = null
    var last = measure.map(_._1)
    var settled = false
    var round = 0
    try {
      while (!settled && round < rounds) {
        next = step(current).truncateLineage(eager = measure.isEmpty)
        val m = measure.map(_._2(next))
        retire(current)
        current = next
        next = null
        settled = m.isDefined && m == last
        last = m
        round += 1
      }
      if (measure.isDefined && !settled)
        throw new IllegalStateException(failure)
      current
    } catch {
      case e: Throwable =>
        retire(current)
        if (next != null) retire(next)
        throw e
    } finally releasing.foreach { df =>
      retire(df)
      try df.unpersist() catch { case _: Throwable => () }
    }
  }

  private def retireRdd(spark: org.apache.spark.sql.SparkSession,
      l: org.apache.spark.sql.execution.LogicalRDD): Unit =
    releaseRdd(spark, l.rdd)

  /** Checkpoint-block OWNERSHIP contract for one-shot operators (r13
    * directive #2). The iterative loops retire their superseded rounds
    * themselves, but a one-shot operator whose RESULT plan reads a
    * lazily-checkpointed frame (e.g. [[graft.ops.Graphs.twoHopReach]]'s
    * symmetrized edge frame, the banding family's per-round bucket-size
    * frames, the blocked-rank kernels' per-block subtotals) cannot
    * retire it before returning — the result depends on those blocks.
    * The contract: those blocks belong to the RESULT; a caller invoking
    * such operators repeatedly on a long-lived session calls
    * [[retireDependents]] (or wraps the call in [[scoped]]) once its
    * terminal action on the result completes, releasing every
    * checkpoint-backed leaf the result plan still references. Walks the
    * analyzed plan (subqueries included), so nested one-shot
    * compositions release all their frames in one call. Idempotent;
    * errors swallowed (cleanup must never fail the job). */
  def retireDependents(df: DataFrame): Unit =
    try {
      val root = df.queryExecution.analyzed
      (root +: root.subqueriesAll).foreach { p =>
        p.foreachUp {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            retireRdd(df.sparkSession, l)
          case _ => ()
        }
      }
    } catch { case _: Throwable => () }

  // ---- scope registry -------------------------------------------------
  // [[retireDependents]] releases the checkpoint leaves still VISIBLE in
  // the result's analyzed plan, but an operator may stack checkpoints
  // (frame B checkpointed over frame A's blocks): once B materializes,
  // A's RDD is lineage-truncated out of every reachable plan and only
  // the ContextCleaner's GC-driven weak-ref sweep would ever release it.
  // The scope registry makes that deterministic: every frame
  // [[DataFrameLineageOps.truncateLineage]] creates ON THIS THREAD while
  // a [[scoped]] block is active is recorded and released on scope exit.
  // Thread-local because operator plan-building is single-threaded by
  // construction here; frames built by other threads (streams) are
  // intentionally not captured.
  private val currentScope = new ThreadLocal[
    scala.collection.mutable.ArrayBuffer[
      (org.apache.spark.sql.SparkSession, org.apache.spark.rdd.RDD[_])]]()

  private def registerInScope(df: DataFrame): Unit = {
    val buf = currentScope.get()
    if (buf != null) {
      try {
        df.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            buf += ((df.sparkSession, l.rdd))
          case _ => ()
        }
      } catch { case _: Throwable => () }
    }
  }

  private def releaseRdd(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[_]): Unit =
    try {
      rdd.getCheckpointFile.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(path, true)
      }
      rdd.unpersist(blocking = false)
    } catch { case _: Throwable => () }

  /** Scoped form of the ownership contract: `build` constructs the
    * operator result, `use` runs the caller's terminal action(s) on it;
    * on exit — success or failure — EVERY checkpoint this library
    * created on the calling thread inside the scope is released
    * (unpersist + reliable-file delete), including checkpoints stacked
    * behind the result plan that [[retireDependents]] cannot see.
    * Re-releasing a frame a loop already retired is a no-op. The frame
    * must not escape `use`; scopes nest (inner frames release at the
    * inner exit).
    *
    * {{{
    * Lineage.scoped(Graphs.twoHopReach(edges, k = 32)) { r =>
    *   r.write.parquet(out) // terminal action; blocks released after
    * }
    * }}} */
  def scoped[A](build: => DataFrame)(use: DataFrame => A): A = {
    val prev = currentScope.get()
    val buf = scala.collection.mutable.ArrayBuffer.empty[
      (org.apache.spark.sql.SparkSession, org.apache.spark.rdd.RDD[_])]
    currentScope.set(buf)
    try {
      val df = build
      try use(df)
      finally {
        buf.foreach { case (s, r) => releaseRdd(s, r) }
        retireDependents(df)
      }
    } finally {
      if (prev == null) currentScope.remove() else currentScope.set(prev)
    }
  }
}
