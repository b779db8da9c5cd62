package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the Spark jobs and stages a block of driver code starts, with
  * one listener. Lives in `org.apache.spark` for the driver's listener
  * bus (private to Spark), which is drained before a recording is read.
  * [[of]], [[resultStageTasks]], [[perBatch]], [[perBatchWithPlans]],
  * a recording's files read and its stage table are views over one
  * [[record]]. */
object TestJobs {

  /** One job as it started: whether it ran under the recording's job
    * group, the (streaming query id, batch id) of the micro-batch that
    * ran it, its SQL execution, its stages, the task count of its result
    * (last) stage and the distinct operation scopes of that stage's RDDs
    * (a stream thread's jobs all share one call site, so the scopes are
    * what tells a schema inference from a sort or a write apart). */
  final case class Job(id: Int, grouped: Boolean,
      batch: Option[(String, Long)], execution: Option[Long],
      stageIds: Seq[Int], resultTasks: Int, scopes: String)

  /** One completed stage: wall (submission to completion), summed
    * executor run and CPU time (ms), shuffle read and write, input and
    * spilled bytes, tasks, and the first line of its name. */
  final case class Stage(id: Int, name: String, wallMs: Long, runMs: Long,
      cpuMs: Long, shuffleRead: Long, shuffleWrite: Long, input: Long,
      spill: Long, tasks: Int)

  /** The jobs a recording saw, in start order, with the stages they ran
    * and the physical plans of their SQL executions. */
  final class Recording private[TestJobs] (spark: SparkSession,
      val jobs: Seq[Job], allStages: Seq[Stage], allPlans: Map[Long, String]) {

    /** The jobs started under the recording's job group. */
    def grouped: Recording =
      new Recording(spark, jobs.filter(_.grouped), allStages, allPlans)

    /** The distinct SQL executions of the jobs, in first-job order. */
    def executions: Seq[Long] = jobs.flatMap(_.execution).distinct

    /** The physical plan description of each of [[executions]]. */
    def plans: Seq[String] = executions.flatMap(allPlans.get)

    /** The physical plan of `job`'s SQL execution ("" outside one, as for
      * a schema inference). */
    def planOf(job: Job): String =
      job.execution.flatMap(allPlans.get).getOrElse("")

    /** The files the scans of [[executions]] read: the sum of their
      * "number of files read" metrics. None once the session's status
      * store has dropped one of the executions (it keeps the last
      * `spark.sql.ui.retainedExecutions`). */
    def filesRead: Option[Long] = {
      val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.statusStore
      val execs = executions.map(id => store.execution(id))
      Option.when(execs.forall(_.nonEmpty))(execs.flatten.map { e =>
        val values = store.executionMetrics(e.executionId)
        // adaptive re-plans list a scan's metric once per plan version
        e.metrics.filter(_.name == "number of files read")
          .map(_.accumulatorId).distinct.flatMap(values.get)
          .map(_.replace(",", "").trim.toLong).sum
      }.sum)
    }

    /** The completed stages of the jobs, by stage id (skipped stages
      * never complete). */
    def stages: Seq[Stage] = {
      val ids = jobs.flatMap(_.stageIds).toSet
      allStages.filter(s => ids(s.id)).sortBy(_.id)
    }

    /** The jobs of each micro-batch, keyed by (streaming query id, batch
      * id) — the local properties Structured Streaming sets on the thread
      * that runs a batch. */
    def batches: Map[(String, Long), Recording] =
      jobs.flatMap(j => j.batch.map(_ -> j)).groupBy(_._1).map {
        case (k, js) =>
          k -> new Recording(spark, js.map(_._2), allStages, allPlans)
      }
  }

  private final class Recorder(group: String) extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val plans = new ConcurrentHashMap[Long, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val result = e.stageInfos.maxBy(_.stageId)
      jobs.add(Job(e.jobId,
        prop(SparkContext.SPARK_JOB_GROUP_ID).contains(group),
        prop("sql.streaming.queryId").zip(
          prop("streaming.sql.batchId").map(_.toLong)),
        prop("spark.sql.execution.id").flatMap(_.toLongOption),
        e.stageInfos.map(_.stageId), result.numTasks,
        result.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
          .mkString(" > ")))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'),
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.diskBytesSpilled, si.numTasks))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
  }

  /** Runs `body` under a fresh job group on this thread and records every
    * job started while it runs (on any thread) and the stages they ran. */
  def record(spark: SparkSession)(body: => Unit): Recording = {
    val sc = spark.sparkContext
    val group = s"test-jobs-${java.util.UUID.randomUUID()}"
    val recorder = new Recorder(group)
    sc.addSparkListener(recorder)
    sc.setJobGroup(group, "recorded jobs")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(recorder)
    }
    new Recording(spark, recorder.jobs.asScala.toSeq.sortBy(_.id),
      recorder.stages.asScala.toSeq, recorder.plans.asScala.toMap)
  }

  /** The number of jobs `body` started on this thread, with the physical
    * plan description of each SQL execution those jobs belong to. */
  def of(spark: SparkSession)(body: => Unit): (Int, Seq[String]) = {
    val r = record(spark)(body).grouped
    (r.jobs.size, r.plans)
  }

  /** For each job `body` started on this thread, in start order, the task
    * count of the job's result (last) stage. */
  def resultStageTasks(spark: SparkSession)(body: => Unit): Seq[Int] =
    record(spark)(body).grouped.jobs.map(_.resultTasks)

  /** Runs `body` (which runs streaming queries on their own threads) and
    * returns the jobs each micro-batch started, keyed by (streaming query
    * id, batch id), in start order, each labelled by its result stage's
    * operation scopes. */
  def perBatch(spark: SparkSession)(body: => Unit)
      : Map[(String, Long), Seq[String]] =
    perBatchWithPlans(spark)(body).map { case (k, v) => k -> v.map(_._1) }

  /** [[perBatch]] with each job's label paired with the physical plan
    * description of the SQL execution it belongs to ("" for a job that
    * runs outside one, such as a schema inference). */
  def perBatchWithPlans(spark: SparkSession)(body: => Unit)
      : Map[(String, Long), Seq[(String, String)]] =
    record(spark)(body).batches.map { case (k, r) =>
      k -> r.jobs.map(j => j.scopes -> r.planOf(j))
    }
}
