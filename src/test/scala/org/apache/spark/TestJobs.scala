package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block of driver code starts. Lives in
  * `org.apache.spark` for the driver's listener bus (private to Spark),
  * which is drained before the counts are read. */
object TestJobs {

  /** Runs `body` under a fresh job group on this thread and returns the
    * number of jobs it started, with the physical plan description of
    * each SQL execution those jobs belong to. */
  def of(spark: SparkSession)(body: => Unit): (Int, Seq[String]) = {
    val (n, plans, _) = withFiles(spark)(body)
    (n, plans)
  }

  /** [[of]] plus the files the scans of those SQL executions read: the
    * sum of their "number of files read" metrics. */
  def withFiles(spark: SparkSession)(body: => Unit)
      : (Int, Seq[String], Long) = {
    val sc = spark.sparkContext
    val group = s"test-jobs-${java.util.UUID.randomUUID()}"
    val execIds = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          execIds.add(String.valueOf(
            e.properties.getProperty("spark.sql.execution.id")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted jobs")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    val ids = execIds.asScala.toSeq
    val execs = ids.distinct.flatMap(_.toLongOption)
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    val files = execs.flatMap { id =>
      val values = store.executionMetrics(id)
      // adaptive re-plans list a scan's metric once per plan version
      store.execution(id).toSeq.flatMap(_.metrics)
        .filter(_.name == "number of files read").map(_.accumulatorId)
        .distinct.flatMap(values.get)
        .map(_.replace(",", "").trim.toLong)
    }.sum
    (ids.size, execs.flatMap(x => Option(plans.get(x))), files)
  }

  /** Runs `body` under a fresh job group on this thread and returns, for
    * each job it started in start order, the task count of the job's
    * result (last) stage. */
  def resultStageTasks(spark: SparkSession)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"test-tasks-${java.util.UUID.randomUUID()}"
    val tasks = new ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          tasks.add(e.jobId -> e.stageInfos.maxBy(_.stageId).numTasks)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted tasks")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    tasks.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** Runs `body` (which runs streaming queries on their own threads) and
    * returns the jobs each micro-batch started, keyed by (streaming query
    * id, batch id) — the local properties Structured Streaming sets on
    * the thread that runs a batch — in start order, each labelled by the
    * distinct operation scopes of its result stage's RDDs (a stream
    * thread's jobs all share one call site, so the scopes are what tells
    * a schema inference from a sort or a write apart). */
  def perBatch(spark: SparkSession)(body: => Unit)
      : Map[(String, Long), Seq[String]] =
    perBatchWithPlans(spark)(body).map { case (k, v) => k -> v.map(_._1) }

  /** [[perBatch]] with each job's label paired with the physical plan
    * description of the SQL execution it belongs to ("" for a job that
    * runs outside one, such as a schema inference). */
  def perBatchWithPlans(spark: SparkSession)(body: => Unit)
      : Map[(String, Long), Seq[(String, String)]] = {
    val sc = spark.sparkContext
    val jobs =
      new ConcurrentLinkedQueue[(Int, (String, Long), String, String)]()
    val plans = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null) {
          val q = e.properties.getProperty("sql.streaming.queryId")
          val b = e.properties.getProperty("streaming.sql.batchId")
          if (q != null && b != null)
            jobs.add((e.jobId, q -> b.toLong,
              e.stageInfos.maxBy(_.stageId).rddInfos.sortBy(_.id)
                .flatMap(_.scope.map(_.name)).distinct.mkString(" > "),
              String.valueOf(
                e.properties.getProperty("spark.sql.execution.id"))))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId.toString, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.sortBy(_._1).groupBy(_._2).map { case (k, v) =>
      k -> v.map(j => j._3 -> Option(plans.get(j._4)).getOrElse(""))
    }
  }
}
