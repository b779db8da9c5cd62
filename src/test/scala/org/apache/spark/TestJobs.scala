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
    (ids.size, ids.distinct.flatMap(id =>
      id.toLongOption.flatMap(x => Option(plans.get(x)))))
  }
}
