package org.apache.spark

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The one recording behind every job and stage count the specs and the
  * evidence tool read. */
class TestJobsSpec extends SparkSuite {

  test("a 4-partition global count: two stages, the map side writes " +
    "the shuffle the result side reads, one task per partition") {
    val r = TestJobs.record(spark)(
      spark.range(0, 1000, 1, 4).groupBy().count().collect()).grouped
    val stages = r.stages
    assert(stages.map(_.tasks) === Seq(4, 1), stages)
    assert(stages.head.shuffleWrite > 0 && stages.head.shuffleRead === 0)
    assert(stages(1).shuffleRead > 0 && stages(1).shuffleWrite === 0)
    assert(stages.forall(s => s.wallMs >= 0 && s.runMs >= 0))
    assert(r.jobs.map(_.resultTasks).last === 1)
    assert(r.executions.size === 1 && r.plans.size === 1)
  }

  test("a job started on another thread outside the group is not " +
    "counted") {
    // a thread inherits its creator's job group when it is constructed,
    // so this one is built before the recording starts
    val outside = new Thread(() => {
      spark.range(0, 10).collect()
      ()
    })
    val r = TestJobs.record(spark) {
      outside.start()
      outside.join()
      spark.range(0, 10, 1, 2).collect()
    }
    assert(r.jobs.size === 2)
    assert(r.grouped.jobs.size === 1)
    assert(r.grouped.jobs.head.resultTasks === 2)
    assert(TestJobs.of(spark) {
      val t = new Thread(() => { spark.range(0, 10).collect(); () })
      t.start(); t.join()
    }._1 === 1, "a thread built inside the group runs in it")
  }

  test("perBatch keys the jobs by micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("test_jobs").toString
    (0 until 2).foreach(i => spark.range(i * 10, i * 10 + 10)
      .coalesce(1).write.mode("append").parquet(s"$dir/in"))
    val jobs = TestJobs.perBatch(spark) {
      spark.readStream.schema("id LONG").option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.agg(sum(col("id"))).collect()
          ()
        }.start().awaitTermination()
    }
    assert(jobs.keySet.map(_._2) === Set(0L, 1L), jobs)
    assert(jobs.keySet.map(_._1).size === 1)
    assert(jobs.values.forall(_.nonEmpty), jobs)
  }
}
