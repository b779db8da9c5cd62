package graft.tools
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Ad-hoc per-stage profiling (not part of the driver contract):
  * `runMain graft.tools.ProbeStages <queryName> [sfDir] [reps]` runs one
  * SparkEntry query in a fresh JVM with a SparkListener attached and
  * prints, per stage: wall time, summed executor run/CPU time, shuffle
  * read/write bytes, spill, task count and the first line of the stage's
  * name/details — the empirical side of guide §1 (where does the time go)
  * without a UI. Stages are attributed to the LAST rep only (earlier reps
  * warm codegen/JIT exactly like Bench's warmup pass). */
object ProbeStages {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProbeStages <queryName> [sfDir] [reps]"))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    // warmup at smoke scale + reps-1 warm passes at the probed scale
    try fn(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    for (i <- 1 until reps) {
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      println(f"PROBE $name warm rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    case class St(name: String, wallMs: Long, runMs: Long, cpuMs: Long,
      shRead: Long, shWrite: Long, input: Long, spill: Long, tasks: Int)
    val stages = mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += St(si.name,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.diskBytesSpilled, si.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let listener drain
    println(f"PROBE $name measured: $wall%.3f s rows=$n  stages=${stages.size}")
    println(f"${"wall_ms"}%8s ${"run_ms"}%9s ${"cpu_ms"}%9s ${"sh_read"}%10s " +
      f"${"sh_write"}%10s ${"input"}%10s ${"spill"}%8s ${"tasks"}%5s  stage")
    stages.sortBy(-_.runMs).take(40).foreach { s =>
      println(f"${s.wallMs}%8d ${s.runMs}%9d ${s.cpuMs}%9d ${s.shRead}%10d " +
        f"${s.shWrite}%10d ${s.input}%10d ${s.spill}%8d ${s.tasks}%5d  " +
        s.name.takeWhile(_ != '\n').take(90))
    }
    val totRun = stages.map(_.runMs).sum
    val totCpu = stages.map(_.cpuMs).sum
    println(f"TOTALS run=${totRun}ms cpu=${totCpu}ms over ${stages.size} stages")
    spark.stop()
  }
}
