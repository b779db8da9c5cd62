package graft.tools

/** Ad-hoc isolated query timing (not part of the driver contract):
  * `runMain graft.tools.ProbeQuery <queryName> [sfDir] [reps]` times one
  * SparkEntry query in a fresh JVM — the adjudication tool for bench
  * regressions flagged out of the shared 287-query run. */
object ProbeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProbeQuery <queryName> [sfDir] [reps]"))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.localSession("32")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    // optional formatted-plan dump (opt r17 evidence artifacts):
    // SPARK_GRAFT_PROBE_EXPLAIN=<file> writes explain("formatted") of the
    // query at the probed SF before timing
    sys.env.get("SPARK_GRAFT_PROBE_EXPLAIN").foreach { out =>
      val txt = fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), txt)
      System.err.println(s"explain written to $out")
    }
    // warmup at smoke scale (codegen + parquet footers), as Bench does
    try fn(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      println(f"PROBE $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
        s" rows=$n")
    }
    spark.stop()
  }
}
