package graft

/** t1 smoke surface: runs the flagship entry() flow (driver checks rows>0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = localSession("4")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
