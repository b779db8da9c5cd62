package graft

/** Robustness sweep: every SparkEntry query must COMPLETE on zero-row
  * inputs (returning an empty — or legitimately constant — result), not
  * throw. Empty partitions are routine at 100 TB (a fresh ingestion hour,
  * a filter that matches nothing, a backfill gap); ANSI mode makes this a
  * real failure class (element_at on empty arrays, head() on empty
  * frames, aggregates returning null into non-null arithmetic), and no
  * oracle query exercises it because the fixtures are never empty.
  */
class EmptyInputSpec extends SparkSuite {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-empty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every query completes on empty tables") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).count(); None }
        catch { case e: Throwable =>
          Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
    assert(failures.isEmpty,
      failures.map { case (n, e) => s"\n  $n -> $e" }.mkString)
  }

  test("the capped ANN pair route over an empty quantizer returns an " +
      "empty frame, also when its literal frame is two stacked " +
      "projections") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val e = spark.read.parquet(s"$emptyDir/embeddings.parquet")
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding",
      Similarity.hashSeeds(e, "vec_id", "embedding", 4), "sid", "svec")
    assert(Similarity.annNearDupPairs(idx, e, "vec_id", "embedding",
      thresholdPpm = 200000L, maxPairsPerNew = 2).count() === 0L)
    val scored = e.limit(0)
      .select(col("vec_id").cast("long").as("id_new"),
        lit(0L).as("id_existing"))
      .select(col("id_new"), col("id_existing"), lit(0.0).as("dotq"),
        lit(0.0).as("nq2"), lit(0.0).as("nb2"))
    assert(Similarity.pairsFromScored(scored, maxPairsPerNew = 2)
      .count() === 0L)
  }
}
