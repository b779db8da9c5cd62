package graft.ops

import graft.SparkSuite
import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Index maintenance without per-batch re-reads: the driver-side open of
  * a persisted root (its tables equal the Spark collects element for
  * element), the maintenance streams' carried view and its listing-stamp
  * invalidation, the per-batch job budgets, and the cell-parallel
  * one-file-per-cell writes. */
class IndexMaintenanceSpec extends SparkSuite {

  private val dims = 8

  private def vec(seed: Long): Seq[Float] =
    (0 until dims).map { i =>
      val h = ((seed * 2654435761L + i * 40503L) % 1000L + 1000L) % 1000L
      (h.toFloat - 500f) / 250f
    }

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  private val deltaSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType))))

  private def tmpDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"idxmaint_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def bits(t: (Array[Array[Double]], Array[Double]))
      : (Seq[Seq[Long]], Seq[Long]) =
    (t._1.map(_.map(java.lang.Double.doubleToLongBits).toSeq).toSeq,
      t._2.map(java.lang.Double.doubleToLongBits).toSeq)

  private def writeMeta(root: String, row: DataFrame): Unit =
    row.coalesce(1).write.mode("overwrite").parquet(root + "/meta")

  /** The Spark-side tables of the root at `root` (what a read-back
    * frames value collects) against its driver-side open. */
  private def assertIvfOpenExact(root: String, qs: Int): Unit = {
    val opened = Similarity.openRoot(spark, Similarity.IvfKind, root)
    assert(opened.quantScale === qs)
    assert(bits((opened.centTab, opened.cnTab)) === bits(
      Similarity.collectSeedTable(spark.read.parquet(root + "/centroids"),
        "cell", "cvec", qs)))
    val inferred =
      try spark.read.parquet(root + "/postings").columns.toSeq
        .filterNot(Set("cell", "corpus_id", "cvec", "cnorm"))
      catch { case _: org.apache.spark.sql.AnalysisException => Nil }
    assert(opened.payloadCols === inferred)
  }

  private def assertPqOpenExact(root: String, qs: Int): Unit = {
    val opened = Similarity.openRoot(spark, Similarity.PqKind, root)
    assert(opened.quantScale === qs)
    assert(bits((opened.centTab, opened.cnTab)) === bits(
      Similarity.collectSeedTable(spark.read.parquet(root + "/centroids"),
        "cell", "cvec", qs)))
    assert(opened.codebook === Similarity.collectCodebookFrame(
      spark.read.parquet(root + "/codebook"), qs))
    val inferred =
      try spark.read.parquet(root + "/codes").columns.toSeq
        .filterNot(Set("cell", "corpus_id", "codes", "e2", "nb2"))
      catch { case _: org.apache.spark.sql.AnalysisException => Nil }
    assert(opened.payloadCols === inferred)
  }

  test("the driver-side open equals the Spark collects element for " +
    "element: random float32 and double centroids, ±k.5 ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // float32: random values at scale 10⁴, written shuffled over 3 files
    val floatRoot = tmpDir("float")
    rnd.shuffle((0 until 40).map(c =>
        (c, Seq.fill(dims)((rnd.nextGaussian() * 2).toFloat))))
      .toDF("cell", "cvec").repartition(3)
      .write.parquet(floatRoot + "/centroids")
    writeMeta(floatRoot, Seq((10000, 4096))
      .toDF("quant_scale", "two_level_threshold"))
    assertIvfOpenExact(floatRoot, 10000)
    // double-typed cvec, and dyadic values whose x·qs lands exactly on
    // ±k.5 at qs = 2: HALF_UP rounds them away from zero (−2.5 → −3,
    // where Math.round would give −2)
    val ties = Seq(0.25, 0.75, -0.25, -0.75, -1.25, 1.25, 2.25, -2.25)
    val doubleRoot = tmpDir("double")
    ((0 until 12).map(c => (c, Seq.fill(dims)(rnd.nextGaussian() * 3))) ++
      (12 until 14).map(c => (c, ties)))
      .toDF("cell", "cvec").repartition(2)
      .write.parquet(doubleRoot + "/centroids")
    writeMeta(doubleRoot, Seq((2, 4096))
      .toDF("quant_scale", "two_level_threshold"))
    assertIvfOpenExact(doubleRoot, 2)
    val opened =
      Similarity.openRoot(spark, Similarity.IvfKind, doubleRoot)
    assert(opened.centTab(12).toSeq ===
      Seq(1.0, 2.0, -1.0, -2.0, -3.0, 3.0, 5.0, -5.0))
    // a PQ root with the same tie values in its centroids and codebook
    val pqRoot = tmpDir("pqties")
    ((0 until 6).map(c => (c, Seq.fill(dims)(
        (rnd.nextGaussian() * 2).toFloat))) :+
      ((6, ties.map(_.toFloat))))
      .toDF("cell", "cvec").write.parquet(pqRoot + "/centroids")
    rnd.shuffle((0 until 16).map(ci => (ci,
        if (ci % 5 == 0) ties.map(_.toFloat)
        else Seq.fill(dims)((rnd.nextGaussian() * 2).toFloat))))
      .toDF("ci", "cv").repartition(2).write.parquet(pqRoot + "/codebook")
    writeMeta(pqRoot, Seq((dims, 2, 2, 4096))
      .toDF("in_dims", "n_sub", "quant_scale", "two_level_threshold"))
    assertPqOpenExact(pqRoot, 2)
  }

  test("the driver-side open equals the Spark path on an empty index, a " +
    "pre-meta root and roots with payload columns") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    // empty corpus → empty centroids (and codebook) files
    val empty = tmpDir("empty")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus.limit(0),
      "vec_id", "embedding", seeds.limit(0), "sid", "svec"), empty + "/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus.limit(0),
      "vec_id", "embedding", seeds.limit(0), "sid", "svec",
      codebookIds = 0L until 16L, inDims = dims, nSub = 2), empty + "/pq")
    assertIvfOpenExact(empty + "/ivf", 10000)
    assertPqOpenExact(empty + "/pq", 10000)
    assert(Similarity.openRoot(spark, Similarity.IvfKind, empty + "/ivf")
      .centTab.isEmpty)
    // a pre-meta root reopens under the historical (10000, 4096)
    val preMeta = tmpDir("premeta")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), preMeta)
    new java.io.File(preMeta + "/meta").listFiles().foreach(_.delete())
    new java.io.File(preMeta + "/meta").delete()
    assertIvfOpenExact(preMeta, 10000)
    assert(Similarity.openRoot(spark, Similarity.IvfKind, preMeta)
      .twoLevelThreshold === 4096)
    // payload columns, in the order the inferring read reports them
    val withLang = corpus.withColumn("lang",
        when(col("vec_id") % 2 === 0, "en").otherwise("de"))
      .withColumn("src", col("vec_id") % 7)
    val payload = tmpDir("payload")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(withLang, "vec_id",
      "embedding", seeds, "sid", "svec", quantScale = 5000,
      payloadCols = Seq("lang", "src")), payload + "/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(withLang,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = 0L until 16L, inDims = dims, nSub = 2,
      payloadCols = Seq("lang", "src")), payload + "/pq")
    assertIvfOpenExact(payload + "/ivf", 5000)
    assertPqOpenExact(payload + "/pq", 10000)
    assert(Similarity.openRoot(spark, Similarity.IvfKind, payload + "/ivf")
      .payloadCols ===
      Seq("lang", "src"))
    // a root with no centroids at all is not an index: loud failure
    val ex = intercept[IllegalStateException] {
      Similarity.openRoot(spark, Similarity.IvfKind, tmpDir("nothing"))
    }
    assert(ex.getMessage.contains("not an index root"))
  }

  /** Write `parts` as single-file micro-batch inputs under `in`. */
  private def writeDeltas(in: String, parts: Seq[DataFrame]): Unit =
    parts.foreach(_.coalesce(1).write.mode("append").parquet(in))

  private def deltaStream(in: String): DataFrame =
    spark.readStream.schema(deltaSchema).option("maxFilesPerTrigger", "1")
      .parquet(in)

  private def pairs(df: DataFrame): Seq[(Int, Long)] =
    df.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted

  test("maintenance batches after the first run at most 3 jobs, " +
    "compacting ones at most 6 (IVF and PQ)") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val root = tmpDir("budget")
    val base = corpus.where(col("vec_id") < 120)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec"), root + "/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec", codebookIds = 0L until 16L,
      inDims = dims, nSub = 2), root + "/pq")
    writeDeltas(root + "/in", (0 until 4).map(m =>
      corpus.where(col("vec_id") >= 120 && pmod(col("vec_id"), lit(4)) === m)))
    for (pq <- Seq(false, true)) {
      val kind = if (pq) "pq" else "ivf"
      val jobs = TestJobs.perBatch(spark) {
        val q =
          if (pq) graft.streaming.Streams.pqIndexMaintenanceStream(
            deltaStream(root + "/in"), "vec_id", "embedding", root + "/pq",
            root + s"/chk-$kind", compactEvery = 2)
          else graft.streaming.Streams.indexMaintenanceStream(
            deltaStream(root + "/in"), "vec_id", "embedding", root + "/ivf",
            root + s"/chk-$kind", compactEvery = 2)
        q.awaitTermination()
      }
      val byBatch = jobs.map { case ((_, b), js) => b -> js.size }
      assert(byBatch.keySet === Set(0L, 1L, 2L, 3L), s"$kind: $jobs")
      // batch 0 opens the root (no job either); batches 1 and 3 compact
      assert(byBatch(2L) <= 3, s"$kind append batch: $byBatch")
      assert(byBatch(1L) <= 5 && byBatch(3L) <= 5,
        s"$kind compacting batches: $byBatch")
    }
    // the maintained indexes hold exactly a batch build over the union
    val ivfBuild = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec")
    assert(pairs(Similarity.readIvfIndex(spark, root + "/ivf").postings) ===
      pairs(ivfBuild.postings))
    val pqBuild = Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec", codebookIds = 0L until 16L, inDims = dims,
      nSub = 2)
    val pqCodes = (df: DataFrame) => df.select("cell", "corpus_id", "codes")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(pqCodes(Similarity.readIvfPqIndex(spark, root + "/pq").codes) ===
      pqCodes(pqBuild.codes))
  }

  test("a one-shot append scans neither centroids nor codebook") {
    import spark.implicits._
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val root = tmpDir("oneshot")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), root + "/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec", codebookIds = 0L until 16L,
      inDims = dims, nSub = 2), root + "/pq")
    val delta = (1000L until 1006L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    def readsTables(plans: Seq[String]): Boolean =
      plans.exists(p => p.contains("/centroids") || p.contains("/codebook"))
    val (ivfJobs, ivfPlans) = TestJobs.of(spark)(Similarity.appendToIvfIndex(
      spark, root + "/ivf", delta, "vec_id", "embedding"))
    assert(ivfJobs <= 3 && !readsTables(ivfPlans), s"$ivfJobs: $ivfPlans")
    val (pqJobs, pqPlans) = TestJobs.of(spark)(Similarity.appendToIvfPqIndex(
      spark, root + "/pq", delta, "vec_id", "embedding"))
    assert(pqJobs <= 3 && !readsTables(pqPlans), s"$pqJobs: $pqPlans")
    // the delta landed where a build puts it
    val want = pairs(Similarity.buildIvfIndex(corpus.unionAll(delta),
      "vec_id", "embedding", seeds, "sid", "svec").postings)
    assert(pairs(Similarity.readIvfIndex(spark, root + "/ivf").postings) ===
      want)
    assert(pairs(Similarity.readIvfPqIndex(spark, root + "/pq").codes) ===
      want)
  }

  test("a root rebuilt under other seeds between two batches of a running " +
    "stream: the next batch routes under the new centroids") {
    val root = tmpDir("stale")
    val (in, idx) = (root + "/in", root + "/ivf")
    def seedsOf(rows: DataFrame) =
      Similarity.hashSeeds(rows, "vec_id", "embedding", 8)
    val oldSeeds = seedsOf(corpus.where(col("vec_id") < 100))
    val newSeeds = seedsOf(corpus.where(col("vec_id") >= 100))
    val base = corpus.where(col("vec_id") < 150)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", oldSeeds, "sid", "svec"), idx)
    new java.io.File(in).mkdirs()
    val q = graft.streaming.Streams.indexMaintenanceStream(deltaStream(in),
      "vec_id", "embedding", idx, root + "/chk",
      trigger = Trigger.ProcessingTime(100))
    try {
      writeDeltas(in, Seq(corpus.where(col("vec_id").between(150, 174))))
      q.processAllAvailable()
      // another writer rebuilds the root under other seeds (a rebuild
      // also starts a new append history)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
        "embedding", newSeeds, "sid", "svec"), idx)
      writeDeltas(in, Seq(corpus.where(col("vec_id") >= 175)))
      q.processAllAvailable()
    } finally q.stop()
    val want = Similarity.buildIvfIndex(
      base.unionAll(corpus.where(col("vec_id") >= 175)), "vec_id",
      "embedding", newSeeds, "sid", "svec")
    val got = Similarity.readIvfIndex(spark, idx)
    assert(pairs(got.postings) === pairs(want.postings))
    val queries = corpus.where(col("vec_id") % 17 === 0)
    val probe = (i: Similarity.IvfIndexFrames) =>
      Similarity.probeIvfIndex(i, queries, "vec_id", "embedding", k = 5,
        nprobe = 2).select("query_id", "corpus_id", "rank").collect()
        .map(_.toSeq).toSeq.sortBy(_.mkString(","))
    assert(probe(got) === probe(want))
  }

  private def filesPerCell(dir: String): Map[String, Int] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  test("build, append and compaction leave one file per cell, and a " +
    "16-cell append writes its cells in parallel") {
    import spark.implicits._
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 16)
    val root = tmpDir("cells")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), root + "/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec", codebookIds = 0L until 16L,
      inDims = dims, nSub = 2), root + "/pq")
    for (sub <- Seq("ivf/postings", "pq/codes")) {
      val built = filesPerCell(s"$root/$sub")
      assert(built.size === 16 && built.values.forall(_ == 1), s"$sub $built")
    }
    // a delta touching every cell: one new file per cell
    val delta = corpus.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val ivfTasks = TestJobs.resultStageTasks(spark)(
      Similarity.appendToIvfIndex(spark, root + "/ivf", delta, "vec_id",
        "embedding"))
    assert(ivfTasks.last > 1, s"IVF append write stage tasks: $ivfTasks")
    val pqTasks = TestJobs.resultStageTasks(spark)(
      Similarity.appendToIvfPqIndex(spark, root + "/pq", delta, "vec_id",
        "embedding"))
    assert(pqTasks.last > 1, s"PQ append write stage tasks: $pqTasks")
    for (sub <- Seq("ivf/postings", "pq/codes")) {
      val appended = filesPerCell(s"$root/$sub")
      assert(appended.size === 16 && appended.values.forall(_ == 2),
        s"$sub $appended")
    }
    Similarity.compactIvfIndex(spark, root + "/ivf")
    Similarity.compactIvfPqIndex(spark, root + "/pq")
    for (sub <- Seq("ivf/postings", "pq/codes")) {
      val compacted = filesPerCell(s"$root/$sub")
      assert(compacted.size === 16 && compacted.values.forall(_ == 1),
        s"$sub $compacted")
    }
    assert(Similarity.readIvfIndex(spark, root + "/ivf").postings.count() ===
      400L)
    assert(Similarity.readIvfPqIndex(spark, root + "/pq").codes.count() ===
      400L)
  }
}
