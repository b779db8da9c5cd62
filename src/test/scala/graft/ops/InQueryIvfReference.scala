package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Lineage._
import graft.functions.GraftFunctions

/** The in-query IVF and IVF-PQ top-k written out as their own plans,
  * independently of the persisted index's build and probe: quantize in
  * the query, assign each corpus row with the native argmax kernel,
  * route each query row to its top cells, score and reduce to a bounded
  * top-k. The two-level variant derives its super-cells and member
  * tables here too. `Similarity`'s in-query entry points are checked
  * against these on float32 input, where both follow the same rounding.
  * Only the native kernels, the seed-table collect and
  * `widenForCompute` are shared. */
object InQueryIvfReference {

  private def quant(v: Column, quantScale: Int): Column =
    transform(v, x => round(x.cast("double") * quantScale))

  private def cosinePre(dotAB: Column, normA: Column, normB: Column): Column =
    when(normA * normB === 0, lit(0.0)).otherwise(dotAB / (normA * normB))

  private def norm(v: Column): Column = sqrt(GraftFunctions.vectorDot(v, v))

  private def topKReduce(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("score"), col("corpus_id"), k)
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("corpus_id"),
        col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))

  private def routeToCells(rows: DataFrame, qv: Column,
      centTab: Array[Array[Double]], cnTab: Array[Double],
      nprobe: Int): DataFrame =
    rows.withColumn("cell",
        explode(GraftFunctions.ivfTopCells(qv, centTab, cnTab, nprobe)))
      .where(col("cell") < centTab.length)

  /** Seeded IVF: exact flat assignment, cosine top-k over probed cells. */
  def ivfTopKSeeded(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      k: Int, nprobe: Int = 4, quantScale: Int = 10000): DataFrame = {
    val (centTab, cnTab) = Similarity.collectSeedTable(seeds, seedId,
      seedVec, quantScale)
    val assignCell: Column =
      if (centTab.isEmpty) lit(null).cast("int")
      else GraftFunctions.ivfArgmaxCell(col("__qn"), centTab, cnTab,
        null, null, null)
    val assigned = Similarity.widenForCompute(corpus)
      .select(col(corpusId).as("corpus_id"),
        col(corpusVec).as("cvec"), norm(col(corpusVec)).as("cnorm"),
        quant(col(corpusVec), quantScale).as("__qn"))
      .select(col("corpus_id"), col("cvec"), col("cnorm"),
        assignCell.as("cell"))
    val q0 = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qvec"), norm(col(queryVec)).as("qnorm"),
      quant(col(queryVec), quantScale).as("__qn"))
    val probes = routeToCells(q0, col("__qn"), centTab, cnTab, nprobe)
      .drop("__qn")
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("corpus_id"),
        cosinePre(GraftFunctions.vectorDot(col("cvec"), col("qvec")),
          col("cnorm"), col("qnorm")).as("score"))
    topKReduce(scored, k)
  }

  /** IVF-PQ with flat assignment over the given seeds. */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      codebookIds: Seq[Long], inDims: Int, nSub: Int, k: Int,
      nProbe: Int = 4, quantScale: Int = 10000): DataFrame = {
    val (centTab, cnTab) = Similarity.collectSeedTable(seeds, seedId,
      seedVec, quantScale)
    val assignCell: Column =
      if (centTab.isEmpty) lit(null).cast("int")
      else GraftFunctions.ivfArgmaxCell(col("qv"), centTab, cnTab,
        null, null, null)
    pqTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      codebookIds, inDims, nSub, k, nProbe, quantScale, centTab, cnTab,
      assignCell)
  }

  /** IVF-PQ over ⌈√N⌉ hash seeds with the corpus assigned through the
    * two-level route: ⌈√cells⌉ super-cells drawn by (md5("ivf2:" + cell),
    * cell), each centroid under its argmax super-cell, then argmax over
    * that super-cell's members. */
  def ivfPqTopKTwoLevel(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, codebookIds: Seq[Long], inDims: Int, nSub: Int,
      k: Int, numCells: Option[Int] = None, nProbe: Option[Int] = None,
      quantScale: Int = 10000): DataFrame = {
    val valid = corpus.select(col(corpusId).cast("long").as("__id"),
        col(corpusVec).as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) === inDims)
    val n = valid.count()
    val cells = numCells.getOrElse(Similarity.defaultIvfCells(n))
    val probe = nProbe.getOrElse(Similarity.defaultIvfProbes(cells))
    val cents: IndexedSeq[Seq[Double]] =
      Similarity.hashSeeds(valid, "__id", "__v", cells)
        .select(quant(col("svec"), quantScale).as("cv"))
        .collect().map(_.getSeq[Double](0)).toIndexedSeq
    val cn: IndexedSeq[Double] = cents.map(v => v.map(x => x * x).sum)
    val nCells = cents.size
    val superCount = math.max(1, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    def md5hex15(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15)
    val superIdx: IndexedSeq[Int] = (0 until nCells)
      .sortBy(ci => (md5hex15(s"ivf2:$ci"), ci)).take(superCount)
    def superOf(v: Seq[Double]): Int =
      (0 until superCount).maxBy { j =>
        val s = cents(superIdx(j))
        (2.0 * v.indices.map(i => v(i) * s(i)).sum - cn(superIdx(j)), -j)
      }
    val cellToSuper = cents.map(superOf)
    val memberCells: Array[Array[Int]] = Array.tabulate(superCount)(g =>
      (0 until nCells).filter(cellToSuper(_) == g).toArray)
    val centTab = cents.map(_.toArray).toArray
    val cnTab = cn.toArray
    pqTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      codebookIds, inDims, nSub, k, probe, quantScale, centTab, cnTab,
      GraftFunctions.ivfArgmaxCell(col("qv"), superIdx.map(centTab).toArray,
        superIdx.map(cnTab).toArray, memberCells, centTab, cnTab))
  }

  /** The PQ tail: codebook rows quantized from the corpus, each valid row
    * assigned by `assignCell` over its quantized `qv` and encoded to its
    * per-subspace nearest codes, ADC-scored against per-query LUTs in the
    * query's top cells. */
  private def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      codebookIds: Seq[Long], inDims: Int, nSub: Int, k: Int, nProbe: Int,
      quantScale: Int, centTab: Array[Array[Double]], cnTab: Array[Double],
      assignCell: Column): DataFrame = {
    val cb: Seq[Seq[Long]] = corpus
      .select(col(corpusId).cast("long").as("id"),
        transform(col(corpusVec),
          x => round(x.cast("double") * quantScale).cast("long")).as("qv"))
      .where(col("id").isin(codebookIds: _*) &&
        col("qv").isNotNull && size(col("qv")) === inDims)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      .sortBy(_._1).map(_._2).toSeq
    val subLen = inDims / nSub
    val cbBlock: Array[Array[Array[Double]]] = (0 until nSub).map { s =>
      cb.map(cv => (s * subLen until (s + 1) * subLen)
        .map(i => cv(i).toDouble).toArray).toArray
    }.toArray
    val csq = cbBlock.map(_.map(b => b.map(x => x * x).sum))
    val coded = Similarity.widenForCompute(corpus)
      .select(col(corpusId).cast("long").as("corpus_id"),
        quant(col(corpusVec), quantScale).as("qv"))
      .where(col("qv").isNotNull && size(col("qv")) === inDims)
      .select(col("corpus_id"), col("qv"), assignCell.as("cell"))
      .select(col("corpus_id"), col("cell"),
        GraftFunctions.pqEncodeWithErr(col("qv"), cbBlock, csq)
          .getField("codes").as("codes"))
      .truncateLineage(eager = false)
    val q0 = queries.select(col(queryId).cast("long").as("query_id"),
        quant(col(queryVec), quantScale).as("qv"))
      .where(col("qv").isNotNull && size(col("qv")) === inDims)
    val probes = routeToCells(
      q0.select(col("query_id"), col("qv"),
        GraftFunctions.pqQueryLut(col("qv"), cbBlock, csq).as("lut")),
      col("qv"), centTab, cnTab, nProbe).drop("qv")
    val approxD2 = (0 until nSub).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val scored = coded.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("corpus_id"), (-approxD2).as("score"))
    topKReduce(scored, k)
      .select(col("query_id"), col("corpus_id"),
        (-col("score")).cast("long").as("approx_d2"),
        col("rank").cast("long").as("rank"))
  }
}
