package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cell ranking the IVF probes ran before the native
  * [[IvfTopCells]] kernel, kept as its reference: a per-row score array
  * 2·q·c − ‖c‖² over the centroid table, `posexplode`, then a bounded
  * top-`nprobe` per id through the [[TopKByScore]] aggregate (score
  * desc, cell asc; null and NaN scores skipped). */
object AggregateCellRanking {

  /** (`id`, cells array<int> best first) for every id of `rows` whose
    * vector column `qv` produced a score array; rows sharing an id are
    * ranked together by the aggregate. */
  def cells(rows: DataFrame, id: String, qv: String,
      cents: Array[Array[Double]], cn: Array[Double],
      nprobe: Int): DataFrame = {
    val centsSeq: Seq[Seq[Double]] = cents.map(_.toSeq).toSeq
    val cnSeq: Seq[Double] = cn.toSeq
    rows.select(col(id).as("__id"),
        transform(typedLit(centsSeq), (c, i) =>
          GraftFunctions.vectorDot(c, col(qv)) * 2 -
            element_at(typedLit(cnSeq), i + 1)).as("scores"))
      .select(col("__id"), posexplode(col("scores")))
      .groupBy(col("__id"))
      .agg(GraftFunctions.topKByScore(col("col"), col("pos").cast("long"),
        nprobe).as("cells"))
      .select(col("__id").as(id), col("cells.id").cast("array<int>")
        .as("cells"))
  }
}
