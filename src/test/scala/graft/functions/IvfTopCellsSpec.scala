package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ivf_top_cells` against the ranking it replaced ([[AggregateCellRanking]]:
  * posexplode + `topk_by_score(score, pos, nprobe)` per row), through
  * both the generated code and the interpreted row kernel. */
class IvfTopCellsSpec extends SparkSuite {

  private val rnd = new scala.util.Random(20261017)
  private val dims = 6

  /** Small quantized integers, so random rows tie often. */
  private def qvec(n: Int = dims): Array[Double] =
    Array.fill(n)((rnd.nextInt(7) - 3).toDouble)

  private def norms(cents: Array[Array[Double]]): Array[Double] =
    cents.map(_.map(x => x * x).sum)

  // 9 cells; cell 6 repeats cell 2, so the pair ties on every row
  private val flat: Array[Array[Double]] = {
    val c = Array.fill(9)(qvec())
    c(6) = c(2).clone()
    c
  }
  // the same table with a 5-dim centroid at cell 3: rows of 6 dims skip
  // it, rows of 5 dims can only reach it
  private val mixed: Array[Array[Double]] =
    (flat.take(3) :+ qvec(5)) ++ flat.drop(3)

  private val rows: Seq[(Long, Array[Any])] = {
    val random = (0L until 40L).map(i => i -> qvec().map(x => x: Any))
    val special: Seq[Array[Any]] = Seq(
      Array.fill[Any](dims)(0.0), // every score is −‖c‖²: norm ties
      null, // null vector
      Array[Any](1.0, null, 2.0, 0.0, -1.0, 3.0), // null element
      Array[Any](1.0, Double.NaN, 2.0, 0.0, -1.0, 3.0), // NaN element
      Array[Any](Double.PositiveInfinity, 0.0, 1.0, 0.0, 0.0, 0.0),
      qvec(5).map(x => x: Any)) // shorter than every 6-dim centroid
    random ++ special.zipWithIndex.map { case (v, j) => (100L + j) -> v }
  }

  private lazy val frame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (id, v) =>
      Row(id, if (v == null) null else v.toSeq)
    }, 3),
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("qn", ArrayType(DoubleType, containsNull = true)))))

  private def reference(cents: Array[Array[Double]], nprobe: Int)
      : Map[Long, Seq[Int]] =
    AggregateCellRanking.cells(frame, "id", "qn", cents, norms(cents), nprobe)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  private def viaCodegen(cents: Array[Array[Double]], nprobe: Int)
      : Map[Long, Seq[Int]] =
    frame.select(col("id"),
        GraftFunctions.ivfTopCells(col("qn"), cents, norms(cents), nprobe))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Seq.empty[Int] else r.getSeq[Int](1))).toMap

  private def viaInterpreted(cents: Array[Array[Double]], nprobe: Int)
      : Map[Long, Seq[Int]] = {
    val e = IvfTopCells(BoundReference(0, ArrayType(DoubleType), true),
      cents, norms(cents), nprobe)
    rows.map { case (id, v) =>
      val out = e.eval(InternalRow(
        if (v == null) null else new GenericArrayData(v)))
      id -> (if (out == null) Seq.empty[Int]
        else out.asInstanceOf[GenericArrayData].toIntArray().toSeq)
    }.toMap
  }

  for ((name, cents) <- Seq("flat" -> flat, "mixed dims" -> mixed);
       nprobe <- Seq(1, 2, cents.length, cents.length + 3)) {
    test(s"ivf_top_cells == posexplode + topk_by_score ($name table, " +
      s"nprobe $nprobe)") {
      val want = reference(cents, nprobe)
      // ids the reference never grouped (no score rows) route nowhere
      val wantAll = rows.map { case (id, _) =>
        id -> want.getOrElse(id, Seq.empty[Int]) }.toMap
      assert(viaCodegen(cents, nprobe) === wantAll)
      assert(viaInterpreted(cents, nprobe) === wantAll)
      // the fixture really exercises ties, skips and the short row
      assert(wantAll(101L).isEmpty && wantAll(102L).isEmpty &&
        wantAll(103L).isEmpty)
      assert(wantAll(105L) === (if (cents eq mixed) Seq(3) else Nil))
      assert(wantAll(0L).size === math.min(nprobe, flat.length))
    }
  }

  test("the duplicated centroid ties on every row and the lower cell " +
    "ranks first") {
    val got = viaCodegen(flat, flat.length)
    (0L until 40L).foreach { id =>
      val order = got(id)
      assert(order.size === flat.length)
      assert(order.indexOf(2) < order.indexOf(6), s"row $id ranked $order")
    }
  }

  test("nprobe must be at least 1") {
    intercept[IllegalArgumentException] {
      GraftFunctions.ivfTopCells(col("qn"), flat, norms(flat), 0)
    }
  }
}
