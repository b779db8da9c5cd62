package graft.ops

import org.apache.spark.TestJobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** [[RunningSums]] against a plain sorted fold on the driver: random
  * groups, block ids with holes, repartitioned input and several
  * measures, plus the edge cases its callers lean on. */
class RunningSumsSpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(0x5EEDL + i)))

  /** (id, group, block, order, m1, m2): ids unique, blocks drawn from a
    * sparse set with negative ids, orders with ties (the id breaks them). */
  private val tables: Gen[List[(Long, String, Long, Long, Long, Int)]] =
    Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, Gen.zip(
      Gen.oneOf("a", "b", "c", "d"), Gen.oneOf(-7L, -1L, 0L, 3L, 64L, 1000L),
      Gen.choose(-5L, 20L), Gen.choose(-1000000L, 1000000L),
      Gen.choose(0, 9))))
      .map(_.zipWithIndex.map { case ((g, b, o, m1, m2), i) =>
        (i.toLong, g, b, o, m1, m2) })

  /** Per id, the inclusive sums of (m1, m2, 1) in (block, order, id) order
    * within each group (all rows one group when `grouped` is false). */
  private def reference(rows: Seq[(Long, String, Long, Long, Long, Int)],
      grouped: Boolean): Map[Long, (Long, Long, Long)] =
    rows.groupBy(r => if (grouped) r._2 else "").values.flatMap { g =>
      g.sortBy(r => (r._3, r._4, r._1)).scanLeft((0L, 0L, 0L, -1L)) {
        case ((a, b, c, _), r) => (a + r._5, b + r._6, c + 1, r._1)
      }.tail.map { case (a, b, c, id) => id -> (a, b, c) }
    }.toMap

  private def sumsOf(df: DataFrame, groups: Seq[String]) =
    RunningSums(df, groups.map(col), col("block"),
      Seq(col("o"), col("id")),
      Seq("s1" -> col("m1"), "s2" -> col("m2"), "n" -> lit(1L)))

  test("property: running sums and totals equal a sorted fold, with and " +
      "without groups, on repartitioned input") {
    samples(tables, 12).foreach { rows =>
      val df = rows.toDF("id", "g", "block", "o", "m1", "m2").repartition(7)
      Seq(Seq("g"), Nil).foreach { groups =>
        val sums = sumsOf(df, groups).get
        val got = sums.rows.select(col("id"), col("s1"), col("s2"), col("n"))
          .as[(Long, Long, Long, Long)].collect()
          .map { case (id, a, b, c) => id -> (a, b, c) }.toMap
        assert(got === reference(rows, groups.nonEmpty), s"rows=$rows")
        val expect = rows.groupBy(r => if (groups.isEmpty) Row.empty
          else Row(r._2)).map { case (k, rs) =>
          k -> Row(rs.map(_._5).sum, rs.map(_._6.toLong).sum, rs.size.toLong)
        }
        assert(sums.totals === expect)
        val perRow = sums.rows.select(col("g"), sums.groupTotal("s1"))
          .distinct().as[(String, Long)].collect().toMap
        rows.foreach { r =>
          val k = if (groups.isEmpty) Row.empty else Row(r._2)
          assert(perRow(r._2) === expect(k).getLong(0))
        }
        if (groups.isEmpty) assert(sums.total("n") === rows.size)
      }
    }
  }

  test("no rows gives None") {
    val empty = Seq.empty[(Long, String, Long, Long, Long, Int)]
      .toDF("id", "g", "block", "o", "m1", "m2")
    assert(sumsOf(empty, Seq("g")).isEmpty)
    assert(sumsOf(empty, Nil).isEmpty)
  }

  test("a negated block with a descending order gives the descending " +
      "sweep") {
    val rows = (1 to 50).map(i => (i.toLong, (i * 37) % 11, i % 4))
    val df = rows.toDF("v", "c", "block").repartition(3)
    val got = RunningSums(df, Nil, -col("block"), Seq(col("v").desc),
        Seq("suffix" -> col("c"))).get.rows
      .select(col("v"), col("suffix")).as[(Long, Long)].collect().toMap
    // the sweep visits blocks high to low, each in descending v
    val order = rows.sortBy(r => (-r._3, -r._1))
    val expect = order.scanLeft(0L)(_ + _._2).tail
      .zip(order).map { case (s, r) => r._1 -> s }.toMap
    assert(got === expect)
  }

  test("a decimal measure sums exactly past Long.MaxValue, with decimal " +
      "offsets") {
    val big = 4000000000000000000L
    val df = Seq((1L, 0, big), (2L, 0, big), (3L, 1, big), (4L, 2, 7L))
      .toDF("id", "block", "m")
    val sums = RunningSums(df, Nil, col("block"), Seq(col("id")),
      Seq("cum" -> col("m").cast("decimal(38,0)"))).get
    assert(sums.total("cum") === BigInt(big) * 3 + 7)
    assert(sums.rows.schema("cum").dataType.typeName === "decimal(38,0)")
    val got = sums.rows.select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
    assert(got === Map(1L -> BigInt(big), 2L -> BigInt(big) * 2,
      3L -> BigInt(big) * 3, 4L -> (BigInt(big) * 3 + 7)))
  }

  test("a unique order gives the same values as row_number") {
    val df = (1 to 80).map(i => (s"g${i % 3}", (i * 53L) % 101, i % 5))
      .toDF("g", "o", "block").repartition(5)
    val got = RunningSums(df, Seq(col("g")), col("block"),
        Seq(col("o")), Seq("rn" -> lit(1L))).get.rows
      .select(col("g"), col("o"), col("rn"))
    val rowNumber = df.select(col("g"), col("o"), row_number().over(
        Window.partitionBy(col("g")).orderBy(col("block"), col("o")))
      .cast("long").as("rn"))
    assert(got.exceptAll(rowNumber).isEmpty &&
      rowNumber.exceptAll(got).isEmpty)
  }

  test("one subtotal collect: building the sums runs the jobs of one " +
      "groupBy collect, in one SQL execution") {
    val df = (1 to 40).map(i => (i.toLong, i % 3)).toDF("v", "block")
      .localCheckpoint()
    val build = TestJobs.record(spark)(RunningSums(df, Nil, col("block"),
      Seq(col("v")), Seq("cum" -> col("v")))).grouped
    val plain = TestJobs.record(spark)(
      df.groupBy(col("block")).agg(sum(col("v"))).collect()).grouped
    assert(build.executions.size === 1)
    assert(build.jobs.size === plain.jobs.size)
  }
}
