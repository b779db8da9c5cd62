package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, MapType}

/** A blocked running sum: `rows` with one inclusive running sum per
  * measure, each under the measure's name, and each group's measure
  * totals (`totals`: group values → one total per measure, a long for an
  * integral measure and a decimal for a decimal one). */
private[graft] final class RunningSums private (val rows: DataFrame,
    groups: Seq[Column], names: Seq[String], types: Seq[DataType],
    val totals: Map[Row, Row]) {

  /** The total of measure `name` over all rows of a sum without groups. */
  def total(name: String): BigInt = {
    require(groups.isEmpty, "total(name) is for sums without groups")
    RunningSums.decimal(totals(Row.empty).get(names.indexOf(name))).toBigInt
  }

  /** Each row's group total of measure `name`, of the measure's sum type. */
  def groupTotal(name: String): Column = {
    val i = names.indexOf(name)
    if (groups.isEmpty) RunningSums.literal(totals(Row.empty).get(i), types(i))
    else RunningSums.lookup(rows, totals.map { case (g, t) =>
      (if (groups.size == 1) g.get(0) else g) -> t.get(i)
    }, if (groups.size == 1) groups.head else struct(groups: _*), types(i))
  }
}

/** The one two-phase running sum of the op modules — ranks, quantiles
  * and running totals over a table or per group, without a
  * single-reducer window. Rows are cut into blocks by a caller-defined
  * `block` column; one `groupBy(groups, block)` aggregate collects each
  * (group, block) subtotal to the driver (one collect; the driver holds
  * groups × blocks rows, which the callers' block definitions keep
  * small); the driver folds each group's exclusive offsets in ascending
  * block order; then one ROWS window per (group, block) partition,
  * ordered by `order`, adds the block's offset to its running sum. A
  * descending sweep passes the negated block and a descending order.
  *
  * Offsets are literal maps keyed by the (group values, block) pair
  * itself, bigint for an integral measure and the measure's sum type
  * (decimal(38,0) for a decimal(38,0) measure) for a decimal one. A
  * `row_number` is the running sum of `lit(1)` (with a unique order),
  * and an exclusive sum is the inclusive one minus the row's measure. */
private[graft] object RunningSums {

  /** The blocked running sums of `measures` (name → integral or decimal
    * column) over `rows`, or None when `rows` is empty. */
  def apply(rows: DataFrame, groups: Seq[Column], block: Column,
      order: Seq[Column], measures: Seq[(String, Column)])
      : Option[RunningSums] = {
    val keys = groups :+ block
    val sums = measures.map { case (name, m) => sum(m).as(name) }
    val sub = rows.groupBy(keys: _*).agg(sums.head, sums.tail: _*)
    val subtotals = sub.collect()
    if (subtotals.isEmpty) return None
    val nG = groups.size
    val types = sub.schema.fields.drop(nG + 1).map(_.dataType).toSeq
    val blockType = sub.schema(nG).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(blockType)
    val blockOrder = PhysicalDataType.ordering(blockType)
    val offsets = measures.map(_ => Map.newBuilder[Any, Any])
    val totals = subtotals.groupBy(r => Row.fromSeq(r.toSeq.take(nG))).map {
      case (g, rs) =>
        val acc = Array.fill(measures.size)(BigDecimal(0))
        rs.sortBy(r => toCatalyst(r.get(nG)))(blockOrder)
          .foreach { r =>
            val k = if (nG == 0) r.get(0) else Row.fromSeq(r.toSeq.take(nG + 1))
            acc.indices.foreach { i =>
              offsets(i) += k -> typed(acc(i), types(i))
              acc(i) += decimal(r.get(nG + 1 + i))
            }
          }
        g -> Row.fromSeq(acc.indices.map(i => typed(acc(i), types(i))))
    }
    val key = if (nG == 0) block else struct(keys: _*)
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = measures.indices.map { i =>
      val (name, m) = measures(i)
      (sum(m).over(w) + lookup(rows, offsets(i).result(), key, types(i)))
        .as(name)
    }
    Some(new RunningSums(rows.select(col("*") +: running: _*), groups,
      measures.map(_._1), types, totals))
  }

  private def decimal(v: Any): BigDecimal = v match {
    case d: java.math.BigDecimal => BigDecimal(d)
    case l => BigDecimal(l.asInstanceOf[Long])
  }

  private def typed(v: BigDecimal, t: DataType): Any =
    if (t == LongType) v.toLongExact else v.bigDecimal

  private def literal(v: Any, t: DataType): Column =
    GraftShim.column(Literal.create(v, t))

  /** `key`'s value in a literal map of `entries`, typed by `key` on `rows`. */
  private def lookup(rows: DataFrame, entries: Map[Any, Any], key: Column,
      valueType: DataType): Column = {
    val keyType = rows.select(key).schema.head.dataType
    element_at(literal(entries, MapType(keyType, valueType, false)), key)
  }
}
