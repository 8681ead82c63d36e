package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query output, computed in one Spark
  * action that also materializes the output.
  *
  * Exact columns (integers, strings, dates, nested values without floats)
  * feed a per-row xxhash64 whose sum over rows (as DECIMAL(38,0), so no
  * overflow and no order dependence) is compared exactly. Floating and
  * decimal columns are compared as column sums within a relative tolerance,
  * because their low bits depend on partitioning and summation order.
  * Nested values that contain floats contribute their size only.
  */
final case class Fingerprint(rows: Long, hash: String, sums: Seq[Double], scales: Seq[Double]) {
  def matches(o: Fingerprint): Boolean =
    rows == o.rows && hash == o.hash && sums.size == o.sums.size &&
      sums.indices.forall { i =>
        val (a, b) = (sums(i), o.sums(i))
        (a.isNaN && b.isNaN) ||
          math.abs(a - b) <= 1e-6 * math.max(scales(i), o.scales(i)) + 1e-6
      }
  def toJson: Map[String, Any] =
    Map("rows" -> rows, "hash" -> hash, "sums" -> sums, "scales" -> scales)
}

object Fingerprint {
  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: DecimalType => true
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val fields = named.schema.fields.toSeq
    val exact: Seq[Column] = fields.flatMap { f =>
      val c = col(f.name)
      f.dataType match {
        case FloatType | DoubleType | _: DecimalType => None
        case _: ArrayType | _: MapType if hasFloat(f.dataType) =>
          Some(coalesce(size(c).cast("string"), lit("\u0001")))
        case t if hasFloat(t) => None
        case _ => Some(coalesce(c.cast("string"), lit("\u0001")))
      }
    }
    val floats = fields.filter(f => f.dataType match {
      case FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }).map(f => col(f.name).cast("double"))
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact: _*)
    val aggs = Seq(count(lit(1)), sum(h.cast("decimal(38,0)"))) ++
      floats.flatMap(c => Seq(sum(c), sum(abs(c))))
    val r = named.agg(aggs.head, aggs.tail: _*).collect()(0)
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val sums = floats.indices.map(i => d(2 + 2 * i))
    val scales = floats.indices.map(i => d(3 + 2 * i))
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"), sums, scales)
  }

  def fromJson(m: Map[String, Any]): Fingerprint = {
    def nums(k: String) = m(k).asInstanceOf[Seq[Any]].map(num)
    Fingerprint(m("rows").toString.toLong, m("hash").toString, nums("sums"), nums("scales"))
  }

  private def num(v: Any): Double = v match {
    case null => Double.NaN
    case d: Double => d
    case s => s.toString.toDouble
  }
}
