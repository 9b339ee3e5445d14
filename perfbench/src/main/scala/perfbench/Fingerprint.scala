package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus an order-independent 64-bit hash of a query's output. */
final case class Fingerprint(rows: Long, hash: Long) {
  def show: String = f"$rows:$hash%016x"
}

object Fingerprint {

  /** Runs the frame's physical plan once — the same `toRdd` the timed
    * execute phase runs — and folds every output row into the fingerprint.
    * Rows combine by wrapping sum, so duplicate rows do not cancel.
    * Floating-point values are rounded to 9 significant digits first, so
    * the fingerprint does not depend on the order partial sums merged in.
    */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.queryExecution.analyzed.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += mix(struct(r, schema)) }
      Iterator((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private val Seed = 0x9E3779B97F4A7C15L

  private def mix(x: Long): Long = {
    var z = x + Seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def combine(acc: Long, v: Long): Long = mix(acc * 31 + v)

  private def bytes(b: Array[Byte]): Long =
    b.foldLeft(b.length.toLong)((acc, x) => combine(acc, x.toLong))

  private def real(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite || d == 0.0) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(new java.math.MathContext(9)).doubleValue)

  private def struct(r: InternalRow, st: StructType): Long =
    st.fields.indices.foldLeft(st.length.toLong) { (acc, i) =>
      combine(acc, if (r.isNullAt(i)) Seed else value(r.get(i, st(i).dataType), st(i).dataType))
    }

  private def value(v: Any, dt: DataType): Long = (v, dt) match {
    case (null, _) => Seed
    case (d: Double, _) => real(d)
    case (f: Float, _) => real(f.toDouble)
    case (s: UTF8String, _) => bytes(s.getBytes)
    case (b: Array[Byte], _) => bytes(b)
    case (d: Decimal, _) => bytes(d.toJavaBigDecimal.stripTrailingZeros.toString.getBytes("UTF-8"))
    case (r: InternalRow, st: StructType) => struct(r, st)
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).foldLeft(a.numElements().toLong) { (acc, i) =>
        combine(acc, if (a.isNullAt(i)) Seed else value(a.get(i, et), et))
      }
    case (m: MapData, MapType(kt, vt, _)) =>
      val ks = m.keyArray()
      val vs = m.valueArray()
      (0 until m.numElements()).foldLeft(m.numElements().toLong) { (acc, i) =>
        acc + mix(combine(value(ks.get(i, kt), kt),
          if (vs.isNullAt(i)) Seed else value(vs.get(i, vt), vt)))
      }
    case (b: Boolean, _) => if (b) 1L else 2L
    case (n: java.lang.Number, _) => n.longValue
    case (other, _) => bytes(other.toString.getBytes("UTF-8"))
  }
}
