package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** An order-insensitive result fingerprint: the row count plus the
  * wrapping sum of one 64-bit hash per row. Two results with the same
  * rows in any order and any partitioning give the same fingerprint. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  def show: String = s"$rows:${java.lang.Long.toHexString(hash)}"
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, 0L)

  def parse(s: String): Fingerprint = {
    val Array(n, h) = s.split(":")
    Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Consumes `qe.toRdd` in full -- one job -- and folds every row into
    * the fingerprint on the executors. */
  def of(qe: QueryExecution): Fingerprint = {
    val types = qe.executedPlan.output.map(_.dataType).toArray
    qe.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += Rows.row(r, types) }
      Iterator.single(Fingerprint(n, h))
    }.fold(empty)(_ + _)
  }
}

/** Hashes of catalyst values. Doubles hash by their exact bits (the
  * engine's results are bit-exact against its oracles), with -0.0 and
  * NaN made canonical. */
object Rows {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def string(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    mix(h ^ b.length)
  }

  private def double(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  def row(r: InternalRow, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, types(i)), types(i))))
      i += 1
    }
    h
  }

  private def array(a: ArrayData, t: DataType): Long = {
    var h = 23L
    var i = 0
    while (i < a.numElements()) {
      h = mix(h * 31 + (if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, t), t)))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = t match {
    case _: StringType => string(v.asInstanceOf[UTF8String])
    case DoubleType => double(v.asInstanceOf[Double])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case BinaryType => string(UTF8String.fromBytes(v.asInstanceOf[Array[Byte]]))
    case _: DecimalType =>
      string(UTF8String.fromString(v.asInstanceOf[Decimal].toJavaBigDecimal
        .stripTrailingZeros.toPlainString))
    case ArrayType(e, _) => array(v.asInstanceOf[ArrayData], e)
    case s: StructType =>
      row(v.asInstanceOf[InternalRow], s.fields.map(_.dataType))
    case MapType(k, e, _) =>
      val m = v.asInstanceOf[MapData]
      var h = 0L
      var i = 0
      while (i < m.numElements()) {
        val vv = m.valueArray()
        h += mix(value(m.keyArray().get(i, k), k) * 31 +
          (if (vv.isNullAt(i)) 0x5bd1e995L else value(vv.get(i, e), e)))
        i += 1
      }
      h
    case _ => v match {
      case n: java.lang.Number => mix(n.longValue())
      case o => string(UTF8String.fromString(String.valueOf(o)))
    }
  }
}
