package graft.perf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a query's output: row count plus the sum
  * (mod 2^64) of one 64-bit hash per row. It runs over
  * `queryExecution.toRdd`, the same physical plan the timed runs
  * execute. Doubles hash through 9 significant digits, so a different
  * summation order in the last bits does not change the digest. */
object Digest {
  private val Seed = 42L

  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r, schema) }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  private def str(s: String): Long = bytes(UTF8String.fromString(s))

  private def bytes(u: UTF8String): Long =
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, Seed)

  private def dbl(d: Double): Long =
    if (d.isNaN) str("NaN") else if (d == 0.0) str("0") else str(f"$d%.9g")

  private def row(r: InternalRow, t: StructType): Long = {
    var h = Seed
    var i = 0
    while (i < t.length) {
      val v = if (r.isNullAt(i)) str("\u0000null") else value(r.get(i, t(i).dataType), t(i).dataType)
      h = XXH64.hashLong(v, h)
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType): Long = dt match {
    case DoubleType => dbl(v.asInstanceOf[Double])
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case StringType => bytes(v.asInstanceOf[UTF8String])
    case BinaryType => str(java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    case t: DecimalType => str(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString)
    case t: StructType => row(v.asInstanceOf[InternalRow], t)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = Seed
      var i = 0
      while (i < a.numElements()) {
        val x = if (a.isNullAt(i)) str("\u0000null") else value(a.get(i, et), et)
        h = XXH64.hashLong(x, h)
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray(); val vs = m.valueArray()
      var h = 0L
      var i = 0
      while (i < m.numElements()) {
        val x = if (vs.isNullAt(i)) str("\u0000null") else value(vs.get(i, vt), vt)
        h += XXH64.hashLong(x, value(ks.get(i, kt), kt))
        i += 1
      }
      h
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 0L
    case ByteType | ShortType | IntegerType | DateType =>
      XXH64.hashLong(v.asInstanceOf[Number].longValue, Seed)
    case LongType | TimestampType | TimestampNTZType =>
      XXH64.hashLong(v.asInstanceOf[Long], Seed)
    case _ => str(v.toString)
  }
}
