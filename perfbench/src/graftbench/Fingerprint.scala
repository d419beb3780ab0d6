package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a DataFrame's full output.
  *
  * The op's own physical plan runs through `queryExecution.toRdd`, so no
  * column is pruned away the way `count()` lets Catalyst prune it. Every
  * row is hashed inside its partition; only one (rows, sum, xor) triple
  * per partition reaches the driver. Doubles and floats are rounded to
  * [[SigDigits]] significant digits first, so a different summation order
  * across partitions does not change the fingerprint.
  */
object Fingerprint {
  val SigDigits = 6

  final case class Fp(rows: Long, sum: Long, xor: Long) {
    def hex: String = f"$rows:$sum%016x$xor%016x"
  }

  def of(df: DataFrame): Fp = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L; var x = 0L
      while (it.hasNext) {
        val h = mix(row(it.next(), schema))
        n += 1; s += h; x ^= h
      }
      Iterator((n, s, x))
    }.collect()
    Fp(parts.map(_._1).sum, parts.map(_._2).sum,
      parts.foldLeft(0L)(_ ^ _._3))
  }

  private val Null = 0x6a09e667f3bcc909L

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def step(h: Long, v: Long): Long = mix(h * 0x9e3779b97f4a7c15L + v)

  def row(r: InternalRow, st: StructType): Long = {
    var h = st.length.toLong
    var i = 0
    while (i < st.length) {
      h = step(h, value(r, i, st.fields(i).dataType))
      i += 1
    }
    h
  }

  def bytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    mix(h ^ b.length)
  }

  /** Rounded to SigDigits significant digits: (mantissa, exponent). */
  def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8L
    else if (d.isInfinite) (if (d > 0) 0x7ff0L else 0xfff0L)
    else if (d == 0.0) 0L
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      val m = math.round(d / math.pow(10, e - SigDigits + 1))
      // 9.999995 rounds up to 10.00000: renormalise to one spelling
      if (math.abs(m) >= math.pow(10, SigDigits)) step(m / 10, e + 1)
      else step(m, e)
    }

  def value(v: SpecializedGetters, i: Int, dt: DataType): Long =
    if (v.isNullAt(i)) Null
    else dt match {
      case BooleanType => if (v.getBoolean(i)) 1L else 2L
      case ByteType => v.getByte(i).toLong
      case ShortType => v.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType =>
        v.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType |
           _: DayTimeIntervalType => v.getLong(i)
      case FloatType => dbl(v.getFloat(i).toDouble)
      case DoubleType => dbl(v.getDouble(i))
      case d: DecimalType =>
        bytes(v.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
      case _: StringType => bytes(v.getUTF8String(i).getBytes)
      case BinaryType => bytes(v.getBinary(i))
      case ArrayType(et, _) =>
        val a = v.getArray(i)
        var h = a.numElements().toLong
        var j = 0
        while (j < a.numElements()) { h = step(h, value(a, j, et)); j += 1 }
        h
      case MapType(kt, vt, _) =>
        // entries in any order
        val m = v.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = m.numElements().toLong
        var j = 0
        while (j < m.numElements()) {
          h += mix(step(value(ks, j, kt), value(vs, j, vt)))
          j += 1
        }
        h
      case st: StructType => row(v.getStruct(i, st.length), st)
      case u: UserDefinedType[_] => value(v, i, u.sqlType)
      case other => bytes(String.valueOf(v.get(i, other)).getBytes("UTF-8"))
    }
}
