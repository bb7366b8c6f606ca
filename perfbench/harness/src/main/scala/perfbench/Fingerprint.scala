package perfbench

import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** A rounded, order-insensitive fingerprint of a result: the wrapping sum
  * of one 64-bit hash per row. Rows, array elements and map entries may
  * arrive in any order; struct fields and columns keep theirs. Doubles are
  * rounded to a 20-bit mantissa (about 6 significant digits) and values
  * under 1e-9 in magnitude count as zero, so summation-order noise in the
  * last bits does not change the fingerprint. */
object Fingerprint {
  private val NullHash = 0x9E3779B97F4A7C15L

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def roundDouble(d: Double): Long =
    if (d.isNaN) 0x7FF8000000000000L
    else if (math.abs(d) < 1e-9) 0L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 31)) & ~0xFFFFFFFFL

  private def bytesHash(b: Array[Byte]): Long = {
    val lo = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (hi.toLong << 32) ^ (lo.toLong & 0xFFFFFFFFL)
  }

  private def unordered(n: Int)(f: Int => Long): Long = {
    var acc = 0L
    var j = 0
    while (j < n) { acc += mix(f(j)); j += 1 }
    mix(acc + n)
  }

  def value(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) NullHash
    else dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        g.getLong(i)
      case FloatType => roundDouble(g.getFloat(i).toDouble)
      case DoubleType => roundDouble(g.getDouble(i))
      case d: DecimalType => roundDouble(g.getDecimal(i, d.precision, d.scale).toDouble)
      case _: StringType => bytesHash(g.getUTF8String(i).getBytes)
      case BinaryType => bytesHash(g.getBinary(i))
      case a: ArrayType =>
        val arr = g.getArray(i)
        unordered(arr.numElements())(j => value(arr, j, a.elementType))
      case m: MapType =>
        val mp = g.getMap(i)
        val (ks, vs) = (mp.keyArray(), mp.valueArray())
        unordered(mp.numElements())(j =>
          mix(value(ks, j, m.keyType)) * 31 + value(vs, j, m.valueType))
      case s: StructType => row(g.getStruct(i, s.size), s)
      case other => bytesHash(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }

  def row(g: SpecializedGetters, schema: StructType): Long = {
    var acc = 17L
    var i = 0
    while (i < schema.size) {
      acc = mix(acc * 31 + value(g, i, schema(i).dataType))
      i += 1
    }
    acc
  }

  def hex(x: Long): String = f"$x%016x"
}
