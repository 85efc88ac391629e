package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive digest of a query's full output.
  *
  * Executing through `queryExecution.toRdd` runs the physical plan the
  * query returned, every column and every operator included, the way a
  * sink would; `count()` lets Catalyst prune columns first. Each row
  * hashes to 64 bits; the digest is the row count and two wrapping sums
  * of the row hashes, so partitioning and row order do not change it.
  * Integral types widen to long. Floating-point values keep 28 mantissa
  * bits (about 8 significant digits): summation order moves the last bits
  * of a double, and those bits are not part of the answer. */
object Digest {
  final case class Result(rows: Long, sum1: Long, sum2: Long) {
    def hex: String = f"$sum1%016x$sum2%016x"
  }

  def run(df: DataFrame): Result = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s1 = 0L; var s2 = 0L
      while (it.hasNext) {
        val h = row(it.next(), schema)
        n += 1; s1 += h; s2 += mix(h ^ 0x5bd1e9955bd1e995L)
      }
      Iterator.single((n, s1, s2))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  /** Double canonicalized: -0.0 to 0.0, one NaN, low 24 mantissa bits
    * rounded away. */
  def canonDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else (java.lang.Double.doubleToRawLongBits(d) + (1L << 23)) & ~((1L << 24) - 1)

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = combine(h, value(r, i, schema(i).dataType)); i += 1
    }
    h
  }

  private def value(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) 0x6e756c6cL
    else dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => mix(g.getByte(i).toLong)
      case ShortType => mix(g.getShort(i).toLong)
      case IntegerType | DateType | _: YearMonthIntervalType => mix(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        mix(g.getLong(i))
      case FloatType => mix(canonDouble(g.getFloat(i).toDouble))
      case DoubleType => mix(canonDouble(g.getDouble(i)))
      case d: DecimalType =>
        mix(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.hashCode.toLong)
      case _: StringType => bytes(g.getUTF8String(i).getBytes)
      case BinaryType => bytes(g.getBinary(i))
      case ArrayType(et, _) => array(g.getArray(i), et)
      case MapType(kt, vt, _) => map(g.getMap(i), kt, vt)
      case st: StructType => row(g.getStruct(i, st.length), st)
      case udt: UserDefinedType[_] => value(g, i, udt.sqlType)
      case NullType => 0x6e756c6cL
      case other => bytes(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }

  private def bytes(b: Array[Byte]): Long =
    combine(scala.util.hashing.MurmurHash3.bytesHash(b).toLong, b.length.toLong)

  private def array(a: ArrayData, et: DataType): Long = {
    var h = 19L
    var i = 0
    while (i < a.numElements()) { h = combine(h, value(a, i, et)); i += 1 }
    combine(h, a.numElements().toLong)
  }

  private def map(m: MapData, kt: DataType, vt: DataType): Long = {
    val k = m.keyArray(); val v = m.valueArray()
    var s = 0L
    var i = 0
    while (i < m.numElements()) {
      s += mix(combine(value(k, i, kt), value(v, i, vt))); i += 1
    }
    combine(s, m.numElements().toLong)
  }
}
