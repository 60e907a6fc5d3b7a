package graft.perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-insensitive fingerprint of a query result.
  *
  * Every row is split into its exact leaves (strings, integers, decimals,
  * dates, booleans, nulls, …) and its floating-point leaves. The exact
  * leaves hash to one 64-bit row hash; the result hash is the wrapping
  * sum of row hashes, so row order never matters. Floats cannot be
  * hashed: a different summation order moves their last bits. Each float
  * leaf instead adds `w·v` and `w·|v|` to its top-level column's sums,
  * with a weight `w ∈ [1, 2)` drawn from the row hash and the leaf
  * position. Two results whose floats agree element-wise within a
  * relative tolerance `rtol` then have weighted sums that agree within
  * `rtol · Σ w·|v|` (plus the absolute term), which is what the checker
  * tests; a float moved to another row changes its weight and shows.
  */
final case class Fp(rows: Long, hash: Long, nf: Array[Long],
    fsum: Array[Double], fabs: Array[Double]) {
  def merge(o: Fp): Fp = Fp(rows + o.rows, hash + o.hash,
    nf.zip(o.nf).map(p => p._1 + p._2),
    fsum.zip(o.fsum).map(p => p._1 + p._2),
    fabs.zip(o.fabs).map(p => p._1 + p._2))

  def json: String = Json.obj(Seq(
    "rows" -> rows, "hash" -> java.lang.Long.toHexString(hash),
    "nf" -> nf.toSeq, "fsum" -> fsum.toSeq, "fabs" -> fabs.toSeq))
}

object Fingerprint {

  private val Seed = 0x5eed5eedL

  def empty(schema: StructType): Fp = {
    val n = schema.length
    Fp(0L, 0L, new Array[Long](n), new Array[Double](n), new Array[Double](n))
  }

  /** Fingerprint of one partition's rows. */
  def of(rows: Iterator[InternalRow], schema: StructType): Fp = {
    val n = schema.length
    val acc = empty(schema)
    var count = 0L
    var hashSum = 0L
    val floats = new FloatBuf
    while (rows.hasNext) {
      val row = rows.next()
      floats.clear()
      var h = Seed
      var c = 0
      while (c < n) {
        h = leaf(row, c, schema(c).dataType, h, c, floats)
        c += 1
      }
      hashSum += h
      count += 1
      var j = 0
      while (j < floats.size) {
        val v = floats.v(j)
        val w = 1.0 + (XXH64.hashLong(j.toLong, h) >>> 11).toDouble /
          (1L << 53).toDouble
        val col = floats.col(j)
        acc.nf(col) += 1
        acc.fsum(col) += w * v
        acc.fabs(col) += w * math.abs(v)
        j += 1
      }
    }
    acc.copy(rows = count, hash = hashSum)
  }

  /** Growable (column, value) buffer for one row's finite float leaves. */
  private final class FloatBuf {
    var col = new Array[Int](16)
    var v = new Array[Double](16)
    var size = 0
    def clear(): Unit = size = 0
    def add(c: Int, x: Double): Unit = {
      if (size == v.length) {
        col = java.util.Arrays.copyOf(col, size * 2)
        v = java.util.Arrays.copyOf(v, size * 2)
      }
      col(size) = c; v(size) = x; size += 1
    }
  }

  private def mixLong(x: Long, h: Long): Long = XXH64.hashLong(x, h)

  private def mixBytes(b: Array[Byte], h: Long): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)

  private def mixString(s: String, h: Long): Long =
    mixBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), h)

  /** Fold leaf `i` of `g` (type `dt`) into the row hash `h`; finite float
    * leaves go to `floats` under top-level column `col` instead. Inside
    * maps (whose entry order is not part of the value) floats are hashed
    * after rounding to 9 significant digits.
    */
  private def leaf(g: SpecializedGetters, i: Int, dt: DataType, h0: Long,
      col: Int, floats: FloatBuf, inMap: Boolean = false): Long = {
    if (g.isNullAt(i)) return mixLong(0x6e756c6cL, h0) // "null"
    val h = mixLong(dt.typeName.hashCode.toLong, h0)
    dt match {
      case DoubleType | FloatType =>
        val x = if (dt == DoubleType) g.getDouble(i) else g.getFloat(i).toDouble
        if (x.isNaN || x.isInfinite) mixString(x.toString, h)
        else if (inMap) mixString(new java.math.BigDecimal(x)
          .round(new java.math.MathContext(9)).toString, h)
        else { floats.add(col, x); h }
      case BooleanType => mixLong(if (g.getBoolean(i)) 1L else 0L, h)
      case ByteType => mixLong(g.getByte(i).toLong, h)
      case ShortType => mixLong(g.getShort(i).toLong, h)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        mixLong(g.getInt(i).toLong, h)
      case LongType | TimestampType | TimestampNTZType |
          _: DayTimeIntervalType =>
        mixLong(g.getLong(i), h)
      case d: DecimalType =>
        mixString(g.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.toPlainString, h)
      case _: StringType =>
        val s = g.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), h)
      case BinaryType => mixBytes(g.getBinary(i), h)
      case st: StructType =>
        val r = g.getStruct(i, st.length)
        var hh = h
        var k = 0
        while (k < st.length) {
          hh = leaf(r, k, st(k).dataType, hh, col, floats, inMap); k += 1
        }
        hh
      case at: ArrayType =>
        val a = g.getArray(i)
        var hh = mixLong(a.numElements().toLong, h)
        var k = 0
        while (k < a.numElements()) {
          hh = leaf(a, k, at.elementType, hh, col, floats, inMap); k += 1
        }
        hh
      case mt: MapType =>
        // entry order is not part of a map's value: sum the entry hashes
        val m = g.getMap(i)
        var sum = 0L
        var k = 0
        while (k < m.numElements()) {
          val eh = leaf(m.valueArray(), k, mt.valueType,
            leaf(m.keyArray(), k, mt.keyType, Seed, col, floats, true),
            col, floats, true)
          sum += eh; k += 1
        }
        mixLong(sum, mixLong(m.numElements().toLong, h))
      case other => mixString(String.valueOf(g.get(i, other)), h)
    }
  }
}
