package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Generator emitting the DISTINCT 32-bit shingle hashes of a
  * space-tokenized text: one output row per distinct k-token shingle,
  * hash = first 8 hex chars of md5(shingle) parsed base-16 (identical to
  * [[XF.h32]] / its DuckDB twin, so oracle queries reproduce it).
  *
  * This replaces the built-in composition
  * `explode(array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(tokens, i, k)))))`, which evaluates four interpreted
  * higher-order lambdas and allocates a slice array PER SHINGLE —
  * measured ~5x slower than this single per-row loop. Generators run
  * once per input row (GenerateExec), so plain JVM code here costs one
  * virtual call per document, not per token.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("s", LongType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else ShingleHashes.distinct(v.asInstanceOf[UTF8String], k)
      .iterator.map(h => InternalRow(h))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  import org.apache.spark.sql.graft.bridge.{column, expression}
  def apply(text: Column, k: Int): Column =
    column(new ShingleHashes(expression(text), k))

  /** The distinct k-shingle hashes of one text, in first-seen order —
    * the one tokenize + md5 loop behind the generator and the
    * per-document signature kernels ([[MinhashSig]], [[SimhashSig]]).
    * Empty when the text has fewer than k tokens. */
  def distinct(text: UTF8String, k: Int): Array[Long] = {
    // limit -1 keeps trailing empty tokens — matching Spark SQL's
    // split() and DuckDB's string_split (the char-overload drops them)
    val toks = text.toString.split(" ", -1)
    if (toks.length < k) return Array.emptyLongArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[Long]()
    val out = new Array[Long](toks.length - k + 1)
    var n = 0
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      // first 4 md5 bytes as unsigned big-endian = first 8 hex chars
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      if (seen.add(h)) { out(n) = h; n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}

/** A per-document shingle sketch: one output row folded from the doc's
  * distinct k-shingle hashes ([[ShingleHashes.distinct]]), and no row
  * for null text or a doc with fewer than k tokens. */
trait ShingleFold extends UnaryExpression with Generator with CodegenFallback {
  def k: Int
  protected def fold(hs: Array[Long]): InternalRow

  final override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val hs = ShingleHashes.distinct(v.asInstanceOf[UTF8String], k)
    if (hs.isEmpty) Nil else Iterator.single(fold(hs))
  }
}

/** Per-document MinHash signature: the doc's distinct k-shingle hashes
  * folded into the min of each universal hash h_i(s) = (s·a_i + b_i)
  * mod p — one row of `m0..m{n-1}` per document. Equal to a
  * `groupBy(doc_id)` of `min(h_i(s))` over the generator's rows, but
  * one pass per document with no shingle rows and no shuffle: the
  * sketch computed per item. Exact 64-bit arithmetic (the caller keeps
  * s·a_i + b_i below 2^63), so results match the aggregate and its
  * DuckDB twin bit for bit.
  */
case class MinhashSig(child: Expression, k: Int, a: Seq[Long], b: Seq[Long],
    p: Long) extends ShingleFold {
  require(a.length == b.length, "one (a, b) pair per hash function")
  @transient private lazy val as = a.toArray
  @transient private lazy val bs = b.toArray
  // the family is data, not plan structure: print its size, not its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, k, s"${a.length} hashes", p)

  override def elementSchema: StructType = StructType(a.indices.map(i =>
    StructField(s"m$i", LongType, nullable = false)))

  override protected def fold(hs: Array[Long]): InternalRow = {
    val mins = Array.fill(as.length)(Long.MaxValue)
    var j = 0
    while (j < hs.length) {
      val s = hs(j)
      var i = 0
      while (i < as.length) {
        val m = (s * as(i) + bs(i)) % p
        if (m < mins(i)) mins(i) = m
        i += 1
      }
      j += 1
    }
    val row = new GenericInternalRow(as.length)
    var i = 0
    while (i < as.length) { row.setLong(i, mins(i)); i += 1 }
    row
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  import org.apache.spark.sql.graft.bridge.{column, expression}
  def apply(text: Column, k: Int, a: Seq[Long], b: Seq[Long], p: Long): Column =
    column(new MinhashSig(expression(text), k, a, b, p))
}

/** Per-document 32-bit SimHash: over the doc's distinct k-shingle
  * hashes, bit b is set when more hashes have bit b set than clear (the
  * per-bit ±1 sum is positive). One `simhash` row per document. Equal
  * to a `groupBy(doc_id)` of 32 `sum(when(bit, 1, -1))` columns over
  * the generator's rows, with no shingle rows and no shuffle.
  */
case class SimhashSig(child: Expression, k: Int) extends ShingleFold {

  override def elementSchema: StructType =
    StructType(StructField("simhash", LongType, nullable = false) :: Nil)

  override protected def fold(hs: Array[Long]): InternalRow = {
    val ones = new Array[Int](SimhashSig.Bits)
    var j = 0
    while (j < hs.length) {
      var bit = 0
      while (bit < SimhashSig.Bits) {
        if (((hs(j) >> bit) & 1L) == 1L) ones(bit) += 1
        bit += 1
      }
      j += 1
    }
    var sim = 0L
    var bit = 0
    while (bit < SimhashSig.Bits) {
      // ±1 sum = ones − (n − ones)
      if (2 * ones(bit) - hs.length > 0) sim |= 1L << bit
      bit += 1
    }
    InternalRow(sim)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashSig {
  import org.apache.spark.sql.graft.bridge.{column, expression}
  val Bits = 32
  def apply(text: Column, k: Int): Column =
    column(new SimhashSig(expression(text), k))
}
