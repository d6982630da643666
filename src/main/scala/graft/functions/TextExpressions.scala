package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for word n-gram shingling — the hot
  * input of the Jaccard/MinHash dedup family. One pass per row: split
  * once, emit each n-token window joined by a single space. The HOF
  * formulation (n-1 chained `zip_with`s over slices) pays interpreted
  * lambda dispatch and n-1 intermediate arrays per row; this is a
  * single loop under whole-stage codegen.
  *
  * Tokenization matches `split(text, "\\s+")` (Java regex, limit -1)
  * exactly — including the leading empty token on
  * whitespace-initial input — so results are bit-identical to the
  * built-in formulation and to the DuckDB oracles'
  * `string_split_regex(text, '\s+')`. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Static hot loop shared by eval and generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val count = toks.length - n + 1
    if (count <= 0) Empty
    else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Native Karp-Rabin rolling k-gram hash over the token stream: one
  * split, one md5 per token, one Horner pass — the HOF formulation
  * evaluates the token-int array once per shifted slice (k md5 passes
  * per row). Token ints are the first 32-bit chunk of md5(token),
  * Horner takes a modulus per step so intermediates stay in long —
  * bit-identical to the built-in twin and to the oracle SQL. */
case class RollingTokenHashes(child: Expression, k: Int, b: Long, p: Long)
    extends UnaryExpression {

  require(k >= 1, "window must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_token_hashes"

  override protected def nullSafeEval(input: Any): Any =
    RollingTokenHashes.compute(input.asInstanceOf[UTF8String], k, b, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RollingTokenHashes.compute($c, $k, ${b}L, ${p}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingTokenHashes {
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")
  private val Empty = new GenericArrayData(Array.empty[Any])

  private def tokenInt(tok: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    // first 8 hex chars = big-endian value of the first 4 bytes
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
  }

  /** Static hot loop shared by eval and generated code. */
  def compute(text: UTF8String, k: Int, b: Long, p: Long): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val count = toks.length - k + 1
    if (count <= 0) Empty
    else {
      val tints = toks.map(tokenInt)
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        var h = tints(i) % p
        var j = 1
        while (j < k) {
          h = (h * b + tints(i + j)) % p
          j += 1
        }
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Native 64-bit SimHash over the whitespace token stream: one split,
  * one md5 per token, 64 signed bit counters and the final sign pack —
  * all in-row under whole-stage codegen. Replaces the explode +
  * 64-column bit-sum aggregate formulation, whose ~64 expression nodes
  * per token row were the engine's dominant allocation hotspot (the
  * aggregate also forced a shuffle this map-only pass doesn't need).
  *
  * Bit semantics are identical to the aggregate twin and the DuckDB
  * oracle: bit i of a token's contribution is bit `31-(i%32)` of
  * 32-bit md5 chunk `i/32` (chunks are the big-endian first/second 8
  * hex chars of the digest); doc bit i is set iff the signed sum over
  * tokens (+1 for a set bit, -1 for clear) is positive. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Static hot loop shared by eval and generated code. */
  def compute(text: UTF8String): Long = {
    val toks = Whitespace.split(text.toString, -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val digest = md.digest(toks(t).getBytes("UTF-8"))
      var j = 0
      while (j < 2) {
        // big-endian 32-bit value of digest bytes [4j, 4j+4) — the
        // number `conv(substring(hex, 8j+1, 8), 16, 10)` yields
        val c = ((digest(j * 4) & 0xff) << 24) |
          ((digest(j * 4 + 1) & 0xff) << 16) |
          ((digest(j * 4 + 2) & 0xff) << 8) |
          (digest(j * 4 + 3) & 0xff)
        var k = 0
        while (k < 32) {
          sums(j * 32 + k) += (((c >>> (31 - k)) & 1) << 1) - 1
          k += 1
        }
        j += 1
      }
      t += 1
    }
    var v = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) > 0) v |= 1L << i
      i += 1
    }
    v
  }
}

object TextExpressions {
  /** Column API for [[WordShingles]]. */
  def wordShingles(text: Column, n: Int): Column =
    ColumnShim.column(WordShingles(ColumnShim.expression(text), n))

  /** Column API for [[RollingTokenHashes]]. */
  def rollingTokenHashes(text: Column, k: Int, b: Long, p: Long): Column =
    ColumnShim.column(RollingTokenHashes(ColumnShim.expression(text), k, b, p))

  /** Column API for [[SimHash64]]. */
  def simhash64(text: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(text)))
}
