package graft.functions.native

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native MinHash signature: array<long> shingle hashes (from
  * ShingleHashesExpr) → array<long>(16).
  *
  * Computes, in ONE pass over the hash array:
  *   m_j = min over h of (a_j * h + b_j) mod P
  * using TextFns.MinhashSeeds/MinhashP. h < 2^30 (mod 1e9+7) and
  * a_j < 2^30 keep a_j*h < 2^60 — no signed overflow.
  *
  * The HOF formulation walks the array once per signature slot (16
  * interpreted passes with a lambda-boxed accumulator each). This
  * expression keeps 16 running minima in a primitive array — one pass,
  * zero allocation per element. CodegenFallback: the one-pass loop is
  * already the cheapest stage of the pipeline; codegen of the loop
  * shell would not move the needle.
  */
case class MinhashSigExpr(child: Expression)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  private val seeds = graft.functions.TextFns.MinhashSeeds.toArray
  private val p = graft.functions.TextFns.MinhashP

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(seeds.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < seeds.length) {
        val (a, b) = seeds(j)
        val v = (a * h + b) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 48-bit SimHash of a text column in one pass: tokens of
  * trim(lower(text)) split on whitespace, each hashed to 48 bits via the
  * first 6 md5 bytes (identical to the first 12 hex chars of md5 read
  * as an integer), then the classic ±1 bit votes, bit k set iff the
  * vote is strictly positive.
  *
  * Replaces a higher-order-function pipeline whose outer aggregate
  * walks the token-hash array 48 times with interpreted lambdas and
  * whose md5 goes through a hex-string round trip. Here:
  * one digest per token, 48 primitive counters, no intermediate arrays.
  * Bit-equality with the HOF form is asserted in tests and by the
  * unchanged x_simhash DuckDB oracle.
  */
case class SimhashExpr(child: Expression)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash"

  @transient private lazy val digest: java.security.MessageDigest =
    java.security.MessageDigest.getInstance("MD5")

  // Java-regex \s members (the HOF form splits on "\\s+")
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  override def nullSafeEval(input: Any): Any = {
    // lower(ROOT) + space-trim reproduce Spark's lower()/trim() for the
    // locale-independent cases (asserted bit-equal on real docs in tests)
    var s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi)
    val votes = new Array[Int](48)
    def vote(tok: String): Unit = {
      digest.reset()
      val d = digest.digest(
        tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var k = 0
      while (k < 48) {
        if (((h >> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
    }
    val n = s.length
    if (n == 0) {
      vote("") // split("", "\s+") == [""]: one empty token
    } else {
      // Spark's split() is Java split with limit=-1: a leading separator
      // yields a leading "" token, and — unlike Java's default limit=0 —
      // a trailing separator KEEPS its trailing "" token (trim only
      // strips spaces, so a leading/trailing tab survives to split)
      if (isWs(s.charAt(0))) vote("")
      var i = 0
      while (i < n) {
        while (i < n && isWs(s.charAt(i))) i += 1
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        if (i > start) vote(s.substring(start, i))
      }
      if (isWs(s.charAt(n - 1))) vote("")
    }
    var out = 0L
    var k = 0
    while (k < 48) {
      if (votes(k) > 0) out |= (1L << k)
      k += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native multi-table LSH bucketing: array<double> vector →
  * array<long>(tables), one bucket id per table.
  *
  * Plane (t*bits+r)'s i-th component is ±1 from the same affine hash the
  * HOF formulation uses (Similarity.planeSign); all tables×bits
  * projections happen in a single pass over the vector instead of one
  * interpreted aggregate+transform per plane (96 passes at 16×6).
  */
case class LshBucketsExpr(child: Expression, tables: Int, bits: Int)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_lsh_buckets"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val planes = tables * bits
    val proj = new Array[Double](planes)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      var j = 0
      while (j < planes) {
        val sign =
          if (((j * 2654435761L + (i + 1) * 40503L) % 97L) % 2L == 0L) 1.0d
          else -1.0d
        proj(j) += x * sign
        j += 1
      }
      i += 1
    }
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var r = 0
      while (r < bits) {
        if (proj(t * bits + r) > 0) bucket |= (1L << r)
        r += 1
      }
      buckets(t) = bucket
      t += 1
    }
    new GenericArrayData(buckets)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
