package graft.functions.native

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct polynomial hashes of the character k-shingles, fused into a
  * single pass: array<long> where each element is
  * `fold(h = (h*31 + codepoint) mod 1e9+7)` over one k-codepoint window
  * (a string shorter than k hashes as its own single window, exactly
  * like the HOF reference's short-text rule). Distinctness is on the HASH
  * value, mirroring the oracle's `list_distinct` over hashed shingles,
  * so an (astronomically rare) collision merges identically on both
  * engines.
  *
  * This replaces shingle strings→md5 in the MinHash pipeline: no md5
  * digest, no per-window UTF8String allocation, no string dedup set —
  * the document's codepoints are decoded once and every window is five
  * multiply-adds. Downstream wins too: signature slots read longs, and
  * candidate-verification shuffles 8-byte hashes instead of shingle
  * strings.
  */
case class ShingleHashesExpr(child: Expression, k: Int)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(k > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_shingle_hashes"

  private val P = 1000000007L

  override def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString
      .codePoints().toArray
    val n = cps.length
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    def windowHash(from: Int, until: Int): Long = {
      var h = 0L
      var i = from
      while (i < until) { h = (h * 31 + cps(i)) % P; i += 1 }
      h
    }
    if (n <= k) {
      out.add(windowHash(0, n))
    } else {
      var i = 0
      val last = n - k
      while (i <= last) {
        out.add(windowHash(i, i + k))
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** POSITIONAL polynomial hashes of the character k-shingles, one pass:
  * array<long> whose element i is the poly-hash of the window starting
  * at codepoint i (every position, in order, NOT distinct) — the
  * winnowing feed, where [[ShingleHashesExpr]] is the MinHash feed.
  * A string shorter than k yields its single whole-string hash (the
  * empty string hashes to 0), matching the short-text rule of the
  * sibling expressions and of the HOF form
  * `transform(sequence(1, greatest(len-k+1, 1)), i ->
  * rollingHash(substring(text, i, k)))` (TextFns.rollingHash).
  *
  * The HOF form is O(n²) on large documents: each lambda-evaluated
  * `substring` re-scans the source string (UTF8String's ascii check +
  * offset walk), which at multi-megabyte documents — exactly the
  * long-tail pages the winnowing screen must fingerprint — turns a
  * linear extraction into hours. This decodes the codepoints once and
  * hashes every window in a single sweep: O(n·k).
  */
case class PositionalShingleHashesExpr(child: Expression, k: Int)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(k > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_pos_shingle_hashes"

  private val P = 1000000007L

  override def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString
      .codePoints().toArray
    val n = cps.length
    def windowHash(from: Int, until: Int): Long = {
      var h = 0L
      var i = from
      while (i < until) { h = (h * 31 + cps(i)) % P; i += 1 }
      h
    }
    if (n <= k) {
      new GenericArrayData(Array[Any](windowHash(0, n)))
    } else {
      val out = new Array[Any](n - k + 1)
      var i = 0
      while (i <= n - k) { out(i) = windowHash(i, i + k); i += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaccard similarity of two already-distinct arrays (string or long
  * elements): |A∩B| / |A∪B| in one hash-set pass instead of
  * size(array_intersect)/size(array_union) (two interpreted passes plus
  * two intermediate arrays). Returns the identical double (integer
  * counts, single division).
  */
case class JaccardExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> or two array<long> " +
          s"inputs, got ${l.simpleString} / ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_jaccard"

  private lazy val isString = left.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var inter = 0
    if (isString) {
      val set = new java.util.HashSet[UTF8String](nx * 2)
      var i = 0
      while (i < nx) { set.add(x.getUTF8String(i)); i += 1 }
      var j = 0
      while (j < ny) {
        if (set.contains(y.getUTF8String(j))) inter += 1
        j += 1
      }
    } else {
      val set = new java.util.HashSet[java.lang.Long](nx * 2)
      var i = 0
      while (i < nx) { set.add(x.getLong(i)); i += 1 }
      var j = 0
      while (j < ny) {
        if (set.contains(y.getLong(j))) inter += 1
        j += 1
      }
    }
    val union = nx + ny - inter
    if (union == 0) 0.0d else inter.toDouble / union.toDouble
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
