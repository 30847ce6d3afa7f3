package graft.functions.native

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_tok_edit(a, b)` — Levenshtein edit distance between two TOKEN
  * arrays (unit-cost insert/delete/substitute over whole tokens): the
  * core of word error rate and of TER without shifts (Snover et al.,
  * AMTA 2006 §2 — TER's edit component is exactly this distance; the
  * shift heuristic is a separate search this library does not claim).
  *
  * Spark's built-in `levenshtein` works on CHARACTERS of one string;
  * token-level distance has no built-in, and faking it by joining
  * tokens with a separator would mis-price substitutions (a swapped
  * 10-char word must cost 1, not 10).
  *
  * Row-local two-row dynamic program — O(|a|·|b|) time, O(|b|) space —
  * the same execution shape as [[LcsLenExpr]]: zero exchanges, the
  * operator pipelines inside the scan stage, and the quadratic cost is
  * per PAIR (eval pairs are sentences to pages), linear in the number
  * of pairs at corpus scale.
  *
  * Null semantics: either side null → null (BinaryExpression's
  * default). Null ELEMENTS never equal anything, including another
  * null — a null token always costs a substitution, mirroring
  * [[LcsLenExpr]]'s "unknown never matches" rule.
  *
  * Reference scope note: the reference repo (bigdata-scala-offline-
  * data-clean) has no text-eval metrics; this completes the
  * generation-eval family (ROUGE-1/2/L, BLEU-1..4, chrF) with the
  * edit-distance axis.
  */
case class TokenEditExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_tok_edit"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val m = xa.numElements()
    val n = xb.numElements()
    if (m == 0) return n.toLong
    if (n == 0) return m.toLong
    // b's tokens materialize once; a's stream row by row of the DP
    val bt = new Array[UTF8String](n)
    var j = 0
    while (j < n) { bt(j) = xb.getUTF8String(j); j += 1 }
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    j = 0
    while (j <= n) { prev(j) = j; j += 1 }
    var i = 0
    while (i < m) {
      val ai = xa.getUTF8String(i)
      cur(0) = i + 1
      j = 0
      while (j < n) {
        val cost =
          if (ai != null && bt(j) != null && ai.equals(bt(j))) 0 else 1
        val del = prev(j + 1) + 1
        val ins = cur(j) + 1
        val sub = prev(j) + cost
        cur(j + 1) =
          math.min(math.min(del, ins), sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n).toLong
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
