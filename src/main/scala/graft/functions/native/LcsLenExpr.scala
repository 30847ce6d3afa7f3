package graft.functions.native

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_lcs_len(a, b)` — length of the longest common subsequence of
  * two token arrays: the matching core of ROUGE-L (Lin, ACL 2004 §3).
  *
  * Row-local two-row dynamic program — O(|a|·|b|) time, O(|b|) space,
  * zero allocation per cell — so at cluster scale the metric pipelines
  * inside the scan stage like every other row-local eval expression
  * here: no shuffle, no state, parallelism = the scan's split count.
  * The quadratic cost is per PAIR (generation-eval pairs are sentences
  * to pages, not corpora); the corpus-scale work stays linear in the
  * number of pairs.
  *
  * Null semantics: either side null → null (BinaryExpression's default
  * intercept). Null ELEMENTS never match anything, including another
  * null — tokenizer output never contains them, and "unknown equals
  * unknown" would inflate the score.
  *
  * Reference scope note: the reference repo (bigdata-scala-offline-
  * data-clean) has no text-eval metrics; this extends the eval-metrics
  * family per the training-data-pipeline mandate.
  */
case class LcsLenExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lcs_len"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val m = xa.numElements()
    val n = xb.numElements()
    if (m == 0 || n == 0) return 0L
    // b's tokens materialize once; a's stream row by row of the DP
    val bt = new Array[UTF8String](n)
    var j = 0
    while (j < n) { bt(j) = xb.getUTF8String(j); j += 1 }
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var i = 0
    while (i < m) {
      val ai = xa.getUTF8String(i)
      j = 0
      while (j < n) {
        cur(j + 1) =
          if (ai != null && bt(j) != null && ai.equals(bt(j))) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
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
