package graft.functions.native

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native vocabulary-hit extraction: string text × literal
  * array<string> vocab → the SORTED DISTINCT vocab tokens present in
  * the whitespace tokenization of lower(trim(text)) — exactly
  *
  *   array_sort(array_intersect(
  *     array_distinct(split(lower(trim(text)), "\\s+")), vocab))
  *
  * in ONE pass with zero intermediate arrays, where the expression
  * chain materializes the full token array (every token an allocated
  * UTF8String), a distinct pass, an intersect pass and a sort pass per
  * row — the regex tokenization scan is x_cooccurrence's whole CPU
  * (r11 verdict item 6).
  *
  * Equivalences with the chain it replaces (NativeParitySpec):
  *  - case mapping: the call Spark's `lower()` makes
  *    (`CollationSupport.Lower` under the UTF8_BINARY collation and
  *    the session's `spark.sql.icu.caseMappings.enabled`), applied
  *    after `trim()` — so non-ASCII text lowercases under the same
  *    library and default locale as the chain;
  *  - tokenizer: Java-regex \s members, split limit -1. `trim()` strips
  *    only spaces, so the chain's split yields an EMPTY token exactly
  *    when the trimmed text is empty or starts or ends with another \s
  *    character (tab, newline, …); "" is then a hit iff the vocabulary
  *    contains it, as in the chain;
  *  - order: ascending UTF8String binary order — array_sort's string
  *    ordering;
  *  - a hit equals its vocab entry by definition of membership, so
  *    emitting the matched token is emitting the intersect result.
  */
case class VocabHitsExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(StringType))

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) types
    else if (!right.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a literal (foldable) vocabulary")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_vocab_hits"

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val s = new java.util.HashSet[String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      s.add(arr.getUTF8String(i).toString)
      i += 1
    }
    s
  }

  // Java-regex \s members (the chain splits on "\\s+")
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  // read like Lower reads it: once per expression instance
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    val s = CollationSupport.Lower.exec(v.asInstanceOf[UTF8String].trim(),
      StringType.collationId, useICU).toString
    val seen = new java.util.TreeSet[UTF8String]() // sorted + distinct
    val n = s.length
    if (vocabSet.contains("") &&
        (n == 0 || isWs(s.charAt(0)) || isWs(s.charAt(n - 1))))
      seen.add(UTF8String.EMPTY_UTF8)
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tok = s.substring(start, i)
        if (vocabSet.contains(tok)) seen.add(UTF8String.fromString(tok))
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
