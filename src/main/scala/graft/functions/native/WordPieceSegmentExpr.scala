package graft.functions.native

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_wordpiece_segment(word, vocab)` — greedy longest-match-first
  * WordPiece segmentation (Schuster & Nakajima, ICASSP 2012; the
  * BERT tokenizer's inference rule): at each position take the LONGEST
  * vocabulary piece that matches, word-initial pieces in plain form
  * ("ab"), word-internal pieces in continuation form ("##cd"); if no
  * piece matches at some position the WHOLE word degrades to
  * `["[UNK]"]` — WordPiece's all-or-nothing rule, not a partial
  * segmentation.
  *
  * This is deliberately a DIFFERENT algorithm from the trainer's merge
  * replay (greedy longest-match vs recorded merge order) and from the
  * unigram lane's Viterbi (likelihood-optimal vs greedy) — the three
  * segmenters real tokenizer stacks choose between.
  *
  * The vocabulary arrives as a foldable `array<string>` literal (the
  * bounded-collect contract shared with [[UnigramSegmentExpr]] and the
  * blocklist expressions — vocabularies are KBs, corpus data never is)
  * and compiles once per task into two hash sets (initial /
  * continuation) probed longest-first; per-word cost is
  * O(len · maxPieceLen), row-local, zero exchanges.
  *
  * Output pieces keep their stored forms (continuations carry "##"),
  * joined downstream however the caller likes. Null word → null;
  * empty word → empty array. Malformed vocabularies (null/empty
  * element, bare "##", duplicates are fine) fail at ANALYSIS, not
  * mid-job.
  *
  * Reference scope note: the reference repo (bigdata-scala-offline-
  * data-clean) has no tokenizer machinery; this completes the trainer
  * family (BPE, unigram-LM, WordPiece) per the training-data-pipeline
  * mandate.
  */
case class WordPieceSegmentExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(StringType))

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) types
    else if (!right.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a literal (foldable) vocabulary")
    else AhoAutomaton.checkFoldableDict(right) match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
      case None =>
        // a bare "##" would be a continuation piece with an empty
        // body — it would match at every internal position and loop
        val arr = right.eval(null).asInstanceOf[ArrayData]
        val bare = (0 until arr.numElements())
          .find(i => arr.getUTF8String(i).toString == "##")
        if (bare.isDefined) TypeCheckResult.TypeCheckFailure(
          s"$prettyName: vocabulary element ${bare.get} is a bare " +
            "\"##\" (empty continuation body)")
        else TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_wordpiece_segment"

  /** (initial pieces, continuation bodies, max initial len, max
    * continuation body len) — built once per task from the foldable
    * vocabulary child. */
  @transient private lazy val compiled
      : (java.util.HashSet[String], java.util.HashSet[String], Int, Int) = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val init = new java.util.HashSet[String]
    val cont = new java.util.HashSet[String]
    var maxInit = 0
    var maxCont = 0
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i).toString
      if (s.startsWith("##")) {
        val body = s.substring(2)
        cont.add(body)
        if (body.length > maxCont) maxCont = body.length
      } else {
        init.add(s)
        if (s.length > maxInit) maxInit = s.length
      }
      i += 1
    }
    (init, cont, maxInit, maxCont)
  }

  private val unkPiece: UTF8String = UTF8String.fromString("[UNK]")

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    val word = v.asInstanceOf[UTF8String].toString
    val n = word.length
    if (n == 0)
      return new GenericArrayData(Array.empty[Any])
    val (init, cont, maxInit, maxCont) = compiled
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var pos = 0
    while (pos < n) {
      val atStart = pos == 0
      val set = if (atStart) init else cont
      val maxLen = math.min(if (atStart) maxInit else maxCont, n - pos)
      var len = maxLen
      var hit: String = null
      while (len >= 1 && hit == null) {
        val candidate = word.substring(pos, pos + len)
        if (set.contains(candidate)) hit = candidate
        else len -= 1
      }
      if (hit == null)
        return new GenericArrayData(Array[Any](unkPiece))
      out += UTF8String.fromString(if (atStart) hit else "##" + hit)
      pos += hit.length
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
