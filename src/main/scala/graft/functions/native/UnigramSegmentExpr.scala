package graft.functions.native

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi-optimal unigram-LM segmentation of one pretoken (word) —
  * the inference core of a SentencePiece-style unigram tokenizer
  * (Kudo, ACL 2018): among all ways to cover the word with vocabulary
  * pieces, return the one maximizing the sum of the pieces' integer
  * log-scores. Scores are quantized micro-nats (the library's
  * LanguageModel device), so the DP is exact integer arithmetic and a
  * SQL oracle replays it level by level; ties break on the LONGEST
  * final piece at each prefix (smallest split point), which makes the
  * argmax — not just the max — engine-identical.
  *
  * The vocabulary arrives as two foldable array literals (pieces,
  * scores) built from a bounded driver-side collect (the BPE-merge
  * contract: tokenizer vocabularies are KBs, corpus data never is) and
  * is hashed once per task, not per row. Pieces are capped at
  * [[UnigramSegmentExpr.MaxPieceLen]] characters — the DP looks back
  * that far — and the whole loop is O(len · MaxPieceLen): a char→byte
  * offset table built once per word makes each piece lookup O(piece
  * bytes) (the UTF8String.substring path re-scans from byte 0 per DP
  * cell — O(len²) on multi-byte text).
  *
  * OUT-OF-VOCABULARY characters take the CHARACTER FALLBACK real
  * unigram tokenizers ship (SentencePiece's byte/char fallback): a
  * single character absent from the vocabulary is usable as a piece at
  * the floor score [[UnigramSegmentExpr.UnkScore]], so every word has
  * a cover and an unseen codepoint costs one conspicuously-bad piece
  * instead of silently nulling the whole word (the r9 OOV defect).
  * The fallback can only ever cover a TRULY out-of-vocabulary char:
  * any path using it on an in-vocab char is strictly dominated by the
  * same path with that char's real single-char piece (piece scores are
  * micro-nat logs > −⌊ln(Σcnt)⌋·10⁶, which beats the −10⁹ floor for
  * every corpus below e^1000 occurrences), so segmentations of fully
  * in-vocab words are bit-identical with or without the fallback —
  * the existing gated lanes are unaffected by construction. Fallback
  * pieces are exactly the seg pieces absent from the vocabulary; the
  * usage report folds them into an explicit `<unk>` accounting row.
  *
  * Output: the piece sequence joined with U+001F (the BPE separator
  * convention); piece count = one + separators, so downstream stats
  * need no re-parse.
  */
case class UnigramSegmentExpr(first: Expression, second: Expression,
                              third: Expression)
  extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(StringType), ArrayType(LongType))

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) types
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal vocabulary (pieces and scores " +
          "must be foldable)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_unigram_segment"

  /** The DP host with its vocabulary hash, built once per task from
    * the foldable children. Lives in [[graft.functions.UnigramSegmenter]]
    * — a Java-LEGAL class name: generated code must cast the codegen
    * reference object, and this package's own name contains the Java
    * keyword `native`, which janino rejects (the r10 silent-interpreted
    * finding). */
  @transient private[native] lazy val segmenter
      : graft.functions.UnigramSegmenter = {
    val pieces = second.eval().asInstanceOf[ArrayData]
    val scores = third.eval().asInstanceOf[ArrayData]
    require(pieces != null && scores != null &&
      pieces.numElements() == scores.numElements(),
      s"$prettyName: pieces and scores must be equal-length non-null arrays")
    val ps = new Array[UTF8String](pieces.numElements())
    val ss = new Array[Long](scores.numElements())
    var i = 0
    while (i < ps.length) {
      ps(i) = pieces.getUTF8String(i)
      ss(i) = scores.getLong(i)
      i += 1
    }
    new graft.functions.UnigramSegmenter(ps, ss)
  }

  override def nullSafeEval(w: Any, p: Any, s: Any): Any =
    segmenter.segment(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // the reference object is the SEGMENTER, not this expression: the
    // generated cast must name a Java-legal class (see `segmenter`)
    val ref = ctx.addReferenceObj("unigramSegmenter", segmenter,
      classOf[graft.functions.UnigramSegmenter].getName)
    nullSafeCodeGen(ctx, ev, (w, _, _) => {
      s"""
         |${ev.value} = $ref.segment($w);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object UnigramSegmentExpr {
  /** Longest vocabulary piece the DP considers; longer entries in the
    * pieces array can never match and are dead weight, so trainers cap
    * candidate generation at the same bound. */
  val MaxPieceLen: Int = 4

  /** Floor score (micro-nats) of the single-character OOV fallback —
    * one fallback piece per unseen codepoint. Below every achievable
    * real piece score (> −⌊ln(Σcnt)⌋·10⁶ > −10⁹ for any corpus below
    * e^1000 piece occurrences), so a real cover always wins where one
    * exists; exact integer, so the SQL oracle replays it as a literal
    * in its augmented-vocabulary join. */
  val UnkScore: Long = -1000000000L

  /** U+001F piece separator (the BPE representation convention — never
    * occurs in whitespace-split corpus pretokens). */
  val Sep: UTF8String = UTF8String.fromString("\u001f")
}
