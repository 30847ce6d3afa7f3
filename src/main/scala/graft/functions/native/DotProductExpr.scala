package graft.functions.native

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding dot product.
  *
  * The pure-DataFrame formulation (`aggregate(zip_with(a,b,*), 0d, +)`)
  * is correct but interpreted — Spark's higher-order functions don't
  * participate in whole-stage codegen, and they allocate a zipped
  * intermediate array per row. This expression generates a tight
  * primitive double loop inside WholeStageCodegen instead: no
  * intermediate array, no lambda-variable boxing. Fold order is ascending
  * index, exactly like the HOF version and DuckDB's list_dot_product, so
  * results stay bit-identical to the oracle.
  *
  * Null handling: null array → null result (BinaryExpression default);
  * null ELEMENTS are not expected (embedding vectors) and read as 0.0.
  */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Names and Column-level access for the native expressions. Spark 4
  * no longer exposes public Column-from-Expression construction, so each
  * wrapper calls its function by name with call_function; the name
  * resolves in every session built with [[graft.GraftExtensions]].
  */
object NativeFns {
  val DotName = "graft_dot"
  val MinhashName = "graft_minhash_sig"
  val LshName = "graft_lsh_buckets"
  val ShingleHashesName = "graft_shingle_hashes"
  val PosShingleHashesName = "graft_pos_shingle_hashes"
  val JaccardName = "graft_jaccard"
  val SimhashName = "graft_simhash"
  val HeavyHittersName = "graft_heavy_hitters"
  val ArgMaxLongName = "graft_argmax_long"
  val NfcName = "graft_nfc"
  val StripAccentsName = "graft_strip_accents"
  val DeflateRatioName = "graft_deflate_ratio"
  val HilbertName = "graft_hilbert"
  val UnigramSegmentName = "graft_unigram_segment"
  val AhoCountsName = "graft_aho_counts"
  val AhoScrubName = "graft_aho_scrub"
  val LcsLenName = "graft_lcs_len"
  val AhoFoldCountsName = "graft_aho_fold_counts"
  val AhoFoldScrubName = "graft_aho_fold_scrub"
  val TokenEditName = "graft_tok_edit"
  val WordPieceSegmentName = "graft_wordpiece_segment"
  val CmCellsName = "graft_cm_cells"
  val VocabHitsName = "graft_vocab_hits"

  def dotNative(a: Column, b: Column): Column = call_function(DotName, a, b)

  def minhashSig(shingles: Column): Column =
    call_function(MinhashName, shingles)

  def lshBucketArr(v: Column, tables: Int, bits: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(LshName, v, lit(tables), lit(bits))
  }

  def shingleHashes(text: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(ShingleHashesName, text, lit(k))
  }

  def positionalShingleHashes(text: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(PosShingleHashesName, text, lit(k))
  }

  def jaccardNative(a: Column, b: Column): Column =
    call_function(JaccardName, a, b)

  /** Deterministic argmax: the `tie` (bigint) of the row with the
    * largest `ord` (double), ties toward the smallest tie — a
    * primitive-buffer HashAggregate-eligible DeclarativeAggregate
    * (see [[ArgMaxLongAgg]] for why neither a window nor
    * max(struct) keeps the fast path). */
  def argmaxLong(ord: Column, tie: Column): Column =
    call_function(ArgMaxLongName, ord, tie)

  def simhashNative(text: Column): Column =
    call_function(SimhashName, text)

  /** Count-Min cell vector of a string key: array<long>(depth), element
    * d = md5-fold-hash32("cm<d>:" ++ key) % width — one pass, no hex
    * string round-trip (see [[CmCellsExpr]]). */
  def cmCells(key: Column, depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(CmCellsName, key, lit(depth), lit(width))
  }

  /** Sorted distinct vocabulary hits of lower(trim(text))'s whitespace
    * tokenization under a LITERAL vocabulary — one pass, no
    * intermediate token array (see [[VocabHitsExpr]]). */
  def vocabHits(text: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(VocabHitsName, text, typedLit(vocab))
  }

  /** Misra-Gries k-counter heavy-hitters candidate set over a string
    * item stream (mergeable TypedImperativeAggregate; see
    * [[HeavyHittersAgg]] for the guarantee and the re-count contract). */
  def heavyHitters(item: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(HeavyHittersName, item, lit(k))
  }

  def nfcNormalize(s: Column): Column = call_function(NfcName, s)

  def stripAccents(s: Column): Column = call_function(StripAccentsName, s)

  def deflateRatio(s: Column): Column = call_function(DeflateRatioName, s)

  /** Hilbert curve index of an integer point (codegen'd loop; inputs
    * cast to long and masked to `bits` bits — see [[HilbertIndexExpr]]). */
  def hilbertIndex(x: Column, y: Column, bits: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(HilbertName, x.cast("long"), y.cast("long"), lit(bits))
  }

  /** Viterbi-optimal unigram-LM segmentation of a pretoken under a
    * LITERAL vocabulary (bounded driver-side collect — the BPE-merge
    * contract); see [[UnigramSegmentExpr]]. Pieces joined with U+001F;
    * null = uncoverable (true OOV character). */
  def unigramSegment(word: Column, pieces: Seq[String],
                     scores: Seq[Long]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(UnigramSegmentName, word,
      typedLit(pieces), typedLit(scores))
  }

  /** Per-term Aho–Corasick occurrence counts (`array<long>` indexed by
    * the dictionary's declared order; overlapping + nested matches all
    * count) under a LITERAL term dictionary — one text pass regardless
    * of dictionary size; see [[AhoCountsExpr]]. */
  def ahoCounts(text: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(AhoCountsName, text, typedLit(terms))
  }

  /** [[ahoCounts]] under the case/NFC fold ([[CaseFold]]): terms and
    * text pass through the same lowercase+NFC map, so a lowercase
    * dictionary hits "VIAGRA" and a decomposed-accent "Café". */
  def ahoFoldCounts(text: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(AhoFoldCountsName, text, typedLit(terms))
  }

  /** Greedy leftmost-longest non-overlapping masking of every
    * dictionary term (= regexp_replace with a longest-first
    * alternation, at automaton cost); see [[AhoScrubExpr]]. */
  def ahoScrub(text: Column, terms: Seq[String], repl: String): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function(AhoScrubName, text, typedLit(terms), lit(repl))
  }

  /** [[ahoScrub]] under the case/NFC fold: matching runs on the folded
    * stream, masking lands on original-text spans via the offset map —
    * unmatched text keeps its case and form; see [[AhoScrubExpr]]. */
  def ahoFoldScrub(text: Column, terms: Seq[String], repl: String): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function(AhoFoldScrubName, text, typedLit(terms), lit(repl))
  }

  /** Longest-common-subsequence length of two token arrays — ROUGE-L's
    * matching core, as a row-local two-row DP; see [[LcsLenExpr]]. */
  def lcsLen(a: Column, b: Column): Column = call_function(LcsLenName, a, b)

  /** Levenshtein edit distance over TOKEN arrays — the word-error-rate
    * / TER-without-shifts core, as a row-local two-row DP; see
    * [[TokenEditExpr]]. */
  def tokenEdit(a: Column, b: Column): Column =
    call_function(TokenEditName, a, b)

  /** Greedy longest-match-first WordPiece segmentation of a word under
    * a LITERAL vocabulary ("x" initial / "##x" continuation pieces;
    * unmatchable words collapse to ["[UNK]"]); see
    * [[WordPieceSegmentExpr]]. */
  def wordpieceSegment(word: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(WordPieceSegmentName, word, typedLit(vocab))
  }
}
