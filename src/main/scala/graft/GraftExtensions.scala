package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.native._

/** The one way graft's native Catalyst expressions and its optimizer
  * rule ([[graft.plans.RegexPrefixPruning]]) get into a session: the
  * standard Spark plug-in shape, applied when the session is built.
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * [[Session.local]] (every main) sets the same conf, and so do the
  * test session and perfbench; a caller-owned session needs it too.
  * Injected functions are catalog-resolvable in SQL text
  * (`SELECT graft_dot(a, b)`) as well as through the
  * [[graft.functions.native.NativeFns]] Column wrappers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.RegexPrefixPruning)
    GraftExtensions.functions.foreach { case (name, doc, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        // 5-arg ctor is (className, db, name, usage, extended) — the
        // 3-arg one is (className, db, NAME), not (className, name, doc)
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          doc, ""),
        builder))
    }
  }
}

object GraftExtensions {

  /** One registry row `(name, doc, builder)`. The builder checks the
    * call before it builds: exactly `arity` arguments, and at each index
    * in `intArgs` a foldable integral literal in int range (those values
    * are baked into the expression, so they must be known at analysis;
    * `build` reads them with [[intArg]]). SQL text is outside input, so
    * a bad call fails as an AnalysisException that names the function,
    * never as an IndexOutOfBounds or a ClassCastException. */
  private def fn(name: String, doc: String, arity: Int, intArgs: Int*)(
      build: Seq[Expression] => Expression)
      : (String, String, Seq[Expression] => Expression) =
    (name, doc, es => {
      val usage = doc.split(" - ", 2).head
      def fail(msg: String): Nothing = throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_1332",
        messageParameters = Map("errorMessage" -> s"$usage: $msg"))
      if (es.length != arity)
        fail(s"expects $arity arguments, got ${es.length} arguments")
      intArgs.foreach { i =>
        if (!es(i).foldable)
          fail(s"argument ${i + 1} must be a literal (foldable) integer")
        es(i).eval() match {
          case v @ (_: java.lang.Byte | _: java.lang.Short |
                    _: java.lang.Integer | _: java.lang.Long)
              if v.asInstanceOf[Number].longValue.isValidInt =>
          case other =>
            fail(s"argument ${i + 1} must be an int-range integer, got $other")
        }
      }
      build(es)
    })

  /** An integer argument that [[fn]] has checked. */
  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue

  /** (name, one-line doc, builder) for every native expression. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn(NativeFns.DotName,
      "graft_dot(a, b) - double-array dot product (codegen'd)", 2)(
      es => DotProductExpr(es(0), es(1))),
    fn(NativeFns.MinhashName,
      "graft_minhash_sig(hashes) - 16-slot MinHash signature, one pass", 1)(
      es => MinhashSigExpr(es(0))),
    fn(NativeFns.LshName,
      "graft_lsh_buckets(vec, tables, bits) - hyperplane LSH bucket ids",
      3, 1, 2)(
      es => LshBucketsExpr(es(0), intArg(es(1)), intArg(es(2)))),
    fn(NativeFns.ShingleHashesName,
      "graft_shingle_hashes(text, k) - distinct poly-hashes of k-shingles",
      2, 1)(
      es => ShingleHashesExpr(es(0), intArg(es(1)))),
    fn(NativeFns.PosShingleHashesName,
      "graft_pos_shingle_hashes(text, k) - positional poly-hashes, one pass",
      2, 1)(
      es => PositionalShingleHashesExpr(es(0), intArg(es(1)))),
    fn(NativeFns.JaccardName,
      "graft_jaccard(a, b) - Jaccard similarity of two long arrays", 2)(
      es => JaccardExpr(es(0), es(1))),
    fn(NativeFns.SimhashName,
      "graft_simhash(text) - 48-bit SimHash over token hashes, one pass", 1)(
      es => SimhashExpr(es(0))),
    fn(NativeFns.ArgMaxLongName,
      "graft_argmax_long(ord, tie) - tie value of the max-ord row " +
        "(ties to smallest tie); primitive-buffer hash aggregate", 2)(
      es => ArgMaxLongAgg(es(0), es(1))),
    fn(NativeFns.HeavyHittersName,
      "graft_heavy_hitters(item, k) - Misra-Gries candidate heavy hitters",
      2, 1)(
      es => HeavyHittersAgg(es(0), intArg(es(1)))),
    fn(NativeFns.NfcName,
      "graft_nfc(s) - Unicode NFC canonical normalization", 1)(
      es => NfcNormalizeExpr(es(0))),
    fn(NativeFns.StripAccentsName,
      "graft_strip_accents(s) - NFD, drop combining marks, recompose", 1)(
      es => StripAccentsExpr(es(0))),
    fn(NativeFns.DeflateRatioName,
      "graft_deflate_ratio(s) - deflate-compressed/raw byte ratio", 1)(
      es => DeflateRatioExpr(es(0))),
    fn(NativeFns.HilbertName,
      "graft_hilbert(x, y, bits) - Hilbert curve index of a 2-D point",
      3, 2)(
      es => HilbertIndexExpr(es(0), es(1), intArg(es(2)))),
    fn(NativeFns.UnigramSegmentName,
      "graft_unigram_segment(word, pieces, scores) - Viterbi unigram-LM " +
        "segmentation under a literal vocabulary", 3)(
      es => UnigramSegmentExpr(es(0), es(1), es(2))),
    fn(NativeFns.AhoFoldCountsName,
      "graft_aho_fold_counts(text, terms) - aho counts under the " +
        "case/NFC fold (terms and text fold through the same map)", 2)(
      es => AhoCountsExpr(es(0), es(1), fold = true)),
    fn(NativeFns.AhoFoldScrubName,
      "graft_aho_fold_scrub(text, terms, repl) - leftmost-longest " +
        "masking under the case/NFC fold; original-text spans masked", 3)(
      es => AhoScrubExpr(es(0), es(1), es(2), fold = true)),
    fn(NativeFns.LcsLenName,
      "graft_lcs_len(a, b) - longest-common-subsequence length of two " +
        "token arrays (ROUGE-L core)", 2)(
      es => LcsLenExpr(es(0), es(1))),
    fn(NativeFns.TokenEditName,
      "graft_tok_edit(a, b) - Levenshtein edit distance over token " +
        "arrays (word-error-rate core)", 2)(
      es => TokenEditExpr(es(0), es(1))),
    fn(NativeFns.WordPieceSegmentName,
      "graft_wordpiece_segment(word, vocab) - greedy longest-match " +
        "WordPiece segmentation under a literal vocabulary", 2)(
      es => WordPieceSegmentExpr(es(0), es(1))),
    fn(NativeFns.CmCellsName,
      "graft_cm_cells(key, depth, width) - Count-Min md5-fold cell " +
        "vector of a string key, one pass", 3, 1, 2)(
      es => CmCellsExpr(es(0), intArg(es(1)), intArg(es(2)))),
    fn(NativeFns.VocabHitsName,
      "graft_vocab_hits(text, vocab) - sorted distinct vocabulary " +
        "tokens of lower(trim(text)), one pass", 2)(
      es => VocabHitsExpr(es(0), es(1))),
    fn(NativeFns.AhoCountsName,
      "graft_aho_counts(text, terms) - per-term Aho-Corasick occurrence " +
        "counts under a literal dictionary", 2)(
      es => AhoCountsExpr(es(0), es(1))),
    fn(NativeFns.AhoScrubName,
      "graft_aho_scrub(text, terms, repl) - leftmost-longest " +
        "non-overlapping masking of a literal dictionary", 3)(
      es => AhoScrubExpr(es(0), es(1), es(2))))
}
