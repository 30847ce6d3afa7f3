package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.native._

/** Cluster-grade registration of graft's native Catalyst expressions.
  *
  * On a real deployment the library's functions should exist in every
  * session from the moment it is built — not be patched into the
  * registry by the first table load — so this is the standard Spark
  * plug-in shape:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  * Injected functions become catalog-resolvable in SQL text
  * (`SELECT graft_dot(a, b)`) as well as through the
  * [[graft.functions.native.NativeFns]] Column wrappers.
  *
  * `NativeFns.register` remains as the sessionized fallback for
  * sessions built without the extension (e.g. the driver's own
  * harness), and both paths install the exact same builders.
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
  /** (name, one-line doc, builder) for every native expression; the
    * single source of truth shared by the extension injection and
    * NativeFns.register. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    (NativeFns.DotName,
      "graft_dot(a, b) - double-array dot product (codegen'd)",
      es => DotProductExpr(es(0), es(1))),
    (NativeFns.MinhashName,
      "graft_minhash_sig(hashes) - 16-slot MinHash signature, one pass",
      es => MinhashSigExpr(es.head)),
    (NativeFns.LshName,
      "graft_lsh_buckets(vec, tables, bits) - hyperplane LSH bucket ids",
      es => LshBucketsExpr(es(0),
        es(1).eval().asInstanceOf[Int],
        es(2).eval().asInstanceOf[Int])),
    (NativeFns.ShingleHashesName,
      "graft_shingle_hashes(text, k) - distinct poly-hashes of k-shingles",
      es => ShingleHashesExpr(es(0), es(1).eval().asInstanceOf[Int])),
    (NativeFns.PosShingleHashesName,
      "graft_pos_shingle_hashes(text, k) - positional poly-hashes, one pass",
      es => PositionalShingleHashesExpr(es(0), es(1).eval().asInstanceOf[Int])),
    (NativeFns.JaccardName,
      "graft_jaccard(a, b) - Jaccard similarity of two long arrays",
      es => JaccardExpr(es(0), es(1))),
    (NativeFns.SimhashName,
      "graft_simhash(text) - 48-bit SimHash over token hashes, one pass",
      es => SimhashExpr(es.head)),
    (NativeFns.ArgMaxLongName,
      "graft_argmax_long(ord, tie) - tie value of the max-ord row " +
        "(ties to smallest tie); primitive-buffer hash aggregate",
      es => ArgMaxLongAgg(es(0), es(1))),
    (NativeFns.HeavyHittersName,
      "graft_heavy_hitters(item, k) - Misra-Gries candidate heavy hitters",
      es => HeavyHittersAgg(es(0), es(1).eval().asInstanceOf[Int])),
    (NativeFns.NfcName,
      "graft_nfc(s) - Unicode NFC canonical normalization",
      es => NfcNormalizeExpr(es.head)),
    (NativeFns.StripAccentsName,
      "graft_strip_accents(s) - NFD, drop combining marks, recompose",
      es => StripAccentsExpr(es.head)),
    (NativeFns.DeflateRatioName,
      "graft_deflate_ratio(s) - deflate-compressed/raw byte ratio",
      es => DeflateRatioExpr(es.head)),
    (NativeFns.HilbertName,
      "graft_hilbert(x, y, bits) - Hilbert curve index of a 2-D point",
      es => {
        // bits is baked into the generated loop, so it must be a
        // foldable literal — validated HERE as an AnalysisException
        // (arity, foldability, numeric type), not a ClassCastException
        // or IndexOutOfBounds at analysis (ADVICE r9)
        if (es.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              s"graft_hilbert expects (x, y, bits), got ${es.length} arguments"))
        if (!es(2).foldable)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              "graft_hilbert bits must be a literal (foldable) integer"))
        val bits = es(2).eval() match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.intValue()
          case s: java.lang.Short => s.intValue()
          case b: java.lang.Byte => b.intValue()
          case other => throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              s"graft_hilbert bits must be integral, got $other"))
        }
        HilbertIndexExpr(es(0), es(1), bits)
      }),
    (NativeFns.UnigramSegmentName,
      "graft_unigram_segment(word, pieces, scores) - Viterbi unigram-LM " +
        "segmentation under a literal vocabulary",
      es => UnigramSegmentExpr(es(0), es(1), es(2))),
    (NativeFns.AhoFoldCountsName,
      "graft_aho_fold_counts(text, terms) - aho counts under the " +
        "case/NFC fold (terms and text fold through the same map)",
      es => {
        if (es.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              "graft_aho_fold_counts expects (text, terms)"))
        AhoCountsExpr(es(0), es(1), fold = true)
      }),
    (NativeFns.AhoFoldScrubName,
      "graft_aho_fold_scrub(text, terms, repl) - leftmost-longest " +
        "masking under the case/NFC fold; original-text spans masked",
      es => {
        if (es.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              "graft_aho_fold_scrub expects (text, terms, repl)"))
        AhoScrubExpr(es(0), es(1), es(2), fold = true)
      }),
    (NativeFns.LcsLenName,
      "graft_lcs_len(a, b) - longest-common-subsequence length of two " +
        "token arrays (ROUGE-L core)",
      es => LcsLenExpr(es(0), es(1))),
    (NativeFns.TokenEditName,
      "graft_tok_edit(a, b) - Levenshtein edit distance over token " +
        "arrays (word-error-rate core)",
      es => TokenEditExpr(es(0), es(1))),
    (NativeFns.WordPieceSegmentName,
      "graft_wordpiece_segment(word, vocab) - greedy longest-match " +
        "WordPiece segmentation under a literal vocabulary",
      es => WordPieceSegmentExpr(es(0), es(1))),
    (NativeFns.CmCellsName,
      "graft_cm_cells(key, depth, width) - Count-Min md5-fold cell " +
        "vector of a string key, one pass",
      es => CmCellsExpr(es(0),
        es(1).eval().asInstanceOf[Int],
        es(2).eval().asInstanceOf[Int])),
    (NativeFns.VocabHitsName,
      "graft_vocab_hits(text, vocab) - sorted distinct vocabulary " +
        "tokens of lower(trim(text)), one pass",
      es => VocabHitsExpr(es(0), es(1))),
    (NativeFns.AhoCountsName,
      "graft_aho_counts(text, terms) - per-term Aho-Corasick occurrence " +
        "counts under a literal dictionary",
      es => {
        if (es.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              s"graft_aho_counts expects (text, terms), got ${es.length} arguments"))
        AhoCountsExpr(es(0), es(1))
      }),
    (NativeFns.AhoScrubName,
      "graft_aho_scrub(text, terms, repl) - leftmost-longest " +
        "non-overlapping masking of a literal dictionary",
      es => {
        if (es.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_1332",
            messageParameters = Map("errorMessage" ->
              s"graft_aho_scrub expects (text, terms, repl), got ${es.length} arguments"))
        AhoScrubExpr(es(0), es(1), es(2))
      }))
}
