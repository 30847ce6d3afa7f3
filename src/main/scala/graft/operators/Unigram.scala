package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.functions.native.{NativeFns, UnigramSegmentExpr}

/** Unigram-LM (SentencePiece-style) tokenizer — the probabilistic
  * sibling of the library's BPE lane (Kudo, ACL 2018 vs Sennrich 2016):
  * where BPE greedily merges the most frequent pair, the unigram model
  * scores every vocabulary piece by its corpus log-likelihood and
  * segments each pretoken VITERBI-OPTIMALLY — the segmentation real
  * multilingual tokenizers ship, because it recovers from bad merges
  * BPE is stuck with.
  *
  * Everything runs on the (word, count) VOCABULARY table, the shape
  * real trainers use — corpus size enters only through the initial
  * word count aggregation:
  *
  *  - candidate generation ([[pieceCounts]]): one bounded explode
  *    (≤ maxWordLen · MaxPieceLen substrings per unique word) into a
  *    partial-combined hash aggregate;
  *  - vocabulary selection ([[trainVocab]]): every single character
  *    (coverage guarantee: no pretoken is ever uncoverable) plus the
  *    top-`topMulti` longer pieces by (count desc, piece) — a
  *    TakeOrdered, never a global sort; scores are floor(ln·10⁶)
  *    micro-nats (the LanguageModel quantization device), so the
  *    downstream DP is exact integer arithmetic a SQL oracle replays;
  *  - segmentation ([[segmentWords]]): the vocabulary is a bounded
  *    driver-side collect (KBs — the BPE-merge contract) shipped as a
  *    literal into the codegen'd
  *    [[graft.functions.native.UnigramSegmentExpr]]; row-local, no
  *    shuffle, no UDF;
  *  - hard-EM usage recount ([[usageReport]]): one explode of the
  *    segmentations into a hash aggregate — the E-step statistics
  *    driving vocabulary pruning (pieces Viterbi never uses are dead
  *    weight; real trainers iterate this until the vocab budget).
  *
  * At 100 TB: unique-word cardinality, not corpus bytes, bounds every
  * stage after the first aggregate; the segmentation expression is
  * O(len · MaxPieceLen) per word inside WholeStageCodegen.
  */
object Unigram {

  /** Piece separator in segmentation strings (U+001F — the BPE
    * representation convention; never occurs in whitespace-split
    * pretokens). */
  val Sep: String = "\u001f"

  /** Word-frequency table over whitespace pretokens of
    * lower(trim(text)), capped at `maxWordLen` characters (the cap
    * bounds the oracle's DP unroll; the segmentation expression itself
    * handles any length). */
  def wordCounts(docs: DataFrame, textCol: String,
                 maxWordLen: Int): DataFrame =
    docs.select(explode(TextFns.words(col(textCol))).as("w"))
      .where(length(col("w")).between(1, maxWordLen))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Candidate piece counts: every substring of length
    * 1..[[UnigramSegmentExpr.MaxPieceLen]] of every unique word, one
    * count per OCCURRENCE weighted by word frequency. */
  def pieceCounts(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(expr(
      "flatten(transform(sequence(1, length(w)), i -> " +
        s"transform(sequence(1, least(${UnigramSegmentExpr.MaxPieceLen}, " +
        "length(w) - i + 1)), l -> substring(w, i, l))))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))

  /** Seed vocabulary: all single characters + the top-`topMulti`
    * multi-character pieces, scored in quantized micro-nats —
    * score(p) = ⌊ln(cnt_p)·10⁶⌋ − ⌊ln(Σcnt)·10⁶⌋ < 0, so Viterbi
    * prefers few high-likelihood pieces. Output: (piece, cnt, score,
    * is_char). */
  def trainVocab(docs: DataFrame, textCol: String, topMulti: Int,
                 maxWordLen: Int): DataFrame = {
    val pc = pieceCounts(wordCounts(docs, textCol, maxWordLen))
    val chars = pc.where(length(col("piece")) === 1)
      .withColumn("is_char", lit(true))
    val multi = pc.where(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(topMulti)
      .withColumn("is_char", lit(false))
    val vraw = chars.unionByName(multi)
    val tot = vraw.agg(sum(col("cnt")).as("__t"))
    vraw.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("long") -
          floor(log(col("__t").cast("double")) * lit(1e6d)).cast("long"))
          .as("score"),
        col("is_char"))
  }

  /** Viterbi-segment a (w, cnt) word table under a collected
    * vocabulary: adds `seg` (pieces joined with [[Sep]]) and
    * `n_pieces`. Total over ANY text: an out-of-vocabulary character
    * becomes its own fallback piece at the
    * [[graft.functions.native.UnigramSegmentExpr.UnkScore]] floor
    * (SentencePiece's char fallback), so applying a trained artifact
    * to NEW text degrades per unseen codepoint instead of nulling
    * whole words. */
  def segmentWords(words: DataFrame,
                   vocab: Seq[(String, Long)]): DataFrame =
    words.withColumn("seg",
      NativeFns.unigramSegment(col("w"), vocab.map(_._1),
        vocab.map(_._2)))
      .withColumn("n_pieces",
        size(split(col("seg"), Sep, -1)).cast("long"))

  /** Hard-EM M-step: the usage report of one Viterbi pass becomes the
    * NEXT round's vocabulary — unused multi-char pieces drop, the
    * survivors re-score from their Viterbi usage (floored at one
    * occurrence, so always-kept characters whose solo usage is zero
    * keep a finite log). Iterating segment → usage → rescore is the
    * unigram trainer's pruning loop; one round is oracle-gated end to
    * end as x_unigram_prune. */
  def rescoreFromUsage(usage: DataFrame): DataFrame = {
    val kept = usage.where(col("kept"))
      .select(col("piece"),
        greatest(col("usage"), lit(1L)).as("cnt"),
        (length(col("piece")) === 1).as("is_char"))
    val tot = kept.agg(sum(col("cnt")).as("__t"))
    kept.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("long") -
          floor(log(col("__t").cast("double")) * lit(1e6d)).cast("long"))
          .as("score"),
        col("is_char"))
  }

  /** Hard-EM E-step: per-piece usage under the Viterbi segmentation
    * (occurrences × word frequency), joined back onto the vocabulary
    * with the prune verdict — characters are always kept (coverage),
    * an unused multi-char piece is dead weight. Output: (piece, cnt,
    * usage, kept).
    *
    * OOV fallback pieces — seg pieces that are NOT vocabulary entries
    * (possible only when segmenting text outside the training corpus)
    * — are accounted EXPLICITLY as one `<unk>` row (cnt 0, summed
    * usage, kept = false: the fallback is structural, never a
    * vocabulary entry a prune round should carry). The row appears
    * only when fallback actually fired, so training-corpus reports
    * are unchanged. `<unk>` (5 chars) can never collide with a real
    * piece (pieces are capped at MaxPieceLen = 4). */
  def usageReport(segmented: DataFrame, vocab: DataFrame): DataFrame = {
    val usage = segmented
      .select(col("cnt"), explode(split(col("seg"), Sep, -1)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("usage"))
    val known = vocab.join(usage, Seq("piece"), "left")
      .select(col("piece"), col("cnt"),
        coalesce(col("usage"), lit(0L)).as("usage"),
        (coalesce(col("usage"), lit(0L)) > 0L || col("is_char"))
          .as("kept"))
    val unk = usage
      .join(broadcast(vocab.select(col("piece"))), Seq("piece"), "left_anti")
      .agg(sum(col("usage")).as("usage"))
      .where(col("usage").isNotNull)
      .select(lit("<unk>").as("piece"), lit(0L).as("cnt"),
        col("usage"), lit(false).as("kept"))
    known.unionByName(unk)
  }

  /** [[rescoreFromUsage]] under a VOCABULARY BUDGET — the loop step of
    * a real unigram trainer (Kudo ACL'18 prunes to a target |V|): keep
    * every single character (coverage — the floor below which the
    * budget cannot cut, so |V| after a round is max(budget, n_chars)),
    * then the top multi-char pieces by (usage desc, piece) up to
    * `budget − n_chars`, and re-score survivors from usage. The
    * ranking window runs over the KB-scale vocabulary relation, never
    * corpus data. */
  def rescoreToBudget(usage: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, s"vocab budget must be >= 1, got $budget")
    import org.apache.spark.sql.expressions.Window
    val kept = usage.where(col("kept"))
      .select(col("piece"), greatest(col("usage"), lit(1L)).as("cnt"),
        (length(col("piece")) === 1).as("is_char"))
    val nChars = kept.where(col("is_char")).agg(count(lit(1)).as("__nc"))
    val ranked = kept.withColumn("__r",
      when(col("is_char"), lit(0L)).otherwise(
        row_number().over(Window.partitionBy(col("is_char"))
          .orderBy(col("cnt").desc, col("piece"))).cast("long")))
    val cut = ranked.crossJoin(broadcast(nChars))
      .where(col("is_char") ||
        col("__r") <= greatest(lit(budget.toLong) - col("__nc"), lit(0L)))
      .select(col("piece"), col("cnt"), col("is_char"))
    val tot = cut.agg(sum(col("cnt")).as("__t"))
    cut.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("long") -
          floor(log(col("__t").cast("double")) * lit(1e6d)).cast("long"))
          .as("score"),
        col("is_char"))
  }

  /** Fixed-rounds budgeted hard-EM training loop: segment → usage →
    * budget-cut → rescore, `rounds` times from `vocab0`. Fixed rounds
    * (not until-converged) keep the SQL oracle's unroll bounded —
    * x_unigram_budget replays two full rounds; `train_tokenizer` runs
    * this under its vocab-budget option. Per round: one row-local
    * Viterbi pass over the unique-word table, one usage aggregation,
    * and a KB-scale vocabulary collect (the BPE-merge contract). |V|
    * shrinks monotonically to max(budget, n_chars) (UnigramSpec pins
    * shrink + coverage). */
  def trainToBudget(words: DataFrame, vocab0: DataFrame, budget: Int,
                    rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var v = vocab0
    for (_ <- 1 to rounds) {
      val vocabLit = v.orderBy(col("piece")).collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq
      v = rescoreToBudget(usageReport(segmentWords(words, vocabLit), v),
        budget)
    }
    v
  }
}
