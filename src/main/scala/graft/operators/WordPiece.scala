package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** WordPiece tokenizer training and application (Schuster & Nakajima,
  * ICASSP 2012; the BERT tokenizer family) — the third trainer family
  * beside the BPE lane (frequency-ranked merges) and the unigram-LM
  * lane (EM-pruned Viterbi vocabulary). WordPiece's distinguishing
  * rule is the MERGE SCORE: it fuses the adjacent symbol pair
  * maximizing count(lhs·rhs) / (count(lhs)·count(rhs)) — the pair
  * whose fusion most raises corpus likelihood under a unigram model —
  * where BPE takes raw pair count.
  *
  * Representation: words split to characters, the first in plain form
  * and the rest in "##" continuation form (the BERT convention —
  * word-initial "a" and word-internal "##a" are DIFFERENT symbols, so
  * merges never conflate positions). Symbols join on U+001F and the
  * rep is ANCHORED (a separator at both ends), so a merge's string
  * replace `⟂lhs⟂rhs⟂ → ⟂merged⟂` can only align with true symbol
  * boundaries — never with a symbol suffix/prefix pair (the classic
  * naive-replace BPE corruption). Words containing '#' are excluded
  * from training and application: the continuation marker reserves the
  * character (the same reservation the BERT vocabulary makes).
  *
  * Scale shape (the BPE trainer's): every round runs on the
  * (word, count) VOCABULARY relation — corpus size enters only through
  * the initial pretoken count; a round is one explode + two weighted
  * aggregations + one argmax collect of a single row (the documented
  * O(1) driver scalar). The merge score compares EXACTLY across
  * engines: pair and symbol counts are exact longs, the score is one
  * IEEE-754 double division of exact doubles (counts ≤ 2²⁶ keep the
  * denominator product below 2⁵³ — exact), and division is
  * bit-specified by IEEE 754, unlike the transcendental functions the
  * LM lane quantizes around.
  *
  * Application is the greedy longest-match-first rule
  * ([[graft.functions.native.WordPieceSegmentExpr]]) — deliberately a
  * different algorithm from training's merge replay, as in real
  * WordPiece stacks; unmatchable words collapse to ["[UNK]"].
  *
  * Reference scope note: the reference repo (bigdata-scala-offline-
  * data-clean) has no tokenizer machinery; this extends the
  * training-data-pipeline surface.
  */
object WordPiece {

  /** Symbol separator inside a word's representation — U+001F, never
    * in corpus text (the BPE lane's convention). */
  val Sep = "\u001f"

  /** Lowercased whitespace pretokens eligible for WordPiece: nonempty,
    * '#'-free (the continuation marker's reservation), separator-free. */
  def pretokens(docsDf: DataFrame, textCol: String): DataFrame =
    docsDf
      .select(explode(TextFns.words(col(textCol))).as("word"))
      .where(length(col("word")) >= 1 &&
        !col("word").contains("#") && !col("word").contains(Sep))

  /** Anchored initial representation of a word:
    * `⟂c₀⟂##c₁⟂##c₂⟂` — first char plain, the rest in continuation
    * form, separators at both ends so merge replaces align only with
    * whole symbols. */
  private def initialRep(w: Column): Column = {
    val head = substring(w, 1, 1)
    val tailChars = w.substr(lit(2), length(w))
    when(length(w) === 1, concat(lit(Sep), w, lit(Sep)))
      .otherwise(concat(lit(Sep), head, lit(Sep),
        array_join(transform(split(tailChars, ""),
          c => concat(lit("##"), c)), Sep), lit(Sep)))
  }

  /** The (word, count) vocabulary relation in anchored rep form —
    * the trainer's working set. */
  private def vocabRelation(docsDf: DataFrame, textCol: String): DataFrame =
    pretokens(docsDf, textCol)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), initialRep(col("word")).as("rep"))

  /** Filtered symbol array of a rep (the anchoring leaves empty
    * first/last split cells — dropped here). */
  private def symsOf(rep: Column): Column =
    filter(split(rep, Sep), s => s =!= "")

  /** A merged symbol: lhs ++ rhs with rhs's continuation marker
    * stripped (a pair's right side is never word-initial, so the
    * marker is structural, not content). */
  private def mergedSym(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  /** Train `rounds` WordPiece merges. Returns the learned merge table
    * (ord, lhs, rhs, pair_count, lhs_count, rhs_count) — all exact
    * longs; the selection score pair_count/(lhs_count·rhs_count) is
    * derived, not stored, so the gate hashes only integers.
    *
    * A round with NO adjacent pair left (every word fused to a single
    * symbol, or an empty/ineligible corpus) ends training early with
    * the merges learned so far — possibly zero rows — rather than
    * failing mid-job on an empty argmax. */
  def trainMerges(docsDf: DataFrame, textCol: String,
                  rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be 1..8, got $rounds")
    val spark = docsDf.sparkSession
    var vocab = vocabRelation(docsDf, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      vocab.count()
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long, Long, Long)]
      for (r <- 1 to rounds) {
        val withSyms = vocab.withColumn("syms", symsOf(col("rep")))
        val symCounts = withSyms
          .select(col("cnt"), explode(col("syms")).as("sym"))
          .groupBy(col("sym")).agg(sum(col("cnt")).as("c"))
        val pairCounts = withSyms.where(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(syms) - 1)," +
              " i -> named_struct('lhs', syms[i-1], 'rhs', syms[i]))"))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("pair_count"))
        // symbol alphabets are bounded (chars + learned merges), so
        // both count relations broadcast; the argmax collects ONE row
        val bestRows = pairCounts
          .join(broadcast(symCounts.select(col("sym").as("lhs"),
            col("c").as("lhs_count"))), Seq("lhs"))
          .join(broadcast(symCounts.select(col("sym").as("rhs"),
            col("c").as("rhs_count"))), Seq("rhs"))
          .orderBy((col("pair_count").cast("double") /
            (col("lhs_count") * col("rhs_count")).cast("double")).desc,
            col("lhs"), col("rhs"))
          .limit(1)
          .select(col("lhs"), col("rhs"), col("pair_count"),
            col("lhs_count"), col("rhs_count"))
          .collect()
        if (bestRows.isEmpty) {
          // nothing left to fuse: corpus exhausted, stop early
          import spark.implicits._
          return merges.toSeq.toDF("ord", "lhs", "rhs", "pair_count",
            "lhs_count", "rhs_count")
        }
        val best = bestRows(0)
        val (l, rr) = (best.getString(0), best.getString(1))
        merges += ((r.toLong, l, rr, best.getLong(2), best.getLong(3),
          best.getLong(4)))
        vocab = vocab.withColumn("rep",
          org.apache.spark.sql.functions.replace(col("rep"),
            lit(Sep + l + Sep + rr + Sep),
            lit(Sep + mergedSym(l, rr) + Sep)))
      }
      import spark.implicits._
      merges.toSeq
        .toDF("ord", "lhs", "rhs", "pair_count", "lhs_count", "rhs_count")
    } finally { vocab.unpersist(false); () }
  }

  /** The segmentation vocabulary after replaying `merges` over the
    * corpus rep: every symbol still OCCURRING in the merged corpus
    * (single chars that were always fused drop out — authentic
    * WordPiece, where the vocabulary is the observed symbol set).
    * Bounded collect: |alphabet| + |merges| entries. */
  def finalSymbols(docsDf: DataFrame, textCol: String,
                   merges: Seq[(String, String)]): Seq[String] = {
    val rep0 = vocabRelation(docsDf, textCol)
    val repN = merges.foldLeft(rep0) { case (df, (l, r)) =>
      df.withColumn("rep",
        org.apache.spark.sql.functions.replace(col("rep"),
          lit(Sep + l + Sep + r + Sep), lit(Sep + mergedSym(l, r) + Sep)))
    }
    repN.select(explode(symsOf(col("rep"))).as("sym"))
      .distinct().orderBy(col("sym"))
      .collect().map(_.getString(0)).toSeq
  }

  /** Greedy longest-match segmentation of a word relation under a
    * literal vocabulary: (wordCol, pieces ⟂-joined, n_pieces, is_unk).
    * is_unk is 0/1 long — the all-or-nothing [UNK] collapse. */
  def segmentWords(words: DataFrame, wordCol: String,
                   vocab: Seq[String]): DataFrame = {
    words
      .withColumn("__pieces", graft.functions.native.NativeFns
        .wordpieceSegment(col(wordCol), vocab))
      .select(col(wordCol),
        array_join(col("__pieces"), Sep).as("pieces"),
        size(col("__pieces")).cast("long").as("n_pieces"),
        when(col("__pieces") === typedLit(Seq("[UNK]")), 1L)
          .otherwise(0L).as("is_unk"))
  }
}
