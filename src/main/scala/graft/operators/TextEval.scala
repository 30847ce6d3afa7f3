package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Generation-eval overlap metrics — ROUGE-n/ROUGE-L precision/recall/
  * F1 and BLEU's clipped modified n-gram precision (Papineni et al.,
  * ACL 2002; Lin, ACL 2004) — in the library's exact-integer
  * basis-point arithmetic, so a SQL oracle reproduces every value
  * bit-for-bit.
  *
  * The multiset clip Σ_g min(count_cand(g), count_ref(g)) is computed
  * RELATIONALLY, and in ONE text pass per pair: both sides' n-grams
  * for every requested n stream through a single tagged generator
  * (n, side, gram), counts aggregate once on (pair, n, gram) with the
  * sides as conditional counts, and clip + totals reduce per
  * (pair, n). That is the shape that survives 100 TB — no
  * candidate×reference join, no per-n re-tokenization, no per-row
  * O(|doc|²) comparison — and the shuffle key (pair id, n, gram) is
  * fine-grained enough that hot pairs spread. ROUGE-L's LCS is the
  * row-local native DP [[graft.functions.native.LcsLenExpr]] — zero
  * exchanges.
  *
  * ID CONTRACT: `idCol` must be unique per pair-row. The per-gram
  * aggregation keys on it, so two rows sharing an id would have their
  * gram multisets merged and their metrics silently corrupted — there
  * is no cheap distributed way to detect that without an extra
  * aggregation, so the contract is the caller's (same as the dedup
  * screens' unique-doc-id ingest contract).
  *
  * Reference scope note: the reference repo has no text-eval metrics;
  * this extends the training-data-pipeline surface (eval-metrics
  * family beside AUC/PR/calibration).
  */
object TextEval {

  /** The shared overlap engine: for each requested n, per-pair
    * (clip, n_cand, n_ref) — ONE explode over a side- and n-tagged
    * gram stream, ONE (pair, n, gram) aggregation with conditional
    * side counts (so the clip needs no join: a gram absent from one
    * side contributes least(c, 0) = 0), ONE (pair, n) reduction.
    * The tokenization lives in a sub-projection referenced by every
    * gram builder — CollapseProject keeps a non-cheap multi-referenced
    * alias as its own project (the Blocklist.policyReport device), so
    * each side splits exactly once per row.
    *
    * Pairs whose BOTH sides have no n-grams for some n emit no row for
    * that (pair, n); callers re-anchor on the pair universe (a
    * column-pruned id scan) and zero-fill. n = 1 always emits (the
    * tokenizer maps "" to [""]), matching the documented tokenization.
    */
  private def overlapStats(pairs: DataFrame, idCol: String,
                           candCol: String, refCol: String,
                           ns: Seq[Int]): DataFrame = {
    require(ns.contains(1) && ns.forall(_ >= 1))
    val id = col(idCol)
    val base = pairs.select(id,
      TextFns.words(col(candCol)).as("ct"),
      TextFns.words(col(refCol)).as("rt"))
    // unigrams are the tokens themselves (ns holds 1), so a null side
    // (null text) nulls the flatten/concat below and drops the pair's
    // whole gram stream
    def tagged(t: Column, side: Int): Column =
      flatten(array(ns.map { n =>
        transform(if (n == 1) t else TextFns.wordGrams(t, n), g =>
          struct(lit(n).as("n"), lit(side).as("side"), g.as("g")))
      }: _*))
    base
      .select(id, explode(
        concat(tagged(col("ct"), 0), tagged(col("rt"), 1))).as("u"))
      .select(id, col("u.n").as("n"), col("u.side").as("side"),
        col("u.g").as("g"))
      .groupBy(id, col("n"), col("g"))
      .agg(count(when(col("side") === 0, 1)).as("cc"),
        count(when(col("side") === 1, 1)).as("cr"))
      .groupBy(id, col("n"))
      .agg(sum(least(col("cc"), col("cr"))).as("clip"),
        sum(col("cc")).as("n_cand"), sum(col("cr")).as("n_ref"))
  }

  // exact LONG division via SQL `div` (Column./ is double division)
  private def bp(num: String, den: String): Column =
    expr(s"$num * 10000 div greatest($den, 1)")
  private def f1(p: String, r: String): Column =
    expr(s"CASE WHEN $p + $r = 0 THEN CAST(0 AS BIGINT) " +
      s"ELSE 2 * $p * $r div ($p + $r) END")

  /** ROUGE-n + BLEU-clip report for n = 1..maxN, all in exact integer
    * basis points:
    *   p{n}_bp  = 10⁴·clip_n div n_cand_n  (modified n-gram precision)
    *   r{n}_bp  = 10⁴·clip_n div n_ref_n   (ROUGE-n recall)
    *   f{n}_bp  = 2·p·r div (p+r)          (ROUGE-n F1; 0 when p+r=0)
    *   brevity_bp = 10⁴·len_cand div len_ref  (BLEU's BP argument)
    * plus the radical-free BLEU products — the exact integers whose
    * k-th roots are the k-gram geometric means, published unrooted so
    * the lane needs no cross-engine floating point:
    *   bleu2_sq_bp2    = p1·p2            (maxN ≥ 2)
    *   bleu3_cube_bp3  = p1·p2·p3         (maxN ≥ 3)
    *   bleu4_pow4_bp4  = p1·p2·p3·p4      (maxN ≥ 4; ≤ 10¹⁶, exact in
    *                                       a 64-bit long)
    * Null text on either side → all-zero metrics for that pair (the
    * pair is re-anchored from the id universe and zero-filled).
    * Requires idCol unique per row (see the object contract).
    */
  def rougeBleuReportN(pairs: DataFrame, idCol: String, candCol: String,
                       refCol: String, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 4,
      s"maxN must be in 1..4 (the BLEU family's range), got $maxN")
    val id = col(idCol)
    val ns = 1 to maxN
    val st = overlapStats(pairs, idCol, candCol, refCol, ns)
    val aggs = ns.flatMap(n => Seq(
      max(when(col("n") === n, col("clip"))).as(s"clip_$n"),
      max(when(col("n") === n, col("n_cand"))).as(s"nc_$n"),
      max(when(col("n") === n, col("n_ref"))).as(s"nr_$n")))
    val wide = st.groupBy(id).agg(aggs.head, aggs.tail: _*)
    val anchored = pairs.select(id).join(wide, Seq(idCol), "left")
      .na.fill(0L)
    val prf = ns.flatMap { n =>
      Seq(bp(s"clip_$n", s"nc_$n").as(s"p${n}_bp"),
        bp(s"clip_$n", s"nr_$n").as(s"r${n}_bp"))
    } :+ bp("nc_1", "nr_1").as("brevity_bp")
    val withPr = anchored.select(id +: prf: _*)
    val fs = ns.flatMap { n =>
      Seq(col(s"p${n}_bp"), col(s"r${n}_bp"),
        f1(s"p${n}_bp", s"r${n}_bp").as(s"f${n}_bp"))
    }
    val prods =
      (if (maxN >= 2) Seq(expr("p1_bp * p2_bp").as("bleu2_sq_bp2"))
       else Nil) ++
      (if (maxN >= 3) Seq(expr("p1_bp * p2_bp * p3_bp").as("bleu3_cube_bp3"))
       else Nil) ++
      (if (maxN >= 4) Seq(expr("p1_bp * p2_bp * p3_bp * p4_bp")
        .as("bleu4_pow4_bp4")) else Nil)
    withPr.select(id +: (fs ++ Seq(col("brevity_bp")) ++ prods): _*)
  }

  /** ROUGE-1/2 + BLEU clip report per (candidate, reference) pair —
    * [[rougeBleuReportN]] at maxN = 2, in the lane's original column
    * order: (id, p1_bp, r1_bp, f1_bp, p2_bp, r2_bp, f2_bp, brevity_bp,
    * bleu2_sq_bp2). */
  def rougeBleuReport(pairs: DataFrame, idCol: String, candCol: String,
                      refCol: String): DataFrame =
    rougeBleuReportN(pairs, idCol, candCol, refCol, 2)
      .select(col(idCol), col("p1_bp"), col("r1_bp"), col("f1_bp"),
        col("p2_bp"), col("r2_bp"), col("f2_bp"), col("brevity_bp"),
        col("bleu2_sq_bp2"))

  /** ROUGE-L per pair — LCS-based P/R/F1 in exact integer basis
    * points (Lin, ACL 2004 §3):
    *   (idCol, lcs, n_cand, n_ref, pl_bp, rl_bp, fl_bp)
    * with pl = 10⁴·lcs div n_cand, rl = 10⁴·lcs div n_ref, fl the
    * usual harmonic form. The LCS is the row-local native DP
    * [[graft.functions.native.LcsLenExpr]] — the whole operator is a
    * zero-exchange projection that pipelines inside the scan stage;
    * per-pair cost is O(|cand|·|ref|) in tokens, the metric's own
    * lower bound. */
  def rougeLReport(pairs: DataFrame, idCol: String, candCol: String,
                   refCol: String): DataFrame = {
    val id = col(idCol)
    pairs
      .select(id, TextFns.words(col(candCol)).as("ct"),
        TextFns.words(col(refCol)).as("rt"))
      .select(id,
        graft.functions.native.NativeFns.lcsLen(col("ct"), col("rt"))
          .as("lcs"),
        size(col("ct")).cast("long").as("n_cand"),
        size(col("rt")).cast("long").as("n_ref"))
      .na.fill(0L)
      .select(id, col("lcs"), col("n_cand"), col("n_ref"),
        bp("lcs", "n_cand").as("pl_bp"),
        bp("lcs", "n_ref").as("rl_bp"))
      .withColumn("fl_bp", f1("pl_bp", "rl_bp"))
  }

  /** Token-level edit distance report per (candidate, reference)
    * pair — word error rate (= TER without shifts, Snover et al.,
    * AMTA 2006 §2) in exact integer basis points:
    *   (idCol, edits, n_cand, n_ref, wer_bp)
    * with edits the unit-cost Levenshtein distance over word tokens
    * and wer_bp = 10⁴·edits div max(n_ref, 1). WER exceeds 10⁴ when
    * the candidate is longer than the reference plus its overlap —
    * the metric's documented behavior, not an error. The distance is
    * the row-local native DP
    * [[graft.functions.native.TokenEditExpr]] — like [[rougeLReport]]
    * the whole operator is a zero-exchange projection pipelining
    * inside the scan stage; per-pair cost O(|cand|·|ref|) in tokens,
    * the metric's own lower bound. */
  def tokenEditReport(pairs: DataFrame, idCol: String, candCol: String,
                      refCol: String): DataFrame = {
    val id = col(idCol)
    pairs
      .select(id, TextFns.words(col(candCol)).as("ct"),
        TextFns.words(col(refCol)).as("rt"))
      .select(id,
        graft.functions.native.NativeFns.tokenEdit(col("ct"), col("rt"))
          .as("edits"),
        size(col("ct")).cast("long").as("n_cand"),
        size(col("rt")).cast("long").as("n_ref"))
      .na.fill(0L)
      .withColumn("wer_bp", bp("edits", "n_ref"))
  }

  /** chrF (Popović, WMT 2015): character n-gram F_β over n = 1..maxN
    * (the metric's standard 6), in exact integer basis points. Text
    * folds to lowercase with ALL whitespace removed (the
    * whitespace-agnostic variant — the tokenizer-free property that
    * makes chrF robust where word metrics fragment), then the same
    * one-pass tagged-stream engine as [[rougeBleuReportN]]: both
    * sides' char n-grams for every n in ONE generator, conditional
    * side counts (no cand×ref join), clip + totals per (pair, n).
    *   p{n}_bp / r{n}_bp — clipped char-n-gram precision / recall
    *   chrf{β}_bp        — mean over n of (1+β²)·P·R div (β²·P + R),
    *                        β = 2 (the metric's recall weighting),
    *                        each per-n term an exact integer div,
    *                        the mean an exact div by maxN
    * Pairs with empty folded sides report zeros, never nulls.
    * Requires idCol unique per row (the object contract). */
  def chrFReport(pairs: DataFrame, idCol: String, candCol: String,
                 refCol: String, maxN: Int = 6,
                 beta: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in 1..8, got $maxN")
    require(beta >= 1, s"beta must be >= 1, got $beta")
    val id = col(idCol)
    def folded(c: Column): Column =
      regexp_replace(lower(c), "\\s+", "")
    def charGrams(t: String, n: Int): Column =
      // short case guarded explicitly: Spark's sequence() DESCENDS on
      // start > stop (as in TextFns.wordGrams)
      expr(s"CASE WHEN char_length($t) < $n " +
        s"THEN CAST(array() AS array<string>) " +
        s"ELSE transform(sequence(1, char_length($t) - ${n - 1}), " +
        s"i -> substring($t, i, $n)) END")
    val base = pairs.select(id,
      folded(col(candCol)).as("cf"), folded(col(refCol)).as("rf"))
    def tagged(t: String, side: Int): Column =
      flatten(array((1 to maxN).map(n =>
        transform(charGrams(t, n), g =>
          struct(lit(n).as("n"), lit(side).as("side"), g.as("g")))): _*))
    val st = base
      .select(id, explode(concat(tagged("cf", 0), tagged("rf", 1))).as("u"))
      .select(id, col("u.n").as("n"), col("u.side").as("side"),
        col("u.g").as("g"))
      .groupBy(id, col("n"), col("g"))
      .agg(count(when(col("side") === 0, 1)).as("cc"),
        count(when(col("side") === 1, 1)).as("cr"))
      .groupBy(id, col("n"))
      .agg(sum(least(col("cc"), col("cr"))).as("clip"),
        sum(col("cc")).as("n_cand"), sum(col("cr")).as("n_ref"))
    val aggs = (1 to maxN).flatMap(n => Seq(
      max(when(col("n") === n, col("clip"))).as(s"clip_$n"),
      max(when(col("n") === n, col("n_cand"))).as(s"nc_$n"),
      max(when(col("n") === n, col("n_ref"))).as(s"nr_$n")))
    val wide = st.groupBy(id).agg(aggs.head, aggs.tail: _*)
    val anchored = pairs.select(id).join(wide, Seq(idCol), "left")
      .na.fill(0L)
    val b2 = beta * beta
    def fb(n: Int): String =
      s"(CASE WHEN ($b2 * p${n}_bp + r${n}_bp) = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE ${1 + b2} * p${n}_bp * r${n}_bp " +
        s"div ($b2 * p${n}_bp + r${n}_bp) END)"
    anchored
      .select(id +: (1 to maxN).flatMap(n => Seq(
        bp(s"clip_$n", s"nc_$n").as(s"p${n}_bp"),
        bp(s"clip_$n", s"nr_$n").as(s"r${n}_bp"))): _*)
      .withColumn(s"chrf${beta}_bp",
        expr(s"(${(1 to maxN).map(fb).mkString(" + ")}) div $maxN"))
  }

  // ---------------------------------------- Gopher repetition signals

  /** The shared repetition engine (Rae et al. 2021 §A1.1, token-unit
    * variant): per document, for each n in `topNs` the most frequent
    * word n-gram with its count, and for each n in `dupNs` the token
    * coverage of n-grams occurring ≥ 2× as a true interval UNION.
    *
    * ONE pass over the text: every requested n's grams stream through
    * a single tagged positional generator (n, pos, gram) and aggregate
    * once on (doc, n, gram) — instance positions ride along ONLY for
    * the coverage ns (collect_list skips the when()'s nulls), so the
    * dominant explode+hash runs exactly once regardless of how many
    * signals are requested. Top-gram selection is a (doc, n)-keyed
    * window over the aggregated counts; coverage re-explodes only the
    * duplicated grams' position lists (a vanishing fraction of the
    * stream) under the running-max interval-union window.
    */
  private def repetitionCore(docs: DataFrame, textCol: String,
                             idCol: String, topNs: Seq[Int],
                             dupNs: Seq[Int]): DataFrame = {
    val id = col(idCol)
    val ns = (topNs ++ dupNs).distinct.sorted
    require(ns.forall(_ >= 2), "gram sizes must be >= 2")
    val base = docs.select(id, TextFns.words(col(textCol)).as("t"))
    val taggedGrams = flatten(array(ns.map(n =>
      transform(TextFns.wordGrams(col("t"), n), (g, i) =>
        struct(lit(n).as("n"), (i + 1).as("pos"), g.as("g")))): _*))
    val u = base
      .select(id, explode(taggedGrams).as("u"))
      .select(id, col("u.n").as("n"), col("u.pos").as("pos"),
        col("u.g").as("g"))
    // a LINEAR chain of windows, not a diamond: a branch per signal
    // would re-run the explode under each consumer (column pruning
    // specializes the copies, so exchange reuse cannot merge them —
    // measured, not guessed). Window 1 gives every instance its gram's
    // per-doc count; window 2 ranks grams for the top-n signals;
    // window 3 is the coverage union's running max, computed over ALL
    // instances with non-dup rows contributing null (max ignores them)
    // so no dup-only branch is needed.
    val wCnt = Window.partitionBy(id, col("n"), col("g"))
    val wTop = Window.partitionBy(id, col("n"))
      .orderBy(col("c").desc, col("g"), col("pos"))
    val wCov = Window.partitionBy(id, col("n")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isDupN = col("n").isin(dupNs.map(Int.box): _*)
    val staged = u
      .withColumn("c", count(lit(1)).over(wCnt))
      .withColumn("rn", row_number().over(wTop))
      .withColumn("ee", when(isDupN && col("c") >= 2,
        col("pos") + col("n")))
      .withColumn("pe", max(col("ee")).over(wCov))
      .withColumn("cv", when(col("ee").isNotNull,
          greatest(col("ee") - greatest(col("pos"),
            coalesce(col("pe"), col("pos"))), lit(0)))
        .otherwise(lit(0)))
    val aggs = topNs.flatMap(tn => Seq(
      max(when(col("n") === tn && col("rn") === 1, col("g")))
        .as(s"top${tn}_gram"),
      max(when(col("n") === tn && col("rn") === 1, col("c")))
        .as(s"top${tn}_n"))) ++
      dupNs.map(dn => sum(when(col("n") === dn, col("cv"))
        .otherwise(lit(0))).cast("long").as(s"covered_$dn"))
    staged.groupBy(id).agg(aggs.head, aggs.tail: _*)
  }

  /** Within-document repetition signals in the Gopher family: per
    * document,
    *   top2_gram / top2_n      — the most frequent word 2-gram (ties
    *                             break lexicographically) and its count
    *   top2_tok_bp             — 10⁴·(2·top2_n) div n_tokens: token
    *                             mass of all its instances (can exceed
    *                             10⁴ on pathological overlap — that IS
    *                             the signal)
    *   dup5_cov_bp             — 10⁴·covered div n_tokens where
    *                             covered = |union of [pos, pos+5)
    *                             intervals of every word 5-gram that
    *                             occurs ≥2×| — coverage, not instance
    *                             count, so nested repeats don't double
    *   n_tokens                — whitespace token count
    * One gram explode total (the shared [[repetitionCore]] engine).
    */
  def repetitionReport(docs: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val id = col(idCol)
    val nt = docs.select(id,
      size(TextFns.words(col(textCol))).cast("long").as("n_tokens"))
    val gs = repetitionCore(docs, textCol, idCol,
      topNs = Seq(2), dupNs = Seq(5))
    nt.join(gs, Seq(idCol), "left")
      .select(id,
        coalesce(col("top2_gram"), lit("")).as("top2_gram"),
        coalesce(col("top2_n"), lit(0L)).as("top2_n"),
        expr("coalesce(top2_n, 0) * 2 * 10000 div greatest(n_tokens, 1)")
          .as("top2_tok_bp"),
        expr("coalesce(covered_5, 0) * 10000 div greatest(n_tokens, 1)")
          .as("dup5_cov_bp"),
        col("n_tokens"))
  }

  /** The full Gopher repetition battery (Rae et al. 2021 §A1.1): the
    * [[repetitionReport]] signals plus the remaining rule-gate inputs,
    * per document and all in exact integer basis points —
    *   top{2,3,4}_tok_bp  — token mass of the most frequent n-gram's
    *                        instances, 10⁴·(n·top_n) div n_tokens
    *   dup5_cov_bp        — duplicated-5-gram token coverage (interval
    *                        union, as in [[repetitionReport]])
    *   dup_line_bp        — 10⁴·(lines whose exact content occurs ≥2×
    *                        in the doc, all occurrences) div n_lines
    *   dup_line_char_bp   — the same fraction weighted by line CHARS
    *                        (newlines excluded from both sides)
    *   n_tokens / n_lines — the denominators
    * Lines split on '\n' exactly (no trimming — whitespace variants of
    * a line are different lines, as in C4/Gopher); token grams ignore
    * line structure (the tokenizer splits on all whitespace), so the
    * two signal families stay independent measurements.
    * Still ONE gram explode for all three top-n signals + the
    * coverage signal, plus one line explode and one (doc, line)
    * aggregation for the line family.
    */
  def repetitionBattery(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame = {
    val id = col(idCol)
    val nt = docs.select(id,
      size(TextFns.words(col(textCol))).cast("long").as("n_tokens"))
    val gs = repetitionCore(docs, textCol, idCol,
      topNs = Seq(2, 3, 4), dupNs = Seq(5))
    val lines = docs
      .select(id, explode(split(col(textCol), "\n", -1)).as("line"))
      .groupBy(id, col("line")).agg(count(lit(1)).as("lc"))
      .groupBy(id).agg(
        sum(col("lc")).as("n_lines"),
        sum(when(col("lc") >= 2, col("lc")).otherwise(0L))
          .as("dup_lines"),
        sum(length(col("line")) * col("lc")).as("line_chars"),
        sum(when(col("lc") >= 2, length(col("line")) * col("lc"))
          .otherwise(0L)).as("dup_line_chars"))
    nt.join(gs, Seq(idCol), "left")
      .join(lines, Seq(idCol), "left")
      .select(id,
        expr("coalesce(top2_n, 0) * 2 * 10000 div greatest(n_tokens, 1)")
          .as("top2_tok_bp"),
        expr("coalesce(top3_n, 0) * 3 * 10000 div greatest(n_tokens, 1)")
          .as("top3_tok_bp"),
        expr("coalesce(top4_n, 0) * 4 * 10000 div greatest(n_tokens, 1)")
          .as("top4_tok_bp"),
        expr("coalesce(covered_5, 0) * 10000 div greatest(n_tokens, 1)")
          .as("dup5_cov_bp"),
        expr("coalesce(dup_lines, 0) * 10000 div greatest(n_lines, 1)")
          .as("dup_line_bp"),
        expr("coalesce(dup_line_chars, 0) * 10000 " +
          "div greatest(line_chars, 1)").as("dup_line_char_bp"),
        col("n_tokens"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"))
  }
}
