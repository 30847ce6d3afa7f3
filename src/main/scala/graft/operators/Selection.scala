package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Distribution-matched data selection over hashed n-gram features —
  * the DSIR recipe (Xie, Santurkar, Ma & Liang, "Data Selection for
  * Language Models via Importance Resampling", NeurIPS 2023): score
  * every raw document by how much more likely its n-grams are under a
  * small TARGET corpus (the distribution you want more of — wiki-like
  * prose, a domain, a language register) than under the raw pool, then
  * keep the top of the ranking. The feature space is n-grams hashed
  * into a fixed bucket count, so the "model" is two bucket-count
  * vectors — no training, one aggregation each — and the per-document
  * score is a sum of per-bucket log-ratios over the document's own
  * gram occurrences.
  *
  * Determinism contract (library-wide): the log-ratio is quantized
  * ONCE per bucket to integer micro-nats via the single-ln form
  * `round(ln((ct+1)·(Nr+B) / ((cr+1)·(Nt+B))) · 1e6)` — every operand
  * of the one floating-point step is an exact integer below 2^53, and
  * every shuffled aggregate (bucket counts, per-doc weight sums) is an
  * exact BIGINT, so scores are bit-identical across partitionings,
  * retries, and engines (the [[SparseSim]] / [[LanguageModel]]
  * micro-nat device). Add-one smoothing over the `buckets`-wide space
  * keeps target-unseen buckets finite instead of -inf.
  *
  * Scale shape, in order: one gram explosion (row-local, no shuffle),
  * two bucket-count aggregations of width ≤ `buckets` (the target one
  * over the target SUBSET only — at 100 TB the target corpus is tiny
  * by definition), a broadcast join of the ≤ `buckets`-row log-ratio
  * table onto the gram stream, and one per-doc sum. Nothing quadratic,
  * nothing collected; the ranking cut is one window over the weight
  * total order. The hashed feature space is what makes this 100
  * TB-safe: vocabulary size never enters — memory is O(buckets)
  * regardless of corpus drift.
  */
object Selection {

  /** Per-document DSIR importance weight in integer micro-nats:
    * `(id, w_micro)` for EVERY corpus document (gram-less documents
    * weigh 0). `isTarget` marks the target-distribution rows inside
    * `corpus` itself — the common case where the target is a trusted
    * subset (a source allowlist, a language, a quality tier).
    */
  def dsirWeights(corpus: DataFrame, textCol: String, idCol: String,
                  isTarget: Column, n: Int = 2,
                  buckets: Int = 256): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(buckets >= 2, s"bucket count must be >= 2, got $buckets")
    val occ = gramBuckets(corpus, textCol, idCol, isTarget, n, buckets)
    // both count vectors in ONE aggregation pass over the gram stream
    val counts = occ.groupBy(col("bucket"))
      .agg(sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lr = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log(((col("ct") + lit(1L)) * (col("nr") + lit(buckets.toLong)))
            .cast("double") /
          ((col("cr") + lit(1L)) * (col("nt") + lit(buckets.toLong)))
            .cast("double")) * lit(1000000.0d), 0)
          .cast("long").as("lr_micro"))
    val sums = occ.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("id")).agg(sum(col("lr_micro")).as("w"))
    corpus.select(col(idCol).as("id"))
      .join(sums, Seq("id"), "left")
      .select(col("id"), coalesce(col("w"), lit(0L)).as("w_micro"))
  }

  /** The trained DSIR "model" alone: the per-bucket micro-nat
    * log-ratio table `(bucket, lr_micro)` — ≤ `buckets` rows, the
    * whole artifact a serving path needs. Train at ingest over the
    * corpus + target slice, persist, then score any stream of new
    * documents against it with [[scoreWithModel]] (broadcast join —
    * the model never re-trains on the serve path). Same counts,
    * smoothing, and quantization as [[dsirWeights]];
    * `scoreWithModel(corpus, dsirModel(corpus))` reproduces
    * `dsirWeights(corpus)` exactly (SelectionSpec pins this).
    */
  def dsirModel(corpus: DataFrame, textCol: String, idCol: String,
                isTarget: Column, n: Int = 2,
                buckets: Int = 256): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(buckets >= 2, s"bucket count must be >= 2, got $buckets")
    val occ = gramBuckets(corpus, textCol, idCol, isTarget, n, buckets)
    val counts = occ.groupBy(col("bucket"))
      .agg(sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log(((col("ct") + lit(1L)) * (col("nr") + lit(buckets.toLong)))
            .cast("double") /
          ((col("cr") + lit(1L)) * (col("nt") + lit(buckets.toLong)))
            .cast("double")) * lit(1000000.0d), 0)
          .cast("long").as("lr_micro"))
  }

  /** Score documents against an already-trained `(bucket, lr_micro)`
    * model — the SERVING path: one row-local gram explosion, one
    * broadcast join of the ≤ `buckets`-row model, one per-doc sum.
    * `n` and `buckets` MUST match the model's training parameters
    * (they define the feature space the model's buckets live in).
    */
  def scoreWithModel(docs: DataFrame, textCol: String, idCol: String,
                     model: DataFrame, n: Int = 2,
                     buckets: Int = 256): DataFrame = {
    val occ = gramBuckets(docs, textCol, idCol, lit(false), n, buckets)
    val sums = occ
      .join(broadcast(model.select(col("bucket"), col("lr_micro"))),
        Seq("bucket"))
      .groupBy(col("id")).agg(sum(col("lr_micro")).as("w"))
    docs.select(col(idCol).as("id"))
      .join(sums, Seq("id"), "left")
      .select(col("id"), coalesce(col("w"), lit(0L)).as("w_micro"))
  }

  /** Shared gram→bucket stream `(id, is_tgt, bucket)`, one row per
    * gram OCCURRENCE. */
  private def gramBuckets(corpus: DataFrame, textCol: String,
                          idCol: String, isTarget: Column, n: Int,
                          buckets: Int): DataFrame = {
    val grams = TextFns.wordGrams(TextFns.words(col(textCol)), n)
    corpus
      .select(col(idCol).as("id"), isTarget.as("is_tgt"),
        explode(grams).as("g"))
      .select(col("id"), col("is_tgt"),
        (TextFns.hash32(col("g")) % buckets).as("bucket"))
  }

  /** The selection decision over an already-computed (id, w_micro)
    * weight table (from [[dsirWeights]] or [[scoreWithModel]]): the
    * global top `keep` documents by `(w_micro DESC, id)` — a total
    * order, so the kept set is engine-identical. Deterministic top-k
    * stands in for the paper's Gumbel resampling (which needs a random
    * source; the ranking is the operator, the noise is a caller
    * policy).
    *
    * The cut is NOT a global window (a single-task sort of the whole
    * corpus): the boundary key — the `keep`-th `(w, -id)` pair — comes
    * from a distributed TakeOrdered over `keep` rows and is broadcast
    * as one row; `selected` is then a row-local lexicographic compare.
    * Callers MATERIALIZE the weights first — the cut references them
    * twice (boundary + flagging), and a lazy weight plan would re-run
    * its gram explosion per reference (the [[SparseSim]] posting-table
    * lesson); at 100 TB the weight table is an ingest artifact like the
    * signature table anyway.
    */
  def selectByWeight(weights: DataFrame, keep: Int): DataFrame = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val boundary = weights
      .orderBy(col("w_micro").desc, col("id"))
      .limit(keep)
      .agg(min(struct(col("w_micro"), (-col("id")).as("nid"))).as("kth"))
    weights.crossJoin(broadcast(boundary))
      .select(col("id"), col("w_micro"),
        (struct(col("w_micro"), (-col("id")).as("nid")) >= col("kth"))
          .as("selected"))
  }

  /** Capped proportional mixture allocation by integer waterfilling:
    * a budget of `budgetMicro` micro-units splits across groups
    * proportionally to `wCol`, but no group may take more than
    * `capMicro` — a group pushed over the cap FREEZES at it and its
    * excess re-flows to the unfrozen groups in the next round (the
    * anti-dominance rule every multilingual / multi-source mixture
    * uses so one giant slice can't starve the tail). Three synchronous
    * rounds reach the fixed point for any one dominant group and stay
    * idempotent after convergence; every step is integer arithmetic —
    * weights are first rescaled to micro-shares through decimal(38,0)
    * (so raw weights up to 10³⁸ can't overflow), after which all round
    * state is ≤ 10¹² — making the allocation bit-identical across
    * engines and partitionings.
    *
    * Scale shape: the input is ONE aggregation row per group (the
    * caller aggregates the corpus first); rounds are broadcast
    * one-row-aggregate cross-joins over that bounded table — never a
    * driver collect, never a corpus-sized shuffle.
    */
  def quotaWaterfill(weights: DataFrame, keyCol: String, wCol: String,
                     budgetMicro: Long = 1000000L,
                     capMicro: Long): DataFrame = {
    require(capMicro > 0 && capMicro <= budgetMicro,
      s"capMicro must be in (0, $budgetMicro], got $capMicro")
    val total = weights.agg(
      sum(col(wCol).cast("decimal(38,0)")).as("tw"))
    val base = weights
      .select(col(keyCol).as("k"), col(wCol).cast("long").as("w"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("w"),
        expr("cast(w as decimal(38,0)) * 1000000 div tw").as("s"))
    var st = base.withColumn("frozen", lit(false))
    var alloc: DataFrame = null
    for (_ <- 1 to 3) {
      val agg = st.agg(
        count(when(col("frozen"), 1)).as("nf"),
        coalesce(sum(when(!col("frozen"), col("s"))), lit(0L)).as("fw"))
      alloc = st.crossJoin(broadcast(agg))
        .withColumn("alloc",
          when(col("frozen"), lit(capMicro))
            .otherwise(expr(
              s"($budgetMicro - $capMicro * nf) * s div greatest(fw, 1)")))
      st = alloc.select(col("k"), col("w"), col("s"),
        (col("frozen") || col("alloc") > capMicro).as("frozen"))
    }
    alloc.select(col("k").as(keyCol), col("w"),
      least(col("alloc"), lit(capMicro)).as("alloc_micro"),
      (col("frozen") || col("alloc") > capMicro).as("capped"))
  }
}
