package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Sparse lexical similarity: TF-IDF-weighted cosine over word n-gram
  * features, computed with an inverted-index (posting-list) join — the
  * classic term-at-a-time all-pairs similarity plan (Elsayed/Lin/Oard,
  * "Pairwise Document Similarity in Large Collections with MapReduce",
  * ACL'08). Complements the dense-embedding cosine family
  * ([[Similarity]]) and the set-overlap MinHash family ([[Dedup]]):
  * TF-IDF cosine weights RARE shared phrases heavily, so it surfaces
  * template/citation overlap that Jaccard under-scores and embeddings
  * blur.
  *
  * Determinism contract (the library-wide rule): every shuffled
  * aggregate is an exact integer. IDF is quantized once to integer
  * micro-nats (`round(ln((N+1)/(d+1)) * 1e6)` — the [[LanguageModel]]
  * device, oracle-established), weights are `tf * idf_micro` BIGINTs,
  * and dot products / squared norms accumulate in decimal(38,0)
  * (DuckDB HUGEINT), so the one floating-point step — the final
  * `dot / (|a|·|b|)` — sees bit-identical inputs on every engine,
  * partitioning, and retry.
  *
  * Scale shape, in order:
  *  - tf: one hash aggregation keyed (id, term) with map-side combine.
  *  - df + cap: one aggregation keyed term; terms with df > maxDf are
  *    dropped from the FEATURE SPACE (inner join) — the similarity is
  *    defined over the rare-term vocabulary. This is the prefix-filter
  *    move that makes the posting self-join tractable: candidate
  *    volume is Σ_term df² ≤ maxDf · Σ df, linear in corpus size with
  *    a maxDf constant, instead of the stopword-driven |corpus|²
  *    blow-up. (At 100 TB a df cap of ~10⁴ keeps every posting list
  *    a single task's work; ubiquitous terms carry ~zero IDF weight
  *    anyway, which is why capping them barely moves the metric.)
  *  - pairs: posting self-join on term (both sides already hashed by
  *    term), then one aggregation keyed (doc_a, doc_b). Candidates are
  *    id-only — no text, no vectors travel.
  *  - norms join + threshold: norms is one row per doc; the final
  *    filter runs on the ROUNDED cosine so both engines cut on the
  *    same number.
  */
object SparseSim {

  /** TF-IDF posting list `(id, term, w)` over word `n`-gram features,
    * df-capped at `maxDf`. `w = tf * round(ln((N+1)/(d+1)) * 1e6)` —
    * an exact BIGINT per posting. Documents shorter than `n` tokens
    * contribute no postings.
    */
  def tfidfPostings(corpus: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, maxDf: Long = 50): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(maxDf >= 1, s"df cap must be >= 1, got $maxDf")
    val grams = TextFns.wordGrams(TextFns.words(col(textCol)), n)
    // The gram explosion is this operator's CPU and runs BEFORE any
    // shuffle, so its parallelism is the scan's split count; a corpus
    // packed into few row groups would run it near-serially. One cheap
    // doc-keyed repartition (explicit width — AQE would coalesce the
    // MB-scale exchange back to one partition) fans the heavy stage
    // out: the shuffle moves text bytes once, orders of magnitude less
    // data than the gram stream it unlocks parallelism for (the
    // x_heavy_hitters device).
    val fan = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val tf = corpus
      .repartition(fan, col(idCol))
      .select(col(idCol).as("id"), explode(grams).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDf)
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"),
        (col("c") *
          round(log((col("n_docs") + lit(1.0d)) / (col("d") + lit(1.0d))) *
            lit(1000000.0d), 0).cast("long")).as("w"))
  }

  /** All pairs `(doc_a < doc_b, cos_sim)` with TF-IDF cosine at or
    * above `threshold`, from a `(id, term, w)` posting table. The
    * cosine is rounded to 4 decimals BEFORE the threshold cut.
    */
  def cosinePairs(postings: DataFrame, threshold: Double): DataFrame = {
    val p = postings.select(col("id"), col("term"), col("w"))
    val norms = p.groupBy(col("id"))
      .agg(sum((col("w").cast("decimal(38,0)") * col("w"))).as("n2"))
    val dots = p.select(col("id").as("doc_a"), col("term"),
        col("w").as("wa"))
      .join(p.select(col("id").as("doc_b"), col("term"),
        col("w").as("wb")), Seq("term"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum((col("wa").cast("decimal(38,0)") * col("wb"))).as("dot"))
    dots
      .join(norms.select(col("id").as("doc_a"), col("n2").as("na2")),
        Seq("doc_a"))
      .join(norms.select(col("id").as("doc_b"), col("n2").as("nb2")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double"))), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }
}
