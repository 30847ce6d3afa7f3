package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Statistical language-model scoring over a document corpus — the
  * CCNet/Gopher-style quality signals that need a MODEL OF THE CORPUS
  * rather than a single row: bigram cross-entropy (perplexity filtering)
  * and BM25 ranked retrieval. (Extension beyond the reference, which has
  * no text stack; brief-driven like the rest of the LLM-pipeline family.)
  *
  * Determinism contract (shared with the DuckDB oracles): every
  * per-token/per-bigram log contribution is quantized to integer
  * micro-nats with `floor` — floor of an identical double is identical
  * on every engine, unlike decimal rounding — and per-document totals
  * are INTEGER sums, so they are independent of aggregation order and
  * partitioning. The final score is a single IEEE division of exact
  * integers, bit-identical everywhere; it is deliberately NOT rounded.
  *
  * Residual cross-engine exposure: `ln` itself is only ~1-ulp accurate
  * and not identically specified across libms, so floor(ln(x)*1e6) can
  * in principle flip when ln(x)*1e6 sits within an ulp of an integer
  * (~1e-10 per term; same accepted class as x_tfidf's rounded-ln
  * oracle, stable across all tested scale factors). Eliminating it
  * entirely would require a softfloat ln on both engines.
  */
object LanguageModel {

  private def tokens(docs: DataFrame, textCol: String,
                     idCol: String): DataFrame =
    docs.select(col(idCol),
      TextFns.words(col(textCol)).as("__ta"))

  /** Add-one-smoothed bigram cross-entropy of each document under the
    * corpus's own bigram distribution: xent = -(1/m) Σ ln p(w2|w1),
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). High xent = the document
    * is improbable under the corpus model (CCNet's perplexity filter,
    * with the corpus itself as the reference domain).
    *
    * Returns (id, n_bigrams, xent) for every document with ≥ 2 tokens.
    *
    * Scale shape: token counts and bigram counts are two map-side-
    * combined hash aggregations; scoring joins each document bigram to
    * its count by BIGRAM key and to the first-word count by TOKEN key —
    * both high-cardinality shuffle joins that partition evenly. The
    * vocabulary size is a 1-row broadcast. Nothing is collected; the
    * model "table" never leaves the cluster.
    */
  def bigramCrossEntropy(docs: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val toks = tokens(docs, textCol, idCol)
    val uni = toks.select(explode(col("__ta")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bigrams = toks.select(col(idCol), explode(expr(
      "CASE WHEN size(__ta) >= 2 THEN transform(sequence(1, size(__ta)-1), " +
        "i -> concat(__ta[i-1], ' ', __ta[i])) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")).as("bg"))
    val bi = bigrams.groupBy("bg").agg(count(lit(1)).as("cb"))
    bigrams
      .join(bi, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("mn", floor(
        log((col("cb") + lit(1.0d)) / (col("c1") + col("v"))) * lit(1e6d))
        .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("mn")).as("__s"))
      .withColumn("xent", -col("__s").cast("double") /
        (col("n_bigrams").cast("double") * lit(1e6d)))
      .drop("__s")
  }

  /** BM25 top-`k` documents for a bag of query `terms`
    * (k1 = 1.2, b = 0.75, natural-log idf = ln(1 + (N-df+0.5)/(df+0.5))).
    *
    * Scale shape: document lengths are one hash aggregation; term
    * frequencies only exist for the query terms (the isin filter runs
    * BEFORE the tf aggregation, so the shuffle carries |terms| rows per
    * document at most); df and the corpus stats are tiny broadcasts.
    * The top-k is orderBy+limit — TakeOrderedAndProject, a per-partition
    * heap, never a global sort — and the rank window runs over k rows.
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], k: Int): DataFrame = {
    val toks = tokens(docs, textCol, idCol)
      .select(col(idCol), explode(col("__ta")).as("w"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val tf = toks.where(col("w").isin(terms: _*))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "w")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
      .withColumn("idf",
        log(lit(1.0d) + (col("n") - col("df") + lit(0.5d)) /
          (col("df") + lit(0.5d))))
      .withColumn("cu", floor(
        col("idf") * (col("tf") * lit(2.2d)) /
          (col("tf") + lit(1.2d) *
            (lit(0.25d) + lit(0.75d) * col("dl") / col("avgdl"))) *
          lit(1e6d)).cast("long"))
      .groupBy(col(idCol))
      .agg((sum(col("cu")) / lit(1e6d)).as("score"))
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col(idCol))).cast("long"))
  }
}
