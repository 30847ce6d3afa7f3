package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Label-aggregation operators for annotated / weakly-supervised data:
  * collapse many (item, annotator, label) rows into one adjudicated
  * label per item — the preference-data and classifier-label cleaning
  * stage of a training pipeline (majority vote with a deterministic
  * tie-break, plus the agreement signal reviewers monitor).
  *
  * Scale shape: one hash aggregation on (item, label) with map-side
  * partial counts, then window functions over the per-item label counts
  * — the wide annotation table never feeds a window directly, so per-item
  * state is bounded by the LABEL ALPHABET, not the annotator count
  * (10^9 items × 100 annotators shuffles 10^9 × |labels| count rows).
  */
object Labels {

  /** Majority-vote adjudication: for every item, the label with the most
    * votes; ties break to the lexicographically SMALLEST label so the
    * result is deterministic and engine-portable (no "first seen wins",
    * which depends on partitioning).
    *
    * Returns (itemCol, label, votes, n_annotations, agreement) where
    * agreement = votes / n_annotations rounded to 4 decimals — the
    * per-item inter-annotator agreement signal (1.0 = unanimous).
    */
  def majorityVote(annotations: DataFrame, itemCol: String,
                   labelCol: String): DataFrame = {
    val counts = annotations.groupBy(col(itemCol), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    val perItem = Window.partitionBy(col(itemCol))
    val rank = Window.partitionBy(col(itemCol))
      .orderBy(col("votes").desc, col(labelCol).asc)
    counts
      .withColumn("n_annotations", sum(col("votes")).over(perItem))
      .withColumn("__rk", row_number().over(rank))
      .where(col("__rk") === 1)
      .select(col(itemCol), col(labelCol).as("label"), col("votes"),
        col("n_annotations"),
        round(col("votes").cast("double") /
          col("n_annotations").cast("double"), 4).as("agreement"))
  }

  /** Fleiss' kappa — the CORPUS-level inter-annotator agreement metric
    * (chance-corrected, multi-annotator; the number an annotation
    * campaign is accepted or re-briefed on, complementing
    * [[majorityVote]]'s per-item agreement). One row:
    * (n_items, n_annotators, p_bar, p_exp, kappa).
    *
    * Exactness: with S = Σ_i(Σ_j c_ij² − n), T = N·n·(n−1),
    * U = Σ_j(Σ_i c_ij)², V = (N·n)², kappa = (S·V − U·T)/(T·(V − U)) —
    * every term an INTEGER aggregate (decimal(38,0), the q_corr_exact
    * device), so both engines branch and divide on identical numbers;
    * only the final ratios are doubles, rounded to 6. Degenerate cases
    * (unequal per-item annotator counts, n < 2, all votes in one
    * category) emit NULL kappa instead of NaN/Infinity, decided on the
    * exact integers so the branch is engine-portable.
    *
    * Scale shape: two hash aggregations (per-(item,label) counts, then
    * per-item / per-label rollups) and a broadcast join of two one-row
    * relations — the annotation table never feeds a window, and nothing
    * is collected.
    */
  def fleissKappa(annotations: DataFrame, itemCol: String,
                  labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = annotations.groupBy(col(itemCol), col(labelCol))
      .agg(count(lit(1)).as("c"))
    val perItem = counts.groupBy(col(itemCol))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("s2"))
    val items = perItem.agg(
      count(lit(1)).cast(dec).as("n_items"),
      min(col("n")).cast(dec).as("n_min"),
      max(col("n")).cast(dec).as("n_max"),
      sum((col("s2") - col("n")).cast(dec)).as("s"))
    val cats = counts.groupBy(col(labelCol))
      .agg(sum(col("c")).as("cj"))
      .agg(sum(col("cj").cast(dec) * col("cj").cast(dec)).as("u"),
        sum(col("cj")).cast(dec).as("tot"))
    val t = col("n_items") * col("n_min") * (col("n_min") - lit(1))
    val v = col("tot") * col("tot")
    val degenerate = col("n_min") =!= col("n_max") ||
      col("n_min") < lit(2) || v === col("u")
    items.crossJoin(broadcast(cats)).select(
      col("n_items").cast("bigint").as("n_items"),
      col("n_min").cast("bigint").as("n_annotators"),
      when(col("n_min") < lit(2), lit(null).cast("double"))
        .otherwise(round(col("s").cast("double") / t.cast("double"), 6))
        .as("p_bar"),
      round(col("u").cast("double") / v.cast("double"), 6).as("p_exp"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(
          (col("s") * v - col("u") * t).cast("double") /
            (t * (v - col("u"))).cast("double"), 6))
        .as("kappa"))
  }
}
