package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-shot quote screen: the reference that the production
  * [[graft.operators.Corpus.winnowingContainmentScreen]] is compared
  * against. It recounts document frequencies over corpus ∪ batch from
  * the raw fingerprint relations on every call — O(corpus) per batch,
  * which is why production reads the maintained df sidecar instead —
  * and forms batch×corpus pairs only. Same output contract:
  * (batch_id, corpus_id, n_batch, n_corpus, shared, containment_bp) at
  * `minContainmentBp` and above, with containment_bp = shared·10⁴ div
  * min(n_batch, n_corpus) over the df-capped fingerprint sets.
  */
object ScreenReference {
  def oneShot(batchFps: DataFrame, corpusFps: DataFrame,
              maxDf: Long = 50,
              minContainmentBp: Long = 8000L): DataFrame = {
    val ihB = batchFps.select(col("id"), col("h")).distinct()
    val ihC = corpusFps.select(col("id"), col("h")).distinct()
    val rare = ihB.unionByName(ihC)
      .groupBy(col("h")).agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDf).select(col("h"))
    val pB = ihB.join(rare, Seq("h"))
    val pC = ihC.join(rare, Seq("h"))
    val nB = pB.groupBy(col("id")).agg(count(lit(1)).as("n_batch"))
      .withColumnRenamed("id", "batch_id")
    val nC = pC.groupBy(col("id")).agg(count(lit(1)).as("n_corpus"))
      .withColumnRenamed("id", "corpus_id")
    pB.select(col("h"), col("id").as("batch_id"))
      .join(pC.select(col("h"), col("id").as("corpus_id")), Seq("h"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("shared"))
      .join(nB, Seq("batch_id"))
      .join(nC, Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        col("n_batch"), col("n_corpus"), col("shared"),
        expr("(shared * 10000) div least(n_batch, n_corpus)")
          .as("containment_bp"))
      .where(col("containment_bp") >= minContainmentBp)
  }
}
