package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deterministic, engine-portable sampling operators.
  *
  * Spark's own `sample`/`sampleBy` draw from a seeded RNG whose stream
  * depends on partitioning — results change when the file splits do,
  * which makes runs irreproducible across cluster layouts and
  * impossible to oracle-check. These operators instead hash a stable
  * row key (md5-prefix fold, identical in any engine) so the same row
  * is always in or out of the sample regardless of partitioning,
  * parallelism, or engine:
  *
  *  - reproducible train/eval carve-outs over a 100 TB corpus (re-runs
  *    and backfills pick the same rows);
  *  - no shuffle, no RNG state: the filter is a row-local codegen'd
  *    predicate pushed at the scan, so sampling 0.1% of 100 TB reads
  *    and keeps nothing else in memory.
  *
  * Reference anchor: the reference has no sampling at all; this extends
  * its warehouse repertoire the way its deterministic-timestamp device
  * (common/SimpleDataCleanUtils.scala:15-16) trades wall-clock for
  * reproducibility.
  */
object Sampling {

  /** Keep-rates are resolved to integer basis points ON THE DRIVER
    * (math.round of a Scala constant) — a `rate*10000` computed as a
    * column would truncate, and 0.05*10000 is 499.999… in binary
    * floating point: the row at bucket 499 would flip engines. */
  private def basisPoints(rate: Double): Long = {
    val bp = math.round(rate * 10000d)
    require(bp >= 0 && bp <= 10000, s"rate $rate outside [0,1]")
    bp
  }

  /** The in-sample predicate: hash32(key) % 10000 < basis-points. */
  private def inSample(key: Column, bp: Column): Column =
    TextFns.hash32(key.cast("string")) % 10000L < bp

  /** PER-ROW weighted deterministic Bernoulli sample: keep each row with
    * probability `weightBp`/10000, where `weightBp` is an INTEGER
    * basis-points COLUMN computed by the caller (quality-proportional
    * corpus downsampling: high-quality rows kept at 1.0, boilerplate at
    * 0.05). The caller supplies integer basis points rather than a float
    * rate for the same reason [[basisPoints]] resolves rates on the
    * driver — a float `weight*10000` truncates differently across
    * engines at representation boundaries. Out-of-range weights clamp
    * to [0, 10000].
    *
    * Row-local pushed-filter predicate like the other samplers: no
    * shuffle, nothing retained.
    */
  def weightedSample(df: DataFrame, key: Column, weightBp: Column): DataFrame =
    df.where(inSample(key,
      least(greatest(weightBp.cast("long"), lit(0L)), lit(10000L))))

  /** Stratified deterministic sample: per-stratum keep-rates, rows of
    * unlisted strata kept at `defaultRate`. The decision key is
    * `stratum:key` so changing one stratum's rate never reshuffles
    * another's picks. */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0): DataFrame = {
    val bp = rates.toSeq.sortBy(_._1).foldLeft(lit(basisPoints(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(basisPoints(r))).otherwise(acc)
    }
    // a NULL stratum falls through the when-chain to defaultRate; its
    // decision key is pinned to ":key" explicitly (concat_ws would give
    // the same string by skipping the null, but silently — and a plain
    // SQL `stratum || ':' || key` oracle must spell the same coalesce)
    df.where(inSample(
      concat(coalesce(stratum, lit("")), lit(":"), key.cast("string")), bp))
  }

  /** Fill a per-group TOKEN budget, deterministically: within each
    * group, rows are admitted in stable hash order (`hash32("tb:" ||
    * group || ":" || key)`, key tie-break) until the RUNNING token
    * total would exceed `budget` — the "fill a 1B-token training mix"
    * operator, where the unit that matters is tokens, not documents
    * (a doc-count cap over-represents long documents). Admission is
    * PREFIX semantics: the kept set is the longest prefix of the hash
    * order whose token total fits (the first row to cross the budget
    * ends the group's fill) — reproducible across engines and
    * partitionings because the admission order is a total order and
    * the running total is an exact integer.
    *
    * ONE window shuffle on the group key; output carries the running
    * `cum_tokens` so the consumer can audit the fill level per group.
    */
  def tokenBudgetSample(df: DataFrame, groupCol: String, keyCol: String,
                        tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(TextFns.hash32(concat(lit("tb:"), col(groupCol),
        lit(":"), col(keyCol).cast("string"))).asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("cum_tokens", sum(col(tokensCol)).over(w))
      .where(col("cum_tokens") <= budget)
  }

  /** Temporal holdout split: within each group, the LAST `testBp`/10000
    * of rows by the (tsCol, tieCol) TOTAL order become `test`, the rest
    * `train` — the time-respecting split every forecasting / recsys /
    * drift eval needs, where a hash split would leak the future into
    * training. The boundary is rank-based and the comparison is pure
    * integer cross-multiplication (rank·10000 > n·(10000−testBp)), so
    * the assignment is bit-identical across engines and partitionings;
    * the last row of every group is always test, so no group ends up
    * test-empty. ONE window shuffle on the group key (rank and count
    * share the same exchange); output keeps `t_rank`/`t_n` so callers
    * can audit the cut.
    */
  def temporalHoldout(df: DataFrame, groupCol: String, tsCol: String,
                      tieCol: String, testBp: Long): DataFrame = {
    require(testBp > 0 && testBp < 10000,
      s"testBp must be in (0, 10000), got $testBp")
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    df.withColumn("t_rank", row_number().over(ord).cast("long"))
      .withColumn("t_n", count(lit(1)).over(all))
      .withColumn("split",
        when(col("t_rank") * 10000L > col("t_n") * (10000L - testBp),
          "test").otherwise("train"))
  }
}
