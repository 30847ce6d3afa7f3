package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) as a
  * PURE RELATIONAL aggregation — no custom aggregate needed, because
  * Spark's partial aggregation already is the sketch: projecting every
  * occurrence to its `depth × width` cell and hash-aggregating on
  * (depth, cell) means each task carries at most `d·w` counters through
  * the map-side combine, exactly the per-task state a hand-rolled
  * mergeable sketch would hold, and the final merge is the cell-wise
  * SUM — commutative and associative, so the sketch is bit-identical
  * under any partitioning, merge order, or retry (unlike Misra-Gries,
  * whose candidate TAIL is merge-order-dependent — see
  * [[graft.functions.native.HeavyHittersAgg]]; the two are
  * complementary: MG nominates a small candidate set, CM answers point
  * queries for ANY key with a one-sided error bound).
  *
  * Guarantee: `estimate(key) ≥ true_count(key)` always (each of the
  * `d` counters counts the key plus its colliders; min over depths
  * only removes collision noise), and
  * `estimate ≤ true + 2n/width` with probability `1 - 2^-depth`.
  *
  * Why this wins at 100 TB: a full `groupBy(key).count` over n-gram
  * streams shuffles the distinct-key universe (~the corpus itself).
  * The cell table shuffles at most `d·w` rows per task regardless of
  * universe size, and the finished sketch is a `d·w`-row table —
  * broadcastable — that answers any later point query without
  * touching the corpus again.
  *
  * Hashes are the portable md5-fold ([[TextFns.hash32]]) with the
  * depth index baked into the key, so the DuckDB oracle replays every
  * cell exactly.
  */
object Sketches {

  /** Row-local cell projection: for each input row, `depth` rows
    * `(d, cell)` with `cell = hash32("cm<d>:" || key) % width`. The
    * hashing runs in the native one-pass [[graft.functions.native.CmCellsExpr]]
    * (r12): the expression-chain form paid `depth` × (string concat →
    * md5 → 32-char hex string → substring → base-16 parse) PER
    * OCCURRENCE — the sketch's whole CPU on n-gram streams. Cells are
    * bit-identical (same md5-fold, same unsigned fold, same `% width`);
    * posexplode's ordinal IS the depth index d.
    */
  private def cellsOf(keyCol: String, depth: Int, width: Int) = {
    import graft.functions.native.NativeFns
    posexplode(NativeFns.cmCells(col(keyCol), depth, width))
      .as(Seq("d", "cell"))
  }

  /** Build the `(d, cell, cnt)` Count-Min cell table over the
    * occurrence stream in `stream(keyCol)`. One hash aggregation;
    * map-side combine bounds every task's output at `depth·width`
    * rows.
    */
  def countMinTable(stream: DataFrame, keyCol: String,
                    depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"need depth >= 1 and width >= 2, got d=$depth w=$width")
    stream.select(cellsOf(keyCol, depth, width))
      .groupBy(col("d"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for the keys in `probes(keyCol)`: min over the
    * `depth` rows of the key's cell count. The sketch is `d·w` rows —
    * broadcast — so probing never shuffles the probe side. A cell no
    * probe key ever incremented can still exist (colliders only), and
    * a key whose cells all happen to be absent estimates 0; both fall
    * out of the same `coalesce`.
    */
  def cmEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                 depth: Int, width: Int): DataFrame = {
    probes.select(col(keyCol), cellsOf(keyCol, depth, width))
      .join(broadcast(sketch), Seq("d", "cell"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
  }

  /** Merge Count-Min cell tables built with the SAME (depth, width):
    * cell-wise sum — the linearity that makes the sketch incremental
    * (sketch(old ∪ delta) = merge(sketch(old), sketch(delta)), exactly,
    * so a maintained sketch table absorbs each new batch with O(d·w)
    * work and NEVER re-reads history; [[SketchesSpec]] proves the
    * hash-equality, x_count_min_incr gates it end to end).
    */
  def mergeCm(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch to merge")
    sketches.reduce(_.unionByName(_))
      .groupBy(col("d"), col("cell"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  // -------------------------------------------------------------- HLL
  // Mergeable distinct counting (Apache DataSketches HLL, shipped with
  // Spark as hll_sketch_agg / hll_union_agg): each ingest slice
  // reduces to one compact sketch row per group, so any window's
  // distinct estimate is a union over covered slice rows — never a
  // rescan of raw data. Complementary to the Count-Min cell table
  // above: CM answers point FREQUENCY queries, HLL answers group
  // CARDINALITY; both are commutative-merge state kept as tables.
  // Estimator caveat encoded in mergeReport: a direct whole-stream
  // sketch and a union of per-slice sketches use different estimators
  // (streaming HIP vs composite), so correctness is "both within rated
  // error of exact" (rated RSE ~= 1.04/sqrt(2^lgK)), asserted
  // relationally by the gated queries (q_hll_merge, q_join_profile).


  /** One HLL sketch per (group, slice): the rows you append to the
    * maintained sketch table as each slice arrives. `lgK` trades
    * 2^lgK bytes/row for accuracy (rated RSE ≈ 1.04 / sqrt(2^lgK)). */
  def hllSliceSketches(df: DataFrame, groupCol: String, sliceCol: String,
                       valueCol: String, lgK: Int = 14): DataFrame =
    df.groupBy(col(groupCol), col(sliceCol))
      .agg(expr(s"hll_sketch_agg($valueCol, $lgK)").as("sketch"))

  /** Distinct estimate per group from a slice-sketch table: one union
    * pass over sketch rows (bytes per row, not data). */
  def hllEstimate(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch, false))")
        .as("est_distinct"))

  /** Join-key overlap profile: the pre-flight stat a pipeline consults
    * before committing to a big join — exact distinct-key counts per
    * side, the exact intersection and containment (how much of A's key
    * space B covers, in basis points), plus the sketch-path audit: the
    * HLL union estimate (what you'd use at 100 TB, where the two exact
    * distincts come from maintained slice-sketch tables and only the
    * union is estimated) must land within `tolerancePct` of the exact
    * union. All three inputs to the verdict are one-row aggregates;
    * the combine is a broadcast of sub-KB relations, never a data join.
    * Note the intersection estimate n_a + n_b − est_union inherits
    * EXACTLY the union's absolute error, so one verdict covers both. */
  def keyOverlap(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                 lgK: Int = 14, tolerancePct: Int = 5): DataFrame = {
    val sa = a.agg(expr(s"hll_sketch_agg($aKey, $lgK)").as("__sk_a"),
      countDistinct(col(aKey)).as("n_a"))
    val sb = b.agg(expr(s"hll_sketch_agg($bKey, $lgK)").as("__sk_b"),
      countDistinct(col(bKey)).as("n_b"))
    val inter = a.select(col(aKey).as("__k")).distinct()
      .join(b.select(col(bKey).as("__k")).distinct(), Seq("__k"),
        "left_semi")
      .agg(count(lit(1)).as("n_inter"))
    sa.crossJoin(broadcast(sb)).crossJoin(broadcast(inter))
      .select(col("n_a"), col("n_b"), col("n_inter"),
        expr("10000 * n_inter div n_a").as("containment_bp"),
        (abs(expr("hll_sketch_estimate(hll_union(__sk_a, __sk_b, false))")
          - (col("n_a") + col("n_b") - col("n_inter"))) * 100
          <= (col("n_a") + col("n_b") - col("n_inter")) * tolerancePct)
          .as("union_ok"))
  }

  /** Accuracy audit of the slice-union path against both the direct
    * single-pass sketch and the exact distinct count: per group,
    * `n_exact` plus two relational verdicts — the direct sketch and
    * the merged slice-union each within `tolerancePct` of exact. The
    * verdicts (not the float estimates) are the comparable surface. */
  def mergeReport(df: DataFrame, groupCol: String, sliceCol: String,
                  valueCol: String, lgK: Int = 14,
                  tolerancePct: Int = 5): DataFrame = {
    val merged = hllEstimate(
      hllSliceSketches(df, groupCol, sliceCol, valueCol, lgK), groupCol)
      .withColumnRenamed("est_distinct", "__est_merged")
    val direct = df.groupBy(col(groupCol))
      .agg(expr(s"hll_sketch_estimate(hll_sketch_agg($valueCol, $lgK))")
        .as("__est_direct"),
        countDistinct(col(valueCol)).as("n_exact"))
    direct.join(merged, Seq(groupCol))
      .select(col(groupCol), col("n_exact"),
        (abs(col("__est_direct") - col("n_exact")) * 100
          <= col("n_exact") * tolerancePct).as("direct_ok"),
        (abs(col("__est_merged") - col("n_exact")) * 100
          <= col("n_exact") * tolerancePct).as("merged_ok"))
  }
}
