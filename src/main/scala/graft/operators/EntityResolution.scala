package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage / master-data dedup) for structured
  * records: blocking, fuzzy pair scoring, transitive entity clustering,
  * and golden-record survivorship — the classic "data clean" counterpart
  * of the document-dedup family in [[Dedup]].
  *
  * Scale design (billions of records):
  *  - Candidates come from BLOCKING, never a cross join: records are
  *    hashed to blocks by one or more cheap keys and only within-block
  *    pairs exist. With discriminative keys, block size is O(1) and the
  *    candidate count is linear in the table. A block-occupancy guard
  *    (block purging, [[DefaultMaxBlockSize]]) bounds the damage when a
  *    key turns out NOT to be discriminative: oversized blocks are
  *    dropped before the pair join, so skew cannot go quadratic.
  *  - Candidate pairs are ID-ONLY through the block self-join and the
  *    multi-pass distinct; attributes join back afterwards (two hash
  *    joins), so wide records never ride the pair-shaped shuffle — the
  *    same shape [[Dedup.minhashNearDupPairs]] and
  *    [[Similarity.lshNearDupPairs]] use.
  *  - Scoring is row-local codegen'd expressions (levenshtein, exact
  *    matches, numeric closeness) on the joined pair — no UDFs.
  *  - Entity ids come from [[Dedup.connectedComponents]] (pointer
  *    doubling, O(log diameter) rounds); golden records are ONE
  *    aggregation over the assigned table.
  *
  * Reference anchor: the reference merges per-key snapshots with
  * full-outer coalesce (DataCleanUtils.scala joinTableData) — exact-key
  * entity merge. This family generalizes it to fuzzy keys, which is what
  * a real customer/supplier master needs.
  */
object EntityResolution {

  /** Default block-occupancy cap: blocks with more members than this are
    * PURGED before the pair join (standard blocking-literature "block
    * purging" — a key shared by thousands of records carries no
    * discriminative signal, and its pairs are noise that costs O(m²)).
    * The cap bounds per-block pair work at ~cap²/2 regardless of data
    * skew, so one hot key (a common surname at 100×) can never go
    * quadratic. Callers with genuinely dense keys can raise it; the
    * guard itself is skew-safe: occupancy comes from a map-side-combining
    * aggregation and the purge is a left-anti join co-partitioned with
    * the pair join, so the hot key's rows are only ever touched
    * linearly.
    */
  val DefaultMaxBlockSize: Int = 4096

  /** The (bkey, occupancy) rows a blocking run at `maxBlockSize` will
    * PURGE — the audit twin of the silent in-plan guard: purging is
    * deliberately lossy under genuinely dense keys (their pairs vanish
    * with no in-band signal), so a pipeline that cannot tolerate loss
    * runs this first and alerts/logs on a non-empty result, or raises
    * the cap (up to `Int.MaxValue` to disable) for keys it trusts.
    * Same map-side-combining count as the guard itself; key-only rows,
    * no payload.
    */
  def purgedBlocks(records: DataFrame, blockKey: Column,
                   maxBlockSize: Int = DefaultMaxBlockSize): DataFrame =
    records.select(blockKey.as("bkey")).where(col("bkey").isNotNull)
      .groupBy(col("bkey")).agg(count(lit(1)).as("occupancy"))
      .where(col("occupancy") > maxBlockSize)

  /** Drop rows whose `keyCols` group has more than `cap` members. The
    * count aggregates with map-side partials (hot keys never pile into
    * one task before combining) and the oversized-key relation is
    * key-only, so the anti-join ships no record payload.
    *
    * NOTE the default is LOSSY by design: pairs under a purged key are
    * not produced, and no in-band signal marks the loss (an extra count
    * action per call would defeat the one-pass plan). Callers needing
    * visibility run [[purgedBlocks]] as the audit step; callers with
    * trusted dense keys pass a higher cap / `Int.MaxValue`.
    */
  private def purgeOversized(b: DataFrame, keyCols: Seq[String],
                             cap: Int): DataFrame = {
    val oversized = b.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > cap)
      .select(keyCols.map(col): _*)
    b.join(oversized, keyCols, "left_anti")
  }

  /** Within-block candidate pairs for a single blocking key: records
    * sharing a non-null `blockKey` become id-only pairs (id_a < id_b).
    * One row per record enters the join, so each pair appears exactly
    * once — no distinct, no extra shuffle. Blocks larger than
    * `maxBlockSize` are purged (see [[DefaultMaxBlockSize]]), bounding
    * pair work per block under arbitrary key skew.
    */
  def blockedPairs(records: DataFrame, idCol: String, blockKey: Column,
                   maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    val b = purgeOversized(
      records.select(col(idCol).as("id"), blockKey.as("bkey"))
        .where(col("bkey").isNotNull),
      Seq("bkey"), maxBlockSize)
    b.as("a").join(b.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Multi-pass blocking: a pair is a candidate if it shares ANY of the
    * `blockKeys` (null keys never block). Each key is a separate pass —
    * the join key is (pass, value), so values never collide across
    * passes — and the union of passes is deduplicated id-only.
    */
  def blockedPairsAny(records: DataFrame, idCol: String,
                      blockKeys: Seq[Column],
                      maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    require(blockKeys.nonEmpty, "at least one blocking key")
    val b = purgeOversized(
      records.select(col(idCol).as("id"),
          explode(array(blockKeys.zipWithIndex.map { case (k, i) =>
            struct(lit(i).as("pass"), k.cast("string").as("bkey"))
          }: _*)).as("bk"))
        .select(col("id"), col("bk.pass").as("pass"), col("bk.bkey").as("bkey"))
        .where(col("bkey").isNotNull),
      Seq("pass", "bkey"), maxBlockSize)
    b.as("a").join(b.as("b"),
        col("a.pass") === col("b.pass") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Cross-TABLE blocked candidates — the LOOKUP form of record
    * linkage (match a dirty batch against a clean master, the
    * incremental shape a live MDM pipeline runs): left/right rows
    * sharing a non-null block key value become id-only (l_id, r_id)
    * pairs. Each side contributes one row per record, so pairs are
    * already distinct; attributes join back afterwards exactly as in
    * the self-join form. Keys exceeding `maxBlockSize` members on
    * EITHER side are purged from both (per-key pair volume is
    * |L_k|·|R_k|, so either side's occupancy alone can make a key
    * quadratic).
    */
  def blockedJoin(left: DataFrame, leftId: String, leftKey: Column,
                  right: DataFrame, rightId: String, rightKey: Column,
                  maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    val l = purgeOversized(
      left.select(col(leftId).as("l_id"), leftKey.as("bkey"))
        .where(col("bkey").isNotNull), Seq("bkey"), maxBlockSize)
    val r = purgeOversized(
      right.select(col(rightId).as("r_id"), rightKey.as("bkey"))
        .where(col("bkey").isNotNull), Seq("bkey"), maxBlockSize)
    l.join(r, "bkey").select(col("l_id"), col("r_id"))
  }

  /** Normalized edit similarity in [0,1]: 1 − levenshtein/max(length),
    * rounded to 4 decimals (engine-portable; DuckDB spells the identical
    * expression). Equal strings score 1.0; both-empty also 1.0.
    */
  def nameSimilarity(a: Column, b: Column): Column =
    round(when(greatest(length(a), length(b)) === 0, lit(1.0d))
      .otherwise(lit(1.0d) - levenshtein(a, b).cast("double") /
        greatest(length(a), length(b)).cast("double")), 4)

  /** Attach each side's attributes to id-only candidate pairs: columns
    * of `attrs` appear as `<name>_a` / `<name>_b`. The pair list stays
    * the narrow relation until this point — call it right before
    * scoring.
    */
  def withPairAttributes(cand: DataFrame, records: DataFrame,
                         idCol: String, attrs: Seq[String]): DataFrame = {
    val aSide = records.select(col(idCol).as("id_a") +:
      attrs.map(c => col(c).as(s"${c}_a")): _*)
    val bSide = records.select(col(idCol).as("id_b") +:
      attrs.map(c => col(c).as(s"${c}_b")): _*)
    cand.join(aSide, "id_a").join(bSide, "id_b")
  }

  /** Entity assignment from linked pairs: every record gets the minimum
    * record id of its transitive link component; unlinked records are
    * their own entity. Clustering is [[Dedup.connectedComponents]]
    * (pointer doubling, per-round materialization), so the link ids
    * must be integral; the singleton completion is one left join.
    *
    * Returns (id, entity_id) for EVERY record.
    */
  def entityClusters(records: DataFrame, idCol: String, links: DataFrame,
                     aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val clusters = Dedup.connectedComponents(links, aCol, bCol)
      .withColumnRenamed("doc_id", "id")
    records.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_rep"), col("id")).as("entity_id"))
  }

  /** Golden-record survivorship: one merged row per entity, built from
    * caller-supplied aggregate columns (min/max/count/first-non-null
    * policies). One hash aggregation over the assigned table.
    */
  def goldenRecords(assigned: DataFrame, entityCol: String,
                    aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "at least one survivorship aggregate")
    assigned.groupBy(col(entityCol)).agg(aggs.head, aggs.tail: _*)
  }
}
