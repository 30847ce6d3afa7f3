package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.{MatStrategy, Materialize, Materialized}

/** Document-deduplication operators for large-scale training-data
  * pipelines: exact (hash-groupBy), MinHash+LSH banding, SimHash, and
  * n-gram Jaccard verification.
  *
  * Scale design (100 TB corpus):
  *  - Exact dedup is one hash-shuffle on a 32-hex-char fingerprint —
  *    the minimum possible; no text travels through the shuffle except
  *    one representative per group (min doc_id).
  *  - MinHash signatures are computed row-local by native one-pass
  *    expressions (no explode, no shuffle, no md5 — shingles are
  *    polynomial codepoint hashes); only the (band, bandKey, doc_id)
  *    triples — 4 small rows per document — are shuffled for the LSH
  *    bucket self-join. Candidate verification joins the 8-byte shingle
  *    hashes back by doc_id (two hash joins), so full pairwise
  *    comparison never happens: cost is O(candidates), not O(n²).
  *  - SimHash is row-local; near-dup banding on 12-bit sub-keys follows
  *    the same bucket-join pattern.
  */
object Dedup {

  /** Exact dedup by normalized-text md5 fingerprint: one row per distinct
    * fingerprint with the surviving (minimum) doc id and the group size.
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(TextFns.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("dup_count"))

  /** MinHash signature columns m0..m15 over distinct k-shingle hashes.
    *
    * The shingle poly-hashes are materialized ONCE into an intermediate
    * array column (`__sh`, also the exact-verification set) and the 16
    * signature slots are computed in a single pass over it — both are
    * native one-pass expressions (ShingleHashesExpr / MinhashSigExpr).
    */
  def withMinhashSignature(docs: DataFrame, textCol: String,
                           k: Int = 5): DataFrame = {
    val sh = docs.withColumn("__sh",
        graft.functions.native.NativeFns.shingleHashes(col(textCol), k))
      .withColumn("__sig",
        graft.functions.native.NativeFns.minhashSig(col("__sh")))
    (0 until TextFns.MinhashSeeds.length).foldLeft(sh) {
      case (df, j) => df.withColumn(s"m$j", col("__sig").getItem(j))
    }.drop("__sig")
  }

  /** Signature relation `(doc_id, __sh, m0..m15)` for `docs`. */
  private def sigOf(docs: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame =
    withMinhashSignature(docs, textCol, k)
      .select(col(idCol).as("doc_id") +: col("__sh") +:
        (0 until 16).map(j => col(s"m$j")): _*)

  /** The signature relation, exposed for sinks that must write it with
    * their own commit protocol (the curate stream's idempotent batch
    * files). Same rows as what [[appendToSignatureTable]] appends. */
  private[graft] def signatureRelation(docs: DataFrame, textCol: String,
                                       idCol: String, k: Int): DataFrame =
    sigOf(docs, textCol, idCol, k)

  /** LSH band keys of a signature relation: 4 bands × 4 signature rows
    * → one (doc_id, band, bkey) row per band.
    */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until 4).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", (0 until 4).map(r => col(s"m${4 * b + r}")): _*)
            .as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))

  /** Screen-health report over a maintained signature table: per LSH
    * band, its bucket count, total rows, the hottest bucket's
    * occupancy, and the candidate-pair volume the band implies
    * (Σ n(n−1)/2 over its buckets) — the standing COST MODEL of the
    * banded self-join, read straight from the stored table with no
    * text and no pairing. A band whose implied_pairs explodes flags a
    * degenerate key (the ER block-purge failure mode) before the
    * screen pays for it; the embeddings-side twin is the IVF index's
    * occupancy report.
    */
  def signatureTableStats(spark: org.apache.spark.sql.SparkSession,
                          sigTablePath: String): DataFrame = {
    val occ = bandsOf(graft.Tables.parquet(spark, sigTablePath))
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
    occ.groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_occupancy"),
        sum(expr("n * (n - 1) div 2")).as("implied_pairs"))
  }

  /** The banded self-join of a signature relation: every (a, b) band
    * collision with a.doc_id < b.doc_id, one row per colliding band,
    * sides aliased `a` and `b`.
    */
  private def bandSelfJoin(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** Distinct self-join candidate pairs `(doc_a, doc_b)`, doc_a < doc_b. */
  private def selfCandidates(sig: DataFrame): DataFrame =
    bandSelfJoin(sig)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Distinct batch×corpus candidate pairs `(batch_id, corpus_id)`: the
    * batch's band keys joined against the corpus's, so corpus×corpus
    * pairs are never generated.
    */
  private def crossCandidates(sigB: DataFrame, sigC: DataFrame): DataFrame =
    bandsOf(sigB).withColumnRenamed("doc_id", "batch_id")
      .join(bandsOf(sigC).withColumnRenamed("doc_id", "corpus_id"),
        Seq("band", "bkey"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()

  /** Candidate pairs with both sides' shingle sets pulled back by id:
    * the first two columns of `cand` are the pair's ids, looked up in
    * `sigA` (as `sh_a`) and `sigB` (as `sh_b`) — two hash joins, so the
    * verify cost is O(candidates).
    */
  private def withShingles(cand: DataFrame, sigA: DataFrame,
                           sigB: DataFrame): DataFrame = {
    val Array(aId, bId) = cand.columns.take(2)
    cand
      .join(sigA.select(col("doc_id").as(aId), col("__sh").as("sh_a")), aId)
      .join(sigB.select(col("doc_id").as(bId), col("__sh").as("sh_b")), bId)
  }

  /** Exact shingle-hash Jaccard verification of candidate pairs: the
    * candidate columns plus `jaccard` (rounded to 4 decimals) for every
    * pair at or above `threshold`.
    */
  private def jaccardVerified(cand: DataFrame, sigA: DataFrame,
                              sigB: DataFrame, threshold: Double): DataFrame =
    withShingles(cand, sigA, sigB)
      .withColumn("jaccard", round(
        graft.functions.native.NativeFns.jaccardNative(
          col("sh_a"), col("sh_b")), 4))
      .where(col("jaccard") >= threshold)
      .select((cand.columns :+ "jaccard").map(col): _*)

  /** LSH candidate pairs + exact shingle-hash-Jaccard verification.
    *
    * Banding: 4 bands × 4 rows over the 16-slot signature. Documents
    * sharing any band key become a candidate pair; pairs are then
    * verified with exact Jaccard over their distinct shingle-hash sets
    * and kept if >= `threshold`.
    *
    * Execution: the signature relation feeds three consumers (both sides
    * of the band self-join and the verification join); it is persisted
    * across them — a production LSH dedup materializes signatures between
    * candidate generation and verification (MEMORY_AND_DISK: spills
    * instead of recomputing at 100 TB). The verified pair list (orders of
    * magnitude smaller than the corpus) is then spilled to parquet
    * ([[MatStrategy.Default]]) and the signature cache is RELEASED
    * before returning, so no RDD blocks outlive the call (LeakSpec).
    *
    * Each call leaves one spill dir on disk until JVM exit — fine for
    * batch jobs; a long-lived SERVICE session should periodically call
    * Materialize.reapDefaultSpills. (Same contract for every operator in
    * this file that returns a spilled frame.)
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    * to 4 decimals.
    */
  def minhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                          k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val sig = sigOf(docs, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Materialize(
      jaccardVerified(selfCandidates(sig), sig, sig, threshold),
      MatStrategy.Default)
    sig.unpersist(false)
    out.df
  }

  /** Incremental NEAR-dup: which documents of a new batch near-duplicate
    * the already-ingested corpus — the fuzzy twin of
    * [[incrementalDedup]], and the shape a continuously-fed pipeline
    * actually runs (today's crawl vs everything so far).
    *
    * Scale shape: candidates come from joining the BATCH's band keys
    * against the CORPUS's band keys — corpus×corpus pairs are never
    * generated (the corpus was already deduplicated when ingested), so
    * candidate count scales with the batch, not the corpus. In
    * production the corpus side is a maintained signature/band table
    * (written once at ingest); here it is recomputed, which is the same
    * plan with a scan in front. Verification joins each side's shingle
    * sets back by id — O(candidates).
    *
    * Returns (batch_id, corpus_id, jaccard) for every cross pair at or
    * above `threshold`, spilled to parquet with both signature caches
    * released (LeakSpec-clean).
    */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
                         textCol: String, idCol: String,
                         k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sigB = sigOf(batch, textCol, idCol, k).persist(lvl)
    val sigC = sigOf(corpus, textCol, idCol, k).persist(lvl)
    val out = Materialize(
      jaccardVerified(crossCandidates(sigB, sigC), sigB, sigC, threshold),
      MatStrategy.Default)
    sigB.unpersist(false)
    sigC.unpersist(false)
    out.df
  }

  /** Persist the corpus's signature relation `(doc_id, __sh, m0..m15)`
    * as a parquet table — the MAINTAINED side of incremental near-dup
    * screening. Written once at ingest (and appended per admitted
    * batch), it turns every later screen into scans of this table
    * instead of re-hashing the corpus text: the 100 TB corpus is
    * tokenized exactly once in its life.
    */
  def writeSignatureTable(corpus: DataFrame, textCol: String,
                          idCol: String, path: String,
                          k: Int = 5): Unit = {
    // doc_id-CLUSTERED (+ per-file id envelopes): the incremental
    // screens' verify pull reads candidate docs' __sh sets — the
    // table's BIG column — through file pruning on the candidate-id
    // set instead of a full-table scan (MaintainedIndex; per-batch IO
    // O(candidates), not O(corpus))
    graft.sources.MaintainedIndex.writeClusteredIndexed(
      sigOf(corpus, textCol, idCol, k), path, "doc_id")
    graft.sources.MaintainedIndex.writeMarker(corpus.sparkSession, path,
      ShingleKMarker, k.toString)
  }

  /** Marker holding the shingle size a signature table was written
    * with: signatures built with one k are meaningless against a batch
    * hashed with another, and without it a mismatched screen would
    * silently admit every duplicate. */
  private[graft] val ShingleKMarker = "_graft_shingle_k"

  /** Refuse a signature table whose recorded shingle size is not `k`:
    * mixed-k shingle sets never intersect, so screening (or appending)
    * across them would silently admit every duplicate. */
  private[graft] def requireShingleK(spark: org.apache.spark.sql.SparkSession,
                                     path: String, k: Int): Unit = {
    val storedK = signatureTableK(spark, path)
    require(storedK == k,
      s"signature table at $path was written with k=$storedK but the " +
        s"batch is hashed with k=$k — shingle sets would never intersect " +
        "and every duplicate would be silently admitted; refusing to mix " +
        "shingle sizes")
  }

  /** Append an ADMITTED batch's signatures to a maintained signature
    * table — the live-table half of the ingest loop: screen the batch
    * with [[incrementalNearDupAgainstPreSigsM]], admit the survivors, then
    * append their signatures so the NEXT batch screens against them
    * too. Refuses a table whose recorded shingle size differs (same
    * guarantee as the screen itself, [[requireShingleK]]). */
  def appendToSignatureTable(batch: DataFrame, textCol: String,
                             idCol: String, path: String,
                             k: Int = 5): Unit = {
    requireShingleK(batch.sparkSession, path, k)
    graft.sources.MaintainedIndex.clusteredIdempotentAppend(
      sigOf(batch, textCol, idCol, k), path,
      s"gen_${java.util.UUID.randomUUID().toString.take(8)}_", "doc_id")
  }

  /** Compact a maintained signature table INTO `outPath` — re-clusters
    * the accumulated per-batch generations on doc_id into one (file
    * count from bytes) and carries the shingle-size marker. Layout
    * only; rows preserved exactly. */
  def compactSignatureTable(spark: org.apache.spark.sql.SparkSession,
                            inPath: String, outPath: String,
                            targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val k = signatureTableK(spark, inPath)
    graft.sources.MaintainedIndex.compactClusteredIndexed(
      spark, inPath, outPath, "doc_id", targetFileBytes)
    graft.sources.MaintainedIndex.writeMarker(spark, outPath,
      ShingleKMarker, k.toString)
  }

  /** Shingle size a signature table was written with. */
  def signatureTableK(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int =
    graft.sources.MaintainedIndex.readMarker(spark, path, ShingleKMarker)
      .getOrElse(throw new IllegalArgumentException(
        s"no $ShingleKMarker marker at $path — not a graft signature " +
          "table (or written by another tool / path typo); write it with " +
          "Dedup.writeSignatureTable, which records the shingle size"))
      .toInt

  /** [[incrementalNearDup]] against a MAINTAINED signature table
    * ([[writeSignatureTable]]) instead of raw corpus text, over an
    * ALREADY-COMPUTED batch signature relation ([[signatureRelation]],
    * `(doc_id, __sh, m0..m15)`, typically persisted by the caller).
    * Identical results (the signature relation is deterministic in the
    * text); SigTableSpec asserts the equality. The corpus side of the
    * plan is a column-pruned scan of the stored table — band keys read
    * m0..m15, verification reads __sh — with no text ever touched.
    * Callers that need the batch's signatures again after the screen
    * (the curate loop appends the survivors' signatures to the table)
    * tokenize the batch once. No k-check here: the caller owns the
    * signature computation and the guard that matched it to the table
    * ([[requireShingleK]]).
    *
    * The verified pairs are materialized [[MatStrategy.Local]]: they
    * never escape the caller's batch, which releases the handle, and a
    * retry rebuilds them, so a DFS spill would buy nothing.
    */
  private[graft] def incrementalNearDupAgainstPreSigsM(
      sigB: DataFrame, sigTablePath: String,
      threshold: Double): Materialized = {
    val spark = sigB.sparkSession
    val sigC = graft.Tables.parquet(spark, sigTablePath)
    // candidate generation reads the 68 B/doc band-key projection of
    // the whole table — the documented tolerable full scan. It is
    // MATERIALIZED (held) because the candidate set feeds both the
    // verify join and the file prune of the __sh pull below.
    val cand = crossCandidates(sigB, sigC)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the verify pull reads the table's BIG column (__sh, the full
      // shingle set) for CANDIDATE corpus docs only: pruned at file
      // level on the doc_id-clustered layout — never a full-column
      // scan. The prune engages only when the candidate set is smaller
      // than the table's file count (the micro-batch regime); bulk
      // screens with corpus-scale candidate sets read the table whole
      // and skip the probe collect. Files whose footers carry no usable
      // doc_id statistics are always read — correct either way.
      val nFiles = graft.sources.MaintainedIndex
        .dataFileCount(spark, sigTablePath)
      // small tables (≤ two task waves of files) read whole with zero
      // probe barriers; larger ones pay ONE bounded job that decides
      // AND fetches (limit nFiles + 1): overflow ⇒ candidates
      // outnumber files ⇒ whole-table read
      val smallTable =
        nFiles <= 2 * spark.sessionState.conf.numShufflePartitions
      val candIds =
        if (smallTable) Array.empty[Any]
        else cand.select(col("corpus_id")).distinct()
          .limit(nFiles + 1).collect().map(_.get(0))
      val shC =
        if (smallTable || candIds.length > nFiles) sigC
        else graft.sources.MaintainedIndex.readPruned(
          spark, sigTablePath, "doc_id", candIds)
      Materialize(jaccardVerified(cand, sigB, shC, threshold),
        MatStrategy.Local)
    } finally { cand.unpersist(false); () }
  }

  /** Whole-corpus near-dup pairs over a MAINTAINED signature table
    * ([[writeSignatureTable]]) — the self-join twin of
    * [[incrementalNearDupAgainstPreSigsM]], and the shape a re-clustering
    * run (threshold change, report refresh) takes once the corpus's
    * signatures are on disk: identical results to
    * [[minhashNearDupPairs]] (the signature relation is deterministic
    * in the text; SigTableSpec asserts the equality) with the corpus
    * text never touched. Candidate generation reads only
    * (doc_id, m0..m15) and verification only (doc_id, __sh) — two
    * column-pruned scans of the stored table — so at 100 TB the corpus
    * is tokenized once at ingest and every later screen is IO-bound on
    * a 20-byte-per-doc projection. No persist is needed: the parquet
    * table IS the materialized signature stage. The verified pairs are
    * spilled to parquet, as in [[minhashNearDupPairs]].
    */
  def nearDupPairsFromSigs(spark: org.apache.spark.sql.SparkSession,
                           sigTablePath: String,
                           threshold: Double = 0.5): DataFrame = {
    val sig = graft.Tables.parquet(spark, sigTablePath)
    Materialize(jaccardVerified(selfCandidates(sig), sig, sig, threshold),
      MatStrategy.Default).df
  }

  /** LSH calibration record over a maintained signature table: every
    * verified near-dup pair with HOW MANY of the bands bucketed it —
    * the measured side of the banding S-curve (P[collide] =
    * 1-(1-j^r)^b). A true pair found by only one band sits at the
    * screen's recall edge (tightening the threshold or widening rows
    * per band loses it next); pairs hit by every band are deep inside.
    * Tuning b×r against THIS table — instead of the textbook curve —
    * is how a production screen is recalibrated after a corpus shift.
    * Same plan shape as [[nearDupPairsFromSigs]] with the candidate
    * `distinct` replaced by a count aggregation: band keys read
    * (doc_id, m0..m15), verification reads (doc_id, __sh), text never
    * touched.
    */
  def nearDupBandProfile(spark: org.apache.spark.sql.SparkSession,
                         sigTablePath: String,
                         threshold: Double = 0.5): DataFrame = {
    val sig = graft.Tables.parquet(spark, sigTablePath)
    val collisions = bandSelfJoin(sig)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
    jaccardVerified(collisions, sig, sig, threshold)
  }

  /** Near-dup drop that keeps the BEST member of each cluster, over a
    * MAINTAINED signature table — the composition a production drop
    * runs (the corpus is tokenized once at ingest; the election never
    * touches text except through `priority`): near-dup pairs come from
    * [[nearDupPairsFromSigs]], identical to the from-text screen by
    * the signature-table contract, at the stored-table family's cost.
    * The election itself is [[dedupKeepBestFromPairs]].
    */
  def dedupKeepBestFromSigs(spark: org.apache.spark.sql.SparkSession,
                            corpus: DataFrame, sigTablePath: String,
                            idCol: String, priority: Column,
                            threshold: Double = 0.5): DataFrame =
    dedupKeepBestFromPairs(corpus,
      nearDupPairsFromSigs(spark, sigTablePath, threshold),
      idCol, priority)

  /** The keeper election over an already-screened `(doc_a, doc_b)`
    * near-dup pair relation: production dedup keeps the CANONICAL copy
    * of each cluster — longest, highest-quality, most recent — not an
    * accident of id assignment (the min-id rule silently prefers
    * whichever copy was crawled first, which for excerpt/truncation
    * clusters is often the WORST member). `priority` is any
    * deterministic expression over the corpus row (bigger = better);
    * ties break on the lower id, so the keeper is total-order unique
    * and engine-reproducible. Clusters are the connected components of
    * `pairs`; singletons keep themselves. Output is one row per corpus
    * doc — (doc_id, cluster_rep, keeper_id, kept) — the keep list and
    * the drop list in one relation (filter on `kept`), with the
    * cluster lineage preserved for audit.
    *
    * Kept separate from the screen — the dominant cost — so any screen
    * producing pairs composes the same way. The election is ONE
    * WindowGroupLimit-eligible window over the assignment keyed by
    * cluster_rep, and the keeper join ships key-only rows.
    */
  def dedupKeepBestFromPairs(corpus: DataFrame, pairs: DataFrame,
                             idCol: String, priority: Column): DataFrame = {
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    val asg = corpus
      .select(col(idCol).as("doc_id"), priority.cast("long").as("__p"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
        col("__p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
      .orderBy(col("__p").desc, col("doc_id").asc)
    val keepers = asg.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("keeper_id"))
    asg.join(keepers, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("kept"))
  }

  /** Asymmetric CONTAINMENT screen over a maintained signature table:
    * for every banded candidate pair, the exact containment of the
    * SMALLER shingle set in the larger —
    *
    *   containment_bp = |S_small ∩ S_large| · 10⁴ div |S_small|
    *
    * in exact integer basis points, keeping pairs at `minContainmentBp`
    * and above. This catches what symmetric Jaccard dedup structurally
    * misses: a quote, excerpt, or boilerplate-wrapped copy is almost
    * fully contained in its source (c ≈ 10⁴) while the pair's Jaccard
    * can sit far below any dedup threshold because the size ratio
    * drags the union up. Candidates still come from the LSH bands, so
    * RECALL is bounded by the banding S-curve at the pair's JACCARD,
    * not its containment — the documented screen limit (a tiny quote
    * inside a huge page has near-zero Jaccard and will not band-
    * collide); the wide-recall path for that regime is the winnowing
    * fingerprint screen (Corpus.winnowingFingerprints), whose grammar
    * is positional, not set-shaped. Plan shape is
    * [[nearDupPairsFromSigs]]'s: band keys read (doc_id, m0..m15),
    * verification reads (doc_id, __sh), text never touched; ties in
    * set size resolve to the lower id as "small" so the output is
    * deterministic. Output: (doc_small, doc_large, n_small, n_large,
    * containment_bp).
    */
  def containmentPairsFromSigs(spark: org.apache.spark.sql.SparkSession,
                               sigTablePath: String,
                               minContainmentBp: Long = 7000L): DataFrame = {
    require(minContainmentBp >= 0 && minContainmentBp <= 10000,
      s"containment is in basis points 0..10000, got $minContainmentBp")
    val sig = graft.Tables.parquet(spark, sigTablePath)
    withShingles(selfCandidates(sig), sig, sig)
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter"))
      .select(
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_small"),
        when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_large"),
        least(col("n_a"), col("n_b")).as("n_small"),
        greatest(col("n_a"), col("n_b")).as("n_large"),
        expr("(inter * 10000) div least(n_a, n_b)").as("containment_bp"))
      // an empty shingle set (degenerate empty doc) has no containment
      // statement to make; the null from its zero division must not
      // survive into the report
      .where(col("n_small") > 0 &&
        col("containment_bp") >= minContainmentBp)
  }

  /** Cross-table CONTAINMENT screen: an incoming batch against a
    * MAINTAINED signature table — the incremental form of
    * [[containmentPairsFromSigs]], and the shape a live ingest runs to
    * ask "is this new document an excerpt (or an expansion) of
    * something already in the corpus?" before admitting it. Banded
    * candidates exactly like [[incrementalNearDupAgainstPreSigsM]]
    * (corpus text never touched; band keys read m0..m15, verification
    * reads __sh), then the exact asymmetric score in integer basis
    * points, reported in BOTH directions so the caller can tell
    * excerpt-of-corpus (batch small) from expansion-of-corpus (batch
    * large): batch_in_corpus_bp = |∩|·10⁴ div |S_batch|,
    * corpus_in_batch_bp = |∩|·10⁴ div |S_corpus|. Keeps rows where
    * EITHER direction clears `minContainmentBp`. Recall is bounded by
    * the banding curve at the pair's Jaccard — the same documented
    * limit as the self-join screen.
    */
  def containmentAgainstSigs(batch: DataFrame, sigTablePath: String,
                             textCol: String, idCol: String,
                             k: Int = 5,
                             minContainmentBp: Long = 7000L): DataFrame = {
    require(minContainmentBp >= 0 && minContainmentBp <= 10000,
      s"containment is in basis points 0..10000, got $minContainmentBp")
    val spark = batch.sparkSession
    requireShingleK(spark, sigTablePath, k)
    val sigB = sigOf(batch, textCol, idCol, k)
    val sigC = graft.Tables.parquet(spark, sigTablePath)
    withShingles(crossCandidates(sigB, sigC), sigB, sigC)
      .select(col("batch_id"), col("corpus_id"),
        size(col("sh_a")).cast("long").as("n_batch"),
        size(col("sh_b")).cast("long").as("n_corpus"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter"))
      .select(col("batch_id"), col("corpus_id"), col("n_batch"),
        col("n_corpus"),
        expr("(inter * 10000) div n_batch").as("batch_in_corpus_bp"),
        expr("(inter * 10000) div n_corpus").as("corpus_in_batch_bp"))
      .where(col("n_batch") > 0 && col("n_corpus") > 0 &&
        (col("batch_in_corpus_bp") >= minContainmentBp ||
          col("corpus_in_batch_bp") >= minContainmentBp))
  }

  /** 48-bit SimHash per document — one-pass native expression
    * (SimhashExpr: tokenize, md5-prefix token hash, ±1 bit votes);
    * bit-identical to the tests' HOF reference (HofReference). */
  def withSimhash(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("simhash",
      graft.functions.native.NativeFns.simhashNative(col(textCol)))

  /** SimHash near-dup STAR edges via banded bucketing: the 48-bit
    * simhash is split into 4 bands of 12 bits; in every (band, value)
    * bucket each document is paired with the bucket's MINIMUM doc id
    * (the hub), then the FULL hamming distance is verified <=
    * `maxHamming`.
    *
    * Star edges, not cliques, are the 100 TB-safe shape: a bucket of m
    * near-identical documents yields m-1 edges instead of m(m-1)/2 (a
    * 2000-duplicate cluster is 2k rows, not 2M), while connectivity for
    * a downstream connectedComponents drop-stage is preserved — every
    * bucket member reaches the hub directly. The trade-off is that
    * cross-member similarity is only implied transitively; a pair whose
    * hub edge fails verification can drop out even if the pair itself
    * is close (same contract as production fuzzy-dedup pipelines that
    * cluster on bucket membership).
    *
    * simhash is row-local; the per-bucket hub is ONE aggregation over
    * (band, 12-bit key, doc_id, simhash) thin rows, and verification is
    * a bit_count on the edge itself — no pairwise join at any point.
    *
    * Returns (doc_a, doc_b, hamming) with doc_a = hub < doc_b, distinct
    * across bands.
    */
  def simhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 6): DataFrame = {
    val sh = withSimhash(docs.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol).as("doc_id"), col("simhash"))
    val bands = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 12 * b).bitwiseAND(lit(0xFFFL))
            .as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.bkey"))
    val hubs = bands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("hub_id"),
        min_by(col("simhash"), col("doc_id")).as("hub_sim"))
    bands.join(hubs, Seq("band", "bkey"))
      .where(col("doc_id") =!= col("hub_id"))
      .select(col("hub_id").as("doc_a"), col("doc_id").as("doc_b"),
        bit_count(col("hub_sim").bitwiseXOR(col("simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Per-round iteration width for [[connectedComponents]]: the floor
    * ([[CcIterPartitions]]) widened by the OPTIMIZER'S SIZE
    * ESTIMATE of the pair graph at one AQE-advisory-sized partition's
    * worth of edges each, capped at the session's shuffle parallelism.
    *
    * The estimate comes from `optimizedPlan.stats` — compile-time only,
    * no job runs (reading the materialized partition count through
    * `.rdd` under AQE would execute the pair pipeline's shuffle stages
    * a second time just to count them). Join-cardinality estimates can
    * overshoot wildly, hence the shuffle-parallelism cap: on a real
    * cluster that conf is already sized to the fleet, so "huge graph"
    * iterates at fleet width, never at 8.
    */
  private[graft] def ccIterWidth(pairs: DataFrame, floor: Int): Int = {
    val conf = pairs.sparkSession.sessionState.conf
    val advisory = math.max(conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), 1L)
    val est = pairs.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes =
      if (est > BigInt(Long.MaxValue)) Int.MaxValue
      else math.min(est.toLong / advisory + 1, Int.MaxValue.toLong).toInt
    math.max(floor, math.min(byBytes, math.max(floor, conf.numShufflePartitions)))
  }

  /** Edge-count ceiling for the small-graph fast path: at or below it,
    * [[connectedComponents]] folds the materialized edge set with a
    * single-stage union-find instead of iterating — per-round fixed
    * costs (4 stages of scheduling + a materialization + a convergence
    * scan, times O(log d) rounds) dominate tiny graphs by 10-100×. The
    * decision reads the EXACT count of the just-materialized edges (one
    * narrow pass over cached blocks — join-cardinality plan stats can
    * overshoot by orders of magnitude and would disable the path
    * exactly when it matters). 4M edges in one union-find task is
    * ~100 MB of LongMap and low single-digit seconds — far below what
    * a single round of the iterative path costs on the same input.
    */
  val SmallGraphMaxEdges: Long = 4L << 20

  /** One-task union-find fold of an edge list — the small-graph body.
    * Union-by-min keeps every root the component minimum, so the output
    * (doc_id, cluster_rep=component min) is EXACTLY the iterative
    * path's fixpoint, independent of edge order.
    */
  private def ccFoldSmall(edges: DataFrame): DataFrame = {
    val idType = edges.schema("src").dataType
    val tupleEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as(tupleEnc)
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }(tupleEnc)
      .toDF("doc_id", "cluster_rep")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_rep").cast(idType).as("cluster_rep"))
  }

  /** Round cap of [[connectedComponents]]: pointer doubling needs
    * O(log diameter) rounds, so 50 covers any chain a pair graph holds.
    */
  private val CcMaxRounds = 50

  /** Floor of the per-round iteration width ([[ccIterWidth]]): the
    * label/edge relations are usually tiny compared to the
    * pair-generation work upstream, and iterating at full shuffle
    * parallelism pays ~4 stages of task-scheduling overhead per round
    * for near-empty partitions.
    */
  private val CcIterPartitions = 8

  /** Connected components over an undirected pair graph: every PAIRED
    * node is labeled with the minimum node id of its component (the
    * cluster representative). Nodes with no pair do not appear in the
    * output — a dedup drop-stage must left-join and
    * `coalesce(cluster_rep, doc_id)` to keep singletons.
    *
    * Node ids must be integral (byte/short/int/long): the union-find
    * fold runs on longs and the convergence witness below is a label
    * sum, neither of which has a meaning for string ids. Other id types
    * are refused at entry (map them to a dense long id first).
    *
    * Graphs of at most `smallGraphMaxEdges` edges take the one-task
    * union-find fold. Larger ones run iterative min-label propagation
    * with pointer doubling: each round every node takes the min of (its
    * label, its neighbors' labels, its label's label). The compression
    * hop halves chain lengths, so rounds needed = O(log diameter), not
    * O(diameter).
    *
    * Per-round mechanics, tuned for iteration cost:
    *  - self-loop edges are folded into the edge set once, so the
    *    neighbor-min aggregation yields min(own, neighbors) directly —
    *    no separate left-join with the previous labels;
    *  - labels only ever DECREASE, so convergence is detected by
    *    comparing sum(label) (exact decimal) between rounds — a narrow
    *    scan of the just-checkpointed result instead of a join;
    *  - each round ends with a [[MatStrategy.Local]] materialization: it
    *    pins the round's result and truncates the logical plan (without
    *    which per-round plan nesting grows until driver-side analysis
    *    OOMs); the previous round's storage is released as soon as the
    *    new round lands, so long runs don't accumulate executor storage.
    *
    * The returned frame is spilled to parquet ([[MatStrategy.Default]])
    * and all per-round storage is released before returning: no RDD
    * blocks outlive the call (LeakSpec, DedupSpec).
    *
    * Throws if the round cap is hit without convergence — silent
    * partial labels would poison the downstream drop decisions.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(aCol, bCol).foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents needs integral node ids (byte/short/int/" +
          s"long), but column $c is ${t.simpleString}")
    }
    def checkpointTracked(df: DataFrame): (DataFrame, () => Unit) = {
      val m = Materialize(df, MatStrategy.Local); (m.df, m.release)
    }
    // a genuinely huge pair graph widens past the floor automatically
    // (ccIterWidth) instead of funneling through it
    val width = ccIterWidth(pairs, CcIterPartitions)
    val directed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val (edges, freeEdges) = checkpointTracked(
      directed
        .union(directed.select(col("src"), col("src").as("dst"))) // self-loops
        .distinct()
        .repartition(width))
    if (edges.count() <= smallGraphMaxEdges) {
      val out = Materialize(ccFoldSmall(edges), MatStrategy.Default)
      freeEdges()
      return out.df
    }
    var labels = edges.where(col("src") === col("dst"))
      .select(col("src").as("doc_id"), col("src").as("label"))
    var freeLabels: () => Unit = () => ()
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var rounds = 0
    while (!converged && rounds < CcMaxRounds) {
      // min over own + neighbor labels in ONE join+agg (self-loops make
      // the node's current label flow through the same path)
      val merged = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("label"))
      // pointer-doubling hop: follow my label to ITS label
      val (updated, freeUpdated) = checkpointTracked(
        merged.alias("m")
          .join(merged.select(col("doc_id").as("label"),
            col("label").as("label2")).alias("p"), Seq("label"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("label2"), col("label")))
              .as("label")))
      // labels are monotonically non-increasing, so the exact label sum
      // is a fixpoint witness: unchanged sum <=> no label changed
      val sum = updated
        .agg(org.apache.spark.sql.functions.sum(col("label").cast("decimal(38,0)")))
        .first().getDecimal(0)
      converged = prevSum != null &&
        ((sum == null && prevSum == null) || (sum != null && sum.compareTo(prevSum) == 0))
      prevSum = sum
      freeLabels()
      labels = updated
      freeLabels = freeUpdated
      rounds += 1
      if (sum == null) converged = true // empty graph: nothing to label
    }
    freeEdges()
    if (!converged) {
      freeLabels()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $CcMaxRounds rounds " +
          "(component diameter too large)")
    }
    val out = Materialize(
      labels.select(col("doc_id"), col("label").as("cluster_rep")),
      MatStrategy.Default)
    freeLabels()
    out.df
  }

  /** Incrementally MAINTAIN a cluster assignment as new near-dup pairs
    * arrive — the continuous-ingest companion of
    * [[connectedComponents]]: instead of re-clustering the full pair
    * graph (which at 100 TB means re-reading every historical pair),
    * the existing `(doc_id, cluster_rep)` assignment is folded in as
    * STAR EDGES (each member → its rep) and only the NEW pairs add
    * structure on top.
    *
    * Result is IDENTICAL to connectedComponents over (historical pairs
    * ∪ new pairs): reps are component minima, so every old component
    * collapses to a depth-1 star whose hub carries the old minimum, and
    * min-label propagation over stars + new edges reaches the union's
    * minimum. The iteration converges in O(log(merge-chain length))
    * rounds over a graph that is |assignment| + |new pairs| rows — the
    * old pair set (orders of magnitude larger than its node set for
    * duplicate-heavy corpora) is never touched again. IncrSpec asserts
    * equality with the from-scratch clustering.
    *
    * Nodes appearing only in `newPairs` join the graph as usual;
    * nodes only in `existing` keep their old assignment (possibly
    * re-labeled if a new edge merges their component with a
    * lower-minimum one). Returns the same spilled frame as
    * [[connectedComponents]].
    */
  def incrementalClusters(existing: DataFrame, newPairs: DataFrame,
                          aCol: String, bCol: String): DataFrame = {
    val stars = existing.select(col("doc_id").as(aCol),
      col("cluster_rep").as(bCol))
    connectedComponents(stars.union(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol)
  }

  /** Incremental dedup: which rows of a NEW batch are novel relative to
    * an already-ingested corpus — the shape every continuously-fed
    * training-data pipeline runs (today's crawl vs everything ingested
    * so far). Returns one row per surviving fingerprint:
    * (fingerprint, keeper_id) where keeper_id is the minimum batch id.
    *
    * Two-stage: (1) within-batch exact dedup (hash aggregation on the
    * 32-hex fingerprint, partial map-side combine); (2) LEFT ANTI join
    * against the corpus's fingerprint projection. At 100 TB the corpus
    * side ships only its fingerprint column (column-pruned scan, 32
    * bytes/doc); in production that projection would be a maintained
    * fingerprint table so the anti-join never rescans raw text. Both
    * stages shuffle on the same key, so AQE plans them back-to-back.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val keep = batch
      .select(TextFns.fingerprintMd5(col(textCol)).as("fingerprint"),
        col(idCol))
      .groupBy("fingerprint").agg(min(col(idCol)).as("keeper_id"))
    val seen = corpus.select(
      TextFns.fingerprintMd5(col(textCol)).as("fingerprint"))
    keep.join(seen, Seq("fingerprint"), "left_anti")
  }

  /** Distinct word n-grams of a text: the gram set of the three
    * n-gram reports below (empty below n tokens and on null text). */
  private[graft] def distinctGrams(text: Column, n: Int): Column =
    array_distinct(TextFns.wordGrams(TextFns.words(text), n))

  /** Benchmark decontamination report: for every corpus document, how
    * much of it appears verbatim in an evaluation set — the fraction of
    * its distinct word n-grams that occur in ANY eval document. Training
    * pipelines drop (or flag) documents above a contamination threshold
    * so benchmark answers don't leak into the training corpus.
    *
    * Scale shape: the eval side is tiny by construction (a benchmark),
    * so its distinct gram set BROADCASTS and the corpus-side probe is a
    * map-side hash semi-join on the exploded grams — the corpus is
    * never shuffled by gram; the only exchange is the per-doc count
    * aggregation on doc id. Documents shorter than n tokens have zero
    * grams and report 0.0.
    *
    * Returns (id, n_grams, n_matched, contamination) per corpus doc.
    */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
                          textCol: String, idCol: String,
                          n: Int = 8): DataFrame = {
    val cg = corpus.select(col(idCol),
      distinctGrams(col(textCol), n).as("grams"))
    val ev = evalSet.select(explode(distinctGrams(col(textCol), n)).as("gr"))
      .distinct()
    val matched = cg.select(col(idCol), explode(col("grams")).as("gr"))
      .join(broadcast(ev), Seq("gr"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_matched"))
    cg.join(matched, Seq(idCol), "left")
      .select(col(idCol),
        size(col("grams")).cast("long").as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(size(col("grams")) === 0, lit(0.0d))
          .otherwise(round(coalesce(col("n_matched"), lit(0L)).cast("double") /
            size(col("grams")).cast("double"), 4)).as("contamination"))
  }

  /** Per-document n-gram NOVELTY under first-occurrence attribution:
    * every distinct word n-gram is owned by the LOWEST doc id that
    * contains it, and a document's novelty is the share of its distinct
    * grams it introduced — in integer basis points, so the score is
    * engine-exact. The data-curriculum signal (later near-copies score
    * toward 0; fresh material toward 10000) and the corpus-internal
    * dual of [[contaminationReport]]: contamination asks "seen in the
    * eval set", novelty asks "seen EARLIER in this corpus".
    *
    * Scale shape: explode distinct grams off one doc-keyed fan-out
    * exchange; ownership is a partial-combined `min(id)` aggregate per
    * gram — NEVER a window partitioned by gram content. Natural
    * language has guaranteed corpus-wide hot grams ("of the" appears
    * once per document after the per-doc distinct — billions of copies
    * at 100 TB), and a gram-partitioned window sorts every copy on one
    * reducer, where the aggregate's map-side combine emits one row per
    * (task, gram). The two consumers (per-doc gram counts ride the
    * doc-keyed exchange shuffle-free; ownership re-shuffles by gram)
    * re-run the explode off the SAME reused fan-out exchange: the
    * corpus is scanned once and tokenized twice — linear CPU traded
    * for the removed skew. Documents never pair up, so the cost is
    * linear in total grams at any corpus size. Documents with fewer
    * than n tokens have no grams and no row (the oracle drops them
    * identically).
    */
  def noveltyReport(corpus: DataFrame, textCol: String, idCol: String,
                    n: Int = 2): DataFrame = {
    val grams = distinctGrams(col(textCol), n)
    // the gram fan-out is this operator's CPU and runs before any
    // shuffle — one doc-keyed repartition at explicit width fans it
    // past the scan's split count (the SparseSim device)
    val fan = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val gr = corpus.repartition(fan, col(idCol))
      .select(col(idCol), explode(grams).as("gr"))
    val base = gr.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val owned = gr.groupBy(col("gr")).agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    base.join(owned, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0) * 10000 div n_grams")
          .as("novelty_bp"))
  }

  /** Word n-gram Jaccard similarity between two text columns (exact
    * verification metric for near-dup candidates). A side with fewer
    * than n tokens contributes an EMPTY gram set; if both sides are
    * empty the similarity is defined as 0.0 (the oracle mirrors both
    * rules, so short texts stay engine-portable).
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = distinctGrams(a, n)
    val gb = distinctGrams(b, n)
    val inter = size(array_intersect(ga, gb))
    val union = size(array_union(ga, gb))
    round(when(union === 0, lit(0.0d))
      .otherwise(inter.cast("double") / union.cast("double")), 4)
  }
}
