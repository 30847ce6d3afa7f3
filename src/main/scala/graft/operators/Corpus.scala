package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus-level reporting operators: vocabulary construction and
  * per-language profiling — the summary passes a training-data pipeline
  * runs after cleaning to decide mixture weights and spot collapsed
  * strata.
  *
  * The reference has no aggregation beyond a scalar MAX
  * (SURVEY.md §2.5, common/SimpleDataCleanUtils.scala:19); these extend
  * its warehouse repertoire with the group-by shapes a corpus report
  * needs, built shuffle-minimal.
  */
object Corpus {

  /** Top-`k` whitespace tokens of lower(trim(text)) by corpus frequency,
    * with a total (cnt desc, token asc) ordering and a dense 1..k rank.
    *
    * Scale shape: explode → hash-aggregate benefits from map-side
    * partial combine (each task emits one row per DISTINCT token it
    * saw, not per occurrence), and the top-k is orderBy+limit — Spark
    * plans TakeOrderedAndProject, a per-partition heap of k followed by
    * a driver merge of n_partitions*k rows, never a global sort of the
    * full vocabulary. The row_number window then runs over only the k
    * survivors (single tiny partition by construction).
    */
  def topKVocab(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = docs
      .select(explode(TextFns.words(col(textCol))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    counts.orderBy(col("cnt").desc, col("token")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("token")))
          .cast("long"))
  }

  /** Term burstiness over the top-`k` collection-frequency terms
    * (Church & Gale's "Poisson mixtures" observation: content words
    * concentrate, function words spread): cf = total occurrences,
    * df = documents containing, burst_bp = cf·10000 div df — the mean
    * occurrences per containing document in basis points. Terms near
    * 10000 appear once wherever they appear (function-word-like);
    * high scores mark topical or templated terms — the
    * stopword-detection / vocab-pruning complement of [[topKVocab]],
    * with the same tokenizer and the same (cf desc, token) top-k rule.
    *
    * Two hash aggregations — (token, doc) then token — and a bounded
    * top-k; no token×doc dense structure, so 100 TB corpora stay
    * linear in total tokens.
    */
  def burstiness(docs: DataFrame, textCol: String, idCol: String,
                 k: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"),
        explode(TextFns.words(col(textCol))).as("token"))
      .where(length(col("token")) > 0)
    val perDoc = toks.groupBy(col("token"), col("id"))
      .agg(count(lit(1)).as("n"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("n")).as("cf"), count(lit(1)).as("df"))
      .orderBy(col("cf").desc, col("token")).limit(k)
      .select(col("token"), col("cf"), col("df"),
        expr("cf * 10000 div df").as("burst_bp"))
  }

  /** Overlapping token-window chunking — the RAG / embedding-prep step
    * that splits each document into `window`-token chunks every `stride`
    * tokens (overlap = window - stride). Chunk starts are 0, stride,
    * 2*stride, … up to the last start that still exposes a new token;
    * a document of ≤ window tokens yields exactly one chunk.
    *
    * Scale shape: entirely row-local — tokenize once, build the chunk
    * array with a codegen'd higher-order `transform`, posexplode. No
    * shuffle, no UDF; output rows carry (id, chunk_id, chunk, n_tok) so
    * downstream embedding can repartition however it likes.
    */
  def chunkDocs(docs: DataFrame, textCol: String, idCol: String,
                window: Int = 40, stride: Int = 30): DataFrame = {
    require(window > 0 && stride > 0,
      s"window/stride must be positive, got $window/$stride")
    require(stride <= window,
      s"stride $stride > window $window would silently skip tokens " +
        "between chunks — every token must land in at least one chunk")
    docs
      .select(col(idCol),
        TextFns.words(col(textCol)).as("__ta"))
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, greatest(0, " +
            s"CAST(ceil((size(__ta) - $window) / $stride.0) AS INT))), " +
            s"i -> array_join(slice(__ta, i*$stride + 1, $window), ' '))")))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        col("col").as("chunk"))
      .withColumn("n_tok", size(split(col("chunk"), " ")).cast("long"))
  }

  /** Per-language corpus profile: document count, total characters,
    * mean token count, and how many documents clear a minimum
    * length/token bar (the mixture-weight inputs). One hash aggregation
    * on the language key; every measure is a partial-aggregatable sum
    * or count, so the shuffle carries one row per (task, language).
    */
  def languageStats(docs: DataFrame, textCol: String,
                    langCol: String): DataFrame = {
    val t = col(textCol)
    docs.groupBy(col(langCol).as("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(length(t).cast("long")).as("sum_chars"),
      round(avg(TextFns.tokenCount(t)), 4).as("avg_tokens"),
      sum(when(length(t) >= 100 && TextFns.tokenCount(t) >= 15, 1L)
        .otherwise(0L)).as("n_substantial"))
  }

  /** Per-document vocabulary coverage: how much of each document's
    * token stream falls OUTSIDE a given vocabulary — the
    * out-of-vocabulary (OOV) signal mixture tuning reads per source /
    * language (a stratum whose documents are mostly OOV against the
    * corpus vocabulary is noise or a collapsed extractor).
    *
    * Tokenization matches [[topKVocab]] exactly (lower(trim), \s+
    * split, empty tokens dropped) so a topKVocab output can feed
    * `vocab` directly. Scale shape: the vocabulary is top-k (tiny) and
    * BROADCASTS into a left join on the exploded tokens — the token
    * stream is shuffled only once, by document id for the per-doc
    * aggregation. Every input document appears in the output; a
    * zero-token document reports (0, 0, 0.0).
    */
  def vocabCoverage(docs: DataFrame, textCol: String, idCol: String,
                    vocab: DataFrame,
                    tokenCol: String = "token"): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(TextFns.words(col(textCol))).as("__tok"))
      .where(length(col("__tok")) > 0)
    val v = vocab.select(col(tokenCol).as("__tok")).distinct()
      .withColumn("__in", lit(1))
    val agg = toks.join(broadcast(v), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0d))
          .otherwise(round(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 4)).as("oov_rate"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): of every `window` consecutive k-shingle hashes,
    * keep the minimum — the guarantee-bearing sparse fingerprint set
    * (any shared substring of length >= k + window - 1 shares at least
    * one selected fingerprint), at ~2/(window+1) the density of the
    * full hash stream. This is the plagiarism/near-dup screen that
    * bounds index size with a COVERAGE guarantee, where MinHash bounds
    * it probabilistically.
    *
    * Ties select the LEFTMOST minimal hash (deterministic; the paper's
    * robust variant picks rightmost — leftmost is equally covered and
    * lets both engines select on one packed integer min). The packed
    * key `h * 2^31 + pos` is exact for ANY Java-representable string:
    * h < 1e9+7 < 2^30 so h * 2^31 < 2^61, and pos < 2^31 (JVM string
    * length bound) can never bleed into the hash field — the minimum
    * orders by (h, pos) lexicographically at every document size.
    *
    * Scale shape: one positional shingle explode (row-local), one
    * sliding window partitioned BY DOCUMENT (never global), one
    * distinct — all parallel over doc_id. Output is (id, pos, h) per
    * SELECTED fingerprint.
    *
    * RECALL CONTRACT (spec-pinned in CorpusSpec "winnowing recall
    * contract"): the minimum reliably-detectable shared run is
    * k + window − 1 characters — guaranteed at that length, carrying
    * NO guarantee one character shorter; the df cap in the matching
    * step only ever removes evidence (a smaller cap never creates a
    * candidate). At the defaults and the screens' caps:
    *
    * | k | window | guarantee threshold | maxDf effect               |
    * |---|--------|---------------------|-----------------------------|
    * | 5 | 4      | 8 chars             | monotone: pairs(m) ⊆ pairs(m') for m ≤ m' |
    * | 5 | 8      | 12 chars            | same                        |
    * | 3 | 4      | 6 chars             | same                        |
    * | 8 | 4      | 11 chars            | same                        |
    */
  def winnowingFingerprints(docs: DataFrame, textCol: String,
                            idCol: String, k: Int = 5,
                            window: Int = 4): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    require(window >= 1, s"window must be >= 1, got $window")
    import graft.functions.native.NativeFns
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    // Hash extraction is the native one-pass positional expression:
    // the HOF form (per-position substring + fold) re-scans the source
    // string per shingle — O(n²), hours on the multi-megabyte long-tail
    // documents this screen exists for. The positional explosion (this
    // operator's CPU) runs BEFORE any shuffle, so its parallelism would
    // be the scan's split count; one doc-keyed repartition fans it out
    // (the SparseSim device) AND pre-partitions for the per-document
    // window, so the window's own exchange disappears — the sort runs
    // on the already doc-hashed exploded stream.
    val fan = docs.sparkSession.sessionState.conf.numShufflePartitions
    val hashed = docs
      .repartition(fan, col(idCol))
      .select(col(idCol).as("id"),
        posexplode(NativeFns.positionalShingleHashes(
          lower(trim(col(textCol))), k)).as(Seq("pos", "h")))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("id"))))
    hashed
      .withColumn("sel",
        min(col("h") * lit(2147483648L) + col("pos")).over(w))
      .where(col("pos") <= col("n") - window) // full windows only
      .select(col("id"),
        (col("sel") % lit(2147483648L)).as("pos"),
        expr("sel div 2147483648L").as("h"))
      .distinct()
  }

  /** Winnowing-index candidate pairs — the MOSS matching step over
    * [[winnowingFingerprints]]: documents sharing at least `minShared`
    * DISTINCT selected fingerprints, ranked by how many they share.
    * Because selection is coverage-guaranteed, any pair sharing enough
    * long substrings MUST surface here — the deterministic complement
    * to the MinHash screen's probabilistic recall.
    *
    * Scale shape mirrors [[SparseSim]]: fingerprints seen in more than
    * `maxDf` documents leave the index (boilerplate shingles carry no
    * discriminative power and quadratically dominate the join), so
    * candidate volume is ≤ maxDf · Σdf — linear in corpus size; the
    * pair join is a hash equi-join on the fingerprint, id-only rows.
    */
  def winnowingCandidates(docs: DataFrame, textCol: String,
                          idCol: String, k: Int = 5, window: Int = 4,
                          maxDf: Long = 50,
                          minShared: Long = 5): DataFrame =
    winnowingCandidatesFrom(
      winnowingFingerprints(docs, textCol, idCol, k, window),
      maxDf, minShared)

  /** The matching step alone, over an already-computed `(id, pos, h)`
    * fingerprint table. Split out so callers can MATERIALIZE the
    * fingerprints first — the match references them three times (df
    * cap + both self-join sides), and a lazy fingerprint plan re-runs
    * its shingle extraction per reference (the [[SparseSim]]
    * posting-table lesson); at 100 TB the fingerprint table is an
    * ingest artifact like the signature table anyway.
    */
  def winnowingCandidatesFrom(fingerprints: DataFrame, maxDf: Long = 50,
                              minShared: Long = 5): DataFrame = {
    require(maxDf >= 1, s"df cap must be >= 1, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val ih = fingerprints.select(col("id"), col("h")).distinct()
    val rare = ih.groupBy(col("h")).agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDf).select(col("h"))
    val p = ih.join(rare, Seq("h"))
    p.select(col("h"), col("id").as("id_a"))
      .join(p.select(col("h"), col("id").as("id_b")), Seq("h"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Positional CONTAINMENT over winnowing fingerprints — the
    * wide-recall screen for the tiny-quote regime that the LSH
    * containment screen structurally misses (Dedup.scala: band
    * collision is bounded by the pair's JACCARD, so a short quote
    * inside a large page never band-collides). Winnowing's coverage
    * guarantee is the opposite grammar: every shared substring of
    * length ≥ k+window−1 contributes a shared SELECTED fingerprint
    * deterministically, and a verbatim excerpt's interior windows
    * select the SAME hashes as the source's corresponding windows
    * (the packed h·2³¹+pos minimum has a uniform pos shift inside any
    * window, so the argmin shingle is identical) — so an excerpt's
    * fingerprint set is contained in its source's regardless of the
    * size ratio. For every pair sharing at least one df-capped
    * fingerprint:
    *
    *   containment_bp = |F_small ∩ F_large| · 10⁴ div |F_small|
    *
    * in exact integer basis points, where F is the doc's distinct
    * df-capped fingerprint set and "small" is the doc with the smaller
    * F (tie → the lower id, so the orientation is total). Kept at
    * `minContainmentBp` and above.
    *
    * Scale shape: the same inverted-index equi-join as
    * [[winnowingCandidatesFrom]] — fingerprints above `maxDf`
    * documents leave the index (boilerplate carries no containment
    * evidence and quadratically dominates), candidates are id-only,
    * text is never touched; per-doc sizes are one count aggregate
    * (capped universe on BOTH numerator and denominator, so the score
    * is consistent). Takes the stored `(id, pos, h)` fingerprint table
    * — extract once at ingest, the sig-table contract.
    */
  def winnowingContainment(fingerprints: DataFrame, maxDf: Long = 50,
                           minContainmentBp: Long = 7000L): DataFrame = {
    require(maxDf >= 1, s"df cap must be >= 1, got $maxDf")
    require(minContainmentBp >= 0 && minContainmentBp <= 10000,
      s"containment is in basis points 0..10000, got $minContainmentBp")
    val ih = fingerprints.select(col("id"), col("h")).distinct()
    val rare = ih.groupBy(col("h")).agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDf).select(col("h"))
    val p = ih.join(rare, Seq("h"))
    val nf = p.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pairs = p.select(col("h"), col("id").as("id_a"))
      .join(p.select(col("h"), col("id").as("id_b")), Seq("h"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(nf.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(nf.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(
        when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b"))
          .as("doc_small"),
        when(col("n_a") <= col("n_b"), col("id_b")).otherwise(col("id_a"))
          .as("doc_large"),
        least(col("n_a"), col("n_b")).as("n_small"),
        greatest(col("n_a"), col("n_b")).as("n_large"),
        col("shared"),
        expr("(shared * 10000) div least(n_a, n_b)").as("containment_bp"))
      .where(col("containment_bp") >= minContainmentBp)
  }

  /** Persist the corpus's winnowing fingerprint table `(id, pos, h)` as
    * a parquet table — the maintained ingest artifact of the positional
    * containment screen, with the same lifecycle contract as the
    * MinHash signature table ([[graft.operators.Dedup.writeSignatureTable]]):
    * written once at ingest, appended per admitted batch, so corpus
    * text is shingled exactly once in its life. Records (k, window)
    * next to the data — fingerprints selected with one geometry never
    * intersect those of another, and a mismatched screen would
    * silently admit every quote.
    */
  def writeWinnowTable(corpus: DataFrame, textCol: String, idCol: String,
                       path: String, k: Int = 5, window: Int = 4): Unit = {
    import graft.sources.MaintainedIndex
    // hash-CLUSTERED from birth (+ per-file h envelopes): the
    // maintained screens' pair probes open only the files whose h
    // range intersects the batch's hash set — per-batch read IO
    // O(batch), not O(corpus)
    MaintainedIndex.writeClusteredIndexed(
      winnowingFingerprints(corpus, textCol, idCol, k, window),
      path, "h")
    MaintainedIndex.writeMarker(corpus.sparkSession, path, WinnowKwMarker,
      s"$k,$window")
    // df state rides beside the data from birth: the containment
    // screens read corpus-wide document frequencies from this sidecar
    // instead of re-aggregating the whole fingerprint table per call.
    // Built from the read-back parquet so the shingle pass isn't run a
    // second time; overwrite (fresh table, fresh state). Clustered on
    // h like the table — the screens' df pulls prune the same way.
    MaintainedIndex.writeClusteredIndexed(
      winnowDfDelta(corpus.sparkSession.read.parquet(path), -1L),
      winnowDfStatePath(path), "h")
    // the doc-keyed PROJECTION (distinct (id, h), clustered on id):
    // the screens' denominator pull needs candidate DOCS' full hash
    // sets — an access path the h-clustered table cannot prune — so it
    // reads this id-clustered projection instead of scanning the table
    MaintainedIndex.writeClusteredIndexed(
      corpus.sparkSession.read.parquet(path)
        .select(col("id"), col("h")).distinct(),
      winnowByIdPath(path), "id")
  }

  /** The doc-keyed screen projection of a winnow table: distinct
    * (id, h), id-clustered + id-indexed, written at ingest and
    * appended per admitted batch. Storage is a second (smaller) copy
    * of the screen's columns — the classic projection trade
    * (C-Store): at 100 TB, a per-batch O(corpus) table scan is the
    * thing you cannot afford; a ~40% storage premium is. */
  def winnowByIdPath(path: String): String =
    new org.apache.hadoop.fs.Path(path, "_graft_winnow_byid").toString

  /** Compact a maintained winnow table INTO `outPath` — the lifecycle
    * counterpart of [[appendToWinnowTable]]: a long-lived ingest table
    * accumulates one clustered generation per admitted batch, and the
    * pruned screens' file bound (kept ≤ probes × generations) degrades
    * linearly with batch count. Re-clusters all three screen artifacts
    * (fingerprint table by h, doc-keyed projection by id, df sidecar
    * by h) into single generations sized by bytes and carries the
    * (k, window) geometry marker.
    * Rows are preserved exactly — screens before and after are equal
    * by the prune-safety rule (CompactionSpec-style assertion in
    * ScreenPruneSpec). The df sidecar's delta rows keep their batch_id
    * stamps: compaction is a layout operation, and replay filtering
    * (`batch_id < ownId`) must keep working on the compacted copy if
    * the curate loop resumes against it. */
  def compactWinnowTable(spark: org.apache.spark.sql.SparkSession,
                         inPath: String, outPath: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    import graft.sources.MaintainedIndex
    val (k, w) = winnowTableParams(spark, inPath)
    ensureWinnowDfState(spark, inPath)
    ensureWinnowScreenIndex(spark, inPath)
    MaintainedIndex.compactClusteredIndexed(
      spark, inPath, outPath, "h", targetFileBytes)
    MaintainedIndex.writeMarker(spark, outPath, WinnowKwMarker, s"$k,$w")
    MaintainedIndex.compactClusteredIndexed(spark,
      winnowByIdPath(inPath), winnowByIdPath(outPath), "id",
      targetFileBytes)
    MaintainedIndex.compactClusteredIndexed(spark,
      winnowDfStatePath(inPath), winnowDfStatePath(outPath), "h",
      targetFileBytes)
  }

  /** Heal a winnow table that predates the doc-keyed projection: build
    * it once from the table. No-op when present. */
  private def ensureWinnowScreenIndex(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Unit = {
    import graft.sources.MaintainedIndex
    val bp = new org.apache.hadoop.fs.Path(winnowByIdPath(path))
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasProj = fs.exists(bp) && fs.listStatus(bp)
      .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (!hasProj)
      MaintainedIndex.writeClusteredIndexed(
        spark.read.parquet(path).select(col("id"), col("h")).distinct(),
        winnowByIdPath(path), "id")
  }

  /** The df-state sidecar of a winnow fingerprint table: an
    * underscore-prefixed subdirectory (invisible to parquet readers of
    * the table itself) holding APPEND-ONLY `(h, d, batch_id)` delta
    * rows — `d` = distinct documents of that append event containing
    * `h`. Document ids are unique across the feed (the ingest
    * contract), so the table's true df is the plain SUM of deltas per
    * hash: folding never needs the fingerprint table, and a screen
    * needing df for a bounded hash set aggregates only the delta rows
    * matching that set — per-batch cost scales with the batch, never
    * the corpus (SURVEY §13, the signature-table contract).
    */
  def winnowDfStatePath(path: String): String =
    new org.apache.hadoop.fs.Path(path, "_graft_winnow_df").toString

  /** One append event's df contribution: distinct containing documents
    * per hash, stamped with the event's batch id (-1 for pre-loop
    * history — the initial corpus and batch-API appends). A replaying
    * curate batch screens against `batch_id < ownId`, so a delta that
    * landed before the crash can never double-count with the batch's
    * own live contribution.
    */
  def winnowDfDelta(fingerprints: DataFrame, batchId: Long): DataFrame =
    fingerprints.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("d"))
      .withColumn("batch_id", lit(batchId))

  /** Build the df sidecar for a winnow table that predates it (or whose
    * copy lost the sidecar): one df aggregation over the fingerprint
    * table, stamped batch_id = -1. No-op when delta files exist. */
  private def ensureWinnowDfState(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Unit = {
    val sp = new org.apache.hadoop.fs.Path(winnowDfStatePath(path))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(sp) && fs.listStatus(sp)
      .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (!hasData)
      winnowDfDelta(spark.read.parquet(path), -1L)
        .write.mode("overwrite").parquet(sp.toString)
    ()
  }

  /** Marker holding the `k,window` geometry of a winnow table. */
  private[graft] val WinnowKwMarker = "_graft_winnow_kw"

  /** (k, window) a winnowing fingerprint table was written with. */
  def winnowTableParams(spark: org.apache.spark.sql.SparkSession,
                        path: String): (Int, Int) = {
    val parts = graft.sources.MaintainedIndex
      .readMarker(spark, path, WinnowKwMarker)
      .getOrElse(throw new IllegalArgumentException(
        s"no $WinnowKwMarker marker at $path — not a graft winnowing " +
          "fingerprint table (or written by another tool / path typo); " +
          "write it with Corpus.writeWinnowTable, which records the " +
          "(k, window) geometry"))
      .split(",")
    (parts(0).toInt, parts(1).toInt)
  }

  /** Append an ADMITTED batch's winnowing fingerprints to a maintained
    * table — the live-table half of the quote-screen ingest loop.
    * Refuses a table whose recorded (k, window) differs. */
  def appendToWinnowTable(batch: DataFrame, textCol: String,
                          idCol: String, path: String,
                          k: Int = 5, window: Int = 4): Unit = {
    val (sk, sw) = winnowTableParams(batch.sparkSession, path)
    require(sk == k && sw == window,
      s"winnow table at $path was written with (k=$sk, window=$sw) but " +
        s"the batch is fingerprinted with (k=$k, window=$window) — " +
        "refusing to mix geometries")
    // fingerprinted ONCE (persisted): the rows feed both the table
    // append and the df-state delta, and the shingle extraction is the
    // operator's whole CPU cost
    // a pre-sidecar table must be healed BEFORE this batch lands in the
    // fingerprint table, or its rows would count twice (once in the
    // rebuild, once in the delta below)
    ensureWinnowDfState(batch.sparkSession, path)
    ensureWinnowScreenIndex(batch.sparkSession, path)
    val fp = winnowingFingerprints(batch, textCol, idCol, k, window)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import graft.sources.MaintainedIndex
      // batch-API appends get a unique generation prefix; each append
      // is its own clustered generation with fresh file envelopes
      val gen = s"gen_${java.util.UUID.randomUUID().toString.take(8)}_"
      MaintainedIndex.clusteredIdempotentAppend(fp, path, gen, "h")
      MaintainedIndex.clusteredIdempotentAppend(
        fp.select(col("id"), col("h")).distinct(),
        winnowByIdPath(path), gen, "id")
      MaintainedIndex.clusteredIdempotentAppend(
        winnowDfDelta(fp, -1L), winnowDfStatePath(path), gen, "h")
    } finally { fp.unpersist(false); () }
  }

  /** The ingest-time QUOTE SCREEN: positional containment of an
    * arriving batch against a maintained winnow table — the one form
    * every caller (the continuous curate loop, batch audits) runs.
    * `batchFps` is the batch's [[winnowingFingerprints]] relation;
    * `tablePath` is a table written by [[writeWinnowTable]] and grown
    * by [[appendToWinnowTable]], with its doc-keyed projection
    * ([[winnowByIdPath]]) and df sidecar ([[winnowDfStatePath]]).
    *
    * Only batch×corpus pairs form (never corpus×corpus: a 100 TB
    * corpus's internal pairs are not this screen's question, and
    * forming them per batch would be quadratic where this is linear in
    * the batch). The df cap is judged over corpus ∪ batch, hash by
    * hash, as stored df (folded from the sidecar's deltas) + the
    * batch's own df — so a hash the batch pushes past `maxDf` is
    * re-judged here and a cap crossing needs no stored-state rewrite,
    * and the result equals the full [[winnowingContainment]] filtered
    * to batch-touching pairs. Either orientation rejects: a tiny quote
    * OF held content and a superset CONTAINING a held document both
    * read high containment, and both mean the batch row duplicates
    * held material.
    *
    * Returns (batch_id, corpus_id, n_batch, n_corpus, shared,
    * containment_bp) at `minContainmentBp` and above, where
    * containment_bp = shared·10⁴ div min(n_batch, n_corpus) in exact
    * integer basis points over the df-capped fingerprint sets,
    * materialized under `mat`; intermediates release before return.
    *
    * `replay` = (the batch's own ids as column `id`, its batch id), for
    * a curate batch that may be replaying after a crash: its ids are
    * excluded corpus-side and the sidecar counts only deltas with
    * `batch_id` below the batch's, so a batch never screens against
    * its own already-landed rows. Replay is SEQUENTIAL — no rows from
    * later batches exist in the table, projection or sidecar at replay
    * time (true for the curate loop).
    *
    * Two regimes, picked by the table's data-file count:
    *  - at most 2 × `spark.sql.shuffle.partitions` files (the table
    *    reads whole anyway): the df cap is judged ONCE, into one
    *    relation of tagged `(id, h, is_batch)` rows —
    *    the batch's distinct fingerprints and the projection's rows,
    *    kept where the hash is rare — materialized once (executor-local
    *    blocks, one per shuffle partition, released before return);
    *    the pair join and both set sizes read its blocks. No persists
    *    of stored tables, no action barriers, one scan each of the
    *    projection and the sidecar, and no schema-inference job;
    *  - above that (the 100 TB steady state): every stored-table read
    *    is file-pruned against the batch's bounded probe sets — of the
    *    table only files whose h-envelope meets the batch's rare-hash
    *    set, of the projection only files whose id-envelope meets the
    *    candidate docs, of the sidecar only files whose h-envelope
    *    meets the batch's (then candidates') hash sets. Pruning only
    *    drops files that contain NO probe key and every pruned read
    *    feeds an equi-semi-join on that key, so the rows are those of
    *    the bulk regime; a file without usable footer statistics is
    *    always read (MaintainedIndex's safety rule), never skipped.
    *    The probe-set collects are the screen's own broadcast sides
    *    read driver-side, bounded by the batch and its candidates;
    *    corpus rows never collect.
    */
  def winnowingContainmentScreen(batchFps: DataFrame,
                                 tablePath: String,
                                 replay: Option[(DataFrame, Long)] = None,
                                 maxDf: Long = 50,
                                 minContainmentBp: Long = 8000L,
                                 mat: graft.ops.MatStrategy =
                                   graft.ops.MatStrategy.Default): graft.ops.Materialized = {
    require(maxDf >= 1, s"df cap must be >= 1, got $maxDf")
    require(minContainmentBp >= 0 && minContainmentBp <= 10000,
      s"containment is in basis points 0..10000, got $minContainmentBp")
    import graft.sources.MaintainedIndex
    val spark = batchFps.sparkSession
    ensureWinnowDfState(spark, tablePath)
    ensureWinnowScreenIndex(spark, tablePath)
    val ownBatchId = replay.fold(Long.MaxValue)(_._2)
    def exclude(df: DataFrame): DataFrame =
      replay.fold(df) { case (ids, _) =>
        df.join(broadcast(ids.select(col("id"))), Seq("id"), "left_anti")
      }
    val dfPath = winnowDfStatePath(tablePath)
    val smallTable = 2 * spark.sessionState.conf.numShufflePartitions
    if (MaintainedIndex.dataFileCount(spark, tablePath) <= smallTable) {
      // BULK regime: the pruned path's persist/barrier machinery buys
      // nothing here and costs plenty (four multi-million-row persists
      // and five sequential action barriers per call, measured 6.5-7.5 s
      // per corpus-scale batch at sf0.1).
      //  - the corpus side reads the doc-keyed PROJECTION — already
      //    distinct (id, h) (ids are unique across appends, so
      //    per-append distincts compose), so no corpus-wide distinct
      //    exchange forms and the scan carries fewer, narrower rows
      //    than the (id, pos, h) table;
      //  - the cap is ONE aggregation by h over the batch's distinct
      //    (id, h) rows (1 each) and the sidecar's pre-aggregated
      //    `(h, d)` deltas: stored df + batch df, and a hash counts only
      //    if the batch or the sidecar holds it. The rare set joins the
      //    tagged rows by h, broadcast only while Spark sizes it under
      //    the broadcast threshold (the sidecar's files set that size),
      //    else a shuffled join that partitions the tagged rows by h
      //    (forced over a 300-document corpus, the shuffled join moved
      //    1.6× the shuffle bytes per curate batch and saved no CPU);
      //  - the capped rows are MATERIALIZED before the consumers split
      //    them by `is_batch`: left lazy, Catalyst pushes that filter
      //    below the union, each consumer gets its own copy of the cap
      //    and its scans, and the exchanges no longer match for reuse.
      //    They land in one block per shuffle partition, not one per
      //    union input (the batch's partitions plus the projection's
      //    splits): at curate-batch sizes per-task setup (task
      //    deserialization, projection codegen) is about half of the
      //    executor CPU, and every consumer stage pays it per block;
      //  - [[graft.Tables.parquet]] reads both appended-to dirs with
      //    no schema-inference job.
      val ihB = batchFps.select(col("id"), col("h")).distinct()
      val rare = ihB.select(col("h"), lit(1L).as("d"))
        .unionByName(graft.Tables.parquet(spark, dfPath)
          .where(col("batch_id") < lit(ownBatchId))
          .select(col("h"), col("d")))
        .groupBy(col("h")).agg(sum(col("d")).as("df"))
        .where(col("df") <= maxDf)
        .select(col("h"))
      val capped = graft.ops.Materialize(
        ihB.withColumn("is_batch", lit(true))
          .unionByName(exclude(
            graft.Tables.parquet(spark, winnowByIdPath(tablePath))
              .select(col("id"), col("h"))).withColumn("is_batch", lit(false)))
          .join(rare, Seq("h"))
          .coalesce(spark.sessionState.conf.numShufflePartitions),
        graft.ops.MatStrategy.Local)
      try {
        val pC = capped.df.where(!col("is_batch")).select(col("id"), col("h"))
        val nC = pC.groupBy(col("id")).agg(count(lit(1)).as("n_corpus"))
          .withColumnRenamed("id", "corpus_id")
        graft.ops.Materialize(containment(
          capped.df.where(col("is_batch")).select(col("id"), col("h")),
          pC, nC, minContainmentBp), mat)
      } finally capped.release()
    } else {
      val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def hold(df: DataFrame): DataFrame = {
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        held += p
        p
      }
      // Prune-or-not, decided per stored read BEFORE any probe collect:
      // a probe set at least as large as the read's file count cannot
      // skip a useful fraction under uniform keys, so bulk-sized
      // batches read it whole and pay ZERO prune overhead; micro-batches
      // take the pruned read. The probe relations are already held, so
      // the probe collects are cache reads.
      def prunedOrFull(dir: String, keyCol: String, probeRel: DataFrame,
                       probeCol: String): (DataFrame, Boolean) = {
        val nFiles = MaintainedIndex.dataFileCount(spark, dir)
        // a SMALL artifact (≤ two task waves of files) is cheaper to
        // read whole than to probe: no decision job at all
        if (nFiles <= smallTable) (spark.read.parquet(dir), false)
        else {
          // ONE bounded job decides AND fetches: collect at most
          // nFiles + 1 probes (an early-exit scan of the held relation).
          // Overflow ⇒ the probe set outnumbers the files ⇒ read whole;
          // otherwise the collected set is the prune's probe array —
          // the driver never holds more probes than the read has files.
          val probes = probeRel.select(col(probeCol))
            .limit(nFiles + 1).collect().map(_.get(0))
          if (probes.length > nFiles) (spark.read.parquet(dir), false)
          else {
            val (df, kept, all) = MaintainedIndex.readPrunedWithInfo(
              spark, dir, keyCol, probes)
            (df, kept < all)
          }
        }
      }
      def dfStateFor(probeRel: DataFrame, probeCol: String): DataFrame =
        prunedOrFull(dfPath, "h", probeRel, probeCol)._1
          .where(col("batch_id") < lit(ownBatchId))
          .select(col("h"), col("d"))
      // The bare count() barriers below fully materialize a held frame
      // before a prune decision's `limit().collect()` probe (or a later
      // stage) reads it: the early-exit probe alone would cache only the
      // partitions it touched and leave the rest to re-run inside later
      // jobs, so the barriers fix the screen's job structure.
      try {
        val ihB = hold(batchFps.select(col("id"), col("h")).distinct())
        val dfB = hold(ihB.groupBy(col("h")).agg(count(lit(1)).as("db")))
        dfB.count()
        // corpus df for BATCH hashes: delta rows pruned to the batch's
        // hash set before any aggregation
        val dfCB = dfStateFor(dfB, "h")
          .join(broadcast(dfB.select(col("h"))), Seq("h"))
          .groupBy(col("h")).agg(sum(col("d")).as("dc"))
        val rareB = hold(dfB.join(dfCB, Seq("h"), "left")
          .where(coalesce(col("dc"), lit(0L)) + col("db") <= maxDf)
          .select(col("h")))
        rareB.count()
        val pB = hold(ihB.join(broadcast(rareB), Seq("h")))
        // the table read: pruned to files whose h-envelope meets the
        // rare batch-hash set, own ids excluded (replay safety); every
        // shared hash is by definition a batch hash
        val (cfpRead, tablePruned) = prunedOrFull(tablePath, "h",
          rareB, "h")
        val cfp = hold(exclude(cfpRead).select(col("id"), col("h")))
        val pC = hold(cfp.join(broadcast(rareB), Seq("h")).distinct())
        pC.count()
        // candidates come off pC: every pC doc holds a rare BATCH hash,
        // so it necessarily pairs with some batch doc
        val candIds = hold(pC.select(col("id")).distinct())
        // the denominator pull needs candidate docs' FULL rare-hash
        // counts, non-batch hashes included — ADAPTIVE between regimes:
        //  - micro-batch: the pair probe was file-pruned, so cfp is a
        //    partial relation and candidate docs' hash sets come from
        //    the ID-CLUSTERED projection, itself pruned to the
        //    candidate-id set;
        //  - batch ~ corpus: the pair probe kept every file, cfp IS the
        //    whole table and is already held — deriving denominators
        //    from it shares the scan, and reading the projection would
        //    only add a second full pass.
        val candFps = hold(
          (if (!tablePruned)
             cfp.join(broadcast(candIds), Seq("id"))
           else
             exclude(prunedOrFull(winnowByIdPath(tablePath), "id",
                 candIds, "id")._1)
               .join(broadcast(candIds), Seq("id")))
            .select(col("id"), col("h")).distinct())
        candFps.count()
        val candH = hold(candFps.select(col("h")).distinct())
        val dfCC = dfStateFor(candH, "h")
          .join(broadcast(candH), Seq("h"))
          .groupBy(col("h")).agg(sum(col("d")).as("dc"))
        val rareC = dfCC.join(dfB, Seq("h"), "left")
          .where(col("dc") + coalesce(col("db"), lit(0L)) <= maxDf)
          .select(col("h"))
        val nC = candFps.join(broadcast(rareC), Seq("h"))
          .groupBy(col("id")).agg(count(lit(1)).as("n_corpus"))
          .withColumnRenamed("id", "corpus_id")
        graft.ops.Materialize(
          containment(pB, pC, nC, minContainmentBp), mat)
      } finally { held.foreach(_.unpersist(false)); () }
    }
  }

  /** The quote screen's shared tail: shared rare hashes per
    * (batch, corpus) pair from the df-capped `(id, h)` relations `pB`
    * and `pC`, joined to both sides' capped set sizes (`n_batch` from
    * `pB`, `n_corpus` given as `nC`) and scored in exact integer basis
    * points, kept at `minContainmentBp` and above. */
  private def containment(pB: DataFrame, pC: DataFrame, nC: DataFrame,
                          minContainmentBp: Long): DataFrame = {
    val nB = pB.groupBy(col("id")).agg(count(lit(1)).as("n_batch"))
      .withColumnRenamed("id", "batch_id")
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

  /** C4-style rule-based line cleaning (the line-level rules of the
    * C4 corpus pipeline, applied per document): a line survives only
    * if it (1) ends in terminal punctuation (`. ! ?`, optionally
    * followed by a closing quote), (2) has at least `minWords`
    * whitespace-delimited words, and (3) contains none of the
    * `blacklist` substrings (case-insensitive). Complements
    * [[removeBoilerplateLines]] (frequency-based, corpus-wide): these
    * rules are content-based and row-local, so the whole filter is
    * embarrassingly parallel — the only exchange is the per-document
    * rebuild aggregation.
    *
    * Each dropped line is charged to the FIRST rule that kills it, in
    * the order no-terminal → too-short → blacklist, so the three
    * counters always sum to `n_dropped`.
    */
  def c4LineClean(docs: DataFrame, textCol: String, idCol: String,
                  minWords: Int = 3,
                  blacklist: Seq[String] =
                    Seq("lorem ipsum", "javascript", "{"),
                  sep: String = "\n"): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    require(blacklist.nonEmpty, "blacklist must not be empty")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val endsPunct = col("line").rlike("""[.!?]["']?\s*$""")
    val nWords = size(regexp_extract_all(col("line"), lit("""\S+"""), lit(0)))
    val dirty = blacklist.map(b =>
      lower(col("line")).contains(lit(b.toLowerCase))).reduce(_ || _)
    val rule = when(!endsPunct, lit("no_terminal"))
      .when(nWords < minWords, lit("too_short"))
      .when(dirty, lit("blacklist"))
    val judged = lines.withColumn("__rule", rule)
    val agg = judged.groupBy(col(idCol)).agg(
      concat_ws(sep, transform(
        array_sort(collect_list(when(col("__rule").isNull,
          struct(col("pos"), col("line"))))),
        x => x.getField("line"))).as("clean_text"),
      sum(when(col("__rule").isNull, 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("__rule") === "no_terminal", 1L).otherwise(0L))
        .as("n_no_terminal"),
      sum(when(col("__rule") === "too_short", 1L).otherwise(0L))
        .as("n_too_short"),
      sum(when(col("__rule") === "blacklist", 1L).otherwise(0L))
        .as("n_blacklist"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_no_terminal"), lit(0L)).as("n_no_terminal"),
        coalesce(col("n_too_short"), lit(0L)).as("n_too_short"),
        coalesce(col("n_blacklist"), lit(0L)).as("n_blacklist"))
  }

  /** Cross-document line dedup, first occurrence wins (the CCNet /
    * Dolma paragraph-dedup rule): every distinct non-blank line keeps
    * exactly ONE copy corpus-wide — the one at the smallest
    * (document, position) — and all later copies are dropped. Blank
    * lines are structural, not content, and always survive. Contrast
    * with [[removeBoilerplateLines]], which drops ALL copies of lines
    * over a frequency cap: first-wins preserves every distinct
    * sentence somewhere in the corpus, which is what you want when
    * the duplicated text is content (syndication) rather than chrome.
    *
    * Scale shape: electing the winner is a `groupBy(line).agg(min(
    * struct(doc, pos)))` — NOT a content-keyed window. The difference
    * is the whole ballgame at 100 TB: a window partitioned by raw line
    * content routes every copy of a corpus-wide boilerplate line to
    * ONE reducer (billions of rows on a single task), where the
    * aggregate's partial (map-side) combine collapses each hot line to
    * one row per input task before the exchange — the hot key costs
    * O(tasks), not O(copies). The winning struct carries (doc, pos)
    * out of the aggregate, so no join-back is needed. Blank lines are
    * structural survivors and are short-circuited AROUND the exchange
    * entirely (filtered before the groupBy, unioned after), so the
    * billions of blank lines in a real corpus never shuffle at all.
    */
  def dedupLinesKeepFirst(docs: DataFrame, textCol: String,
                          idCol: String, sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val blank = length(trim(col("line"))) === 0
    val kept = lines.where(!blank)
      .groupBy(col("line"))
      .agg(min(struct(col(idCol), col("pos"))).as("__w"))
      .select(col("__w").getField(idCol).as(idCol),
        col("__w").getField("pos").as("pos"), col("line"))
      .unionByName(lines.where(blank))
    rebuildCleanDocs(docs, kept, textCol, idCol, sep)
  }

  /** Shared tail of the line-level cleaners: re-assemble each document
    * from its surviving `(pos, line)` rows and account for the drops.
    * A document whose every line was dropped still appears (empty
    * `clean_text`), and a null text column satisfies kept + dropped =
    * total = 0 — `size(split(null))` is null (or -1 under legacy
    * sizeOfNull), which would poison `n_dropped`, so the null case is
    * pinned to 0 explicitly.
    */
  private def rebuildCleanDocs(docs: DataFrame, kept: DataFrame,
                               textCol: String, idCol: String,
                               sep: String): DataFrame = {
    val agg = kept.groupBy(col(idCol)).agg(
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol),
            java.util.regex.Pattern.quote(sep))).cast("long"))
          .as("__total"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** The maintained-state companion to [[dedupLinesKeepFirst]]: the
    * corpus-wide set of non-blank line fingerprints already emitted,
    * stored as `line_md5` (md5 hex of the exact line — engine-portable,
    * 32 bytes/line, content never retained). Build once over the
    * historical corpus, persist as a parquet table, and append each
    * emitted batch's own fingerprints not already present (left-anti
    * on `line_md5`) — history is tokenized once ever, the same
    * amortization contract as Dedup's signature table.
    */
  def seenLinesTable(docs: DataFrame, textCol: String,
                     sep: String = "\n"): DataFrame =
    docs
      .select(explode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as("line"))
      .where(length(trim(col("line"))) > 0)
      .select(md5(col("line")).as("line_md5"))
      .distinct()

  /** Incremental first-wins line dedup: clean a NEW batch against the
    * maintained [[seenLinesTable]] without re-reading historical text.
    * A non-blank line is dropped if its fingerprint is already in
    * `seenLines` (some earlier batch kept it) or if an earlier
    * (doc, pos) within THIS batch kept it — exactly the order-dependent
    * first-wins rule [[dedupLinesKeepFirst]] applies corpus-wide, paid
    * incrementally. Blank lines are structural and always survive.
    * Output schema matches [[dedupLinesKeepFirst]].
    *
    * Scale shape: O(batch) — explode, one hash anti-join against the
    * fingerprint table (map-side combine on md5; history text never
    * read), and the within-batch winner election is the same
    * partial-aggregated `min(struct(doc, pos))` as
    * [[dedupLinesKeepFirst]] (a batch-wide hot line combines map-side
    * instead of landing on one reducer), over only the surviving novel
    * lines. The 100 TB corpus appears solely as the 32-byte/line
    * fingerprint relation.
    */
  def dedupLinesIncremental(batch: DataFrame, seenLines: DataFrame,
                            textCol: String, idCol: String,
                            sep: String = "\n"): DataFrame = {
    val lines = batch.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val blank = length(trim(col("line"))) === 0
    val novel = lines.where(!blank)
      .withColumn("line_md5", md5(col("line")))
      .join(seenLines.select(col("line_md5")), Seq("line_md5"), "left_anti")
      .drop("line_md5")
    val kept = novel
      .groupBy(col("line"))
      .agg(min(struct(col(idCol), col("pos"))).as("__w"))
      .select(col("__w").getField(idCol).as(idCol),
        col("__w").getField("pos").as("pos"), col("line"))
      .unionByName(lines.where(blank))
    rebuildCleanDocs(batch, kept, textCol, idCol, sep)
  }

  /** Line-level boilerplate removal (the CCNet-style pass a web-crawl
    * pipeline runs before document dedup): a LINE that occurs more than
    * `maxOccurrences` times across the whole corpus — nav menus, cookie
    * banners, copyright footers — is deleted from every document; each
    * document's surviving lines are re-joined in their original order.
    *
    * Scale shape (100 TB corpus):
    *  - the per-line occurrence count is ONE hash aggregation with
    *    map-side partial combine (a nav line repeated 10^7 times ships
    *    one partial count per task, not 10^7 rows);
    *  - the boilerplate relation (`count > maxOccurrences`) is small
    *    when the threshold is set for true boilerplate — only lines
    *    frequent enough to repeat corpus-wide — so by default the
    *    removal is a BROADCAST left-anti join against it: the exploded
    *    corpus is never shuffled by line, and the hot-key skew a plain
    *    `count <= max` equi-join would hit (every copy of the same
    *    banner landing on one reducer) never exists. The set's size is
    *    DATA-DEPENDENT, though: an aggressive threshold over a
    *    duplicate-heavy corpus can make it millions of full text lines
    *    — set `broadcastBoilerplate = false` there to fall back to a
    *    shuffled anti-join (AQE handles the remaining skew) instead of
    *    building an oversized broadcast on the driver;
    *  - the rebuild sorts each document's kept lines row-locally
    *    (collect_list → array_sort on (pos, line)) — the only exchange
    *    is the groupBy on the document id.
    *
    * Returns (idCol, clean_text, n_kept, n_dropped) for EVERY input
    * document; a fully-boilerplate document keeps an empty clean_text.
    * Callers wanting normalized matching (case/digit-insensitive)
    * should pre-normalize a shadow column and split on that.
    */
  def removeBoilerplateLines(docs: DataFrame, textCol: String,
                             idCol: String, maxOccurrences: Long,
                             sep: String = "\n",
                             broadcastBoilerplate: Boolean = true): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val boilerplate = lines.groupBy(col("line"))
      .agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") > maxOccurrences)
      .select(col("line"))
    val bpSide =
      if (broadcastBoilerplate) broadcast(boilerplate) else boilerplate
    val kept = lines.join(bpSide, Seq("line"), "left_anti")
    rebuildCleanDocs(docs, kept, textCol, idCol, sep)
  }
}
