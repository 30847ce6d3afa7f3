package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the batch pipeline patterns.
  *
  * The reference declares spark-streaming but never uses it (SURVEY.md
  * §2.10); these are the streaming upgrades of its patterns for a
  * continuously-landing warehouse: watermarked event-time windowed
  * aggregation, stateful per-user session tracking, and maintained-table
  * ingestion through foreachBatch.
  *
  * Scale notes: the windowed aggregation keys state by (window,
  * event_type) and the watermark bounds state size; session state is
  * one small struct per active user, dropped on timeout.
  */
object StreamingOps {

  /** Watermarked sliding-window counts/sums per event type. */
  def windowedEventStats(src: DataFrame, watermark: String = "10 minutes",
                         window_ : String = "5 minutes"): DataFrame =
    src.withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup on the business key ALONE — Spark's
    * dropDuplicatesWithinWatermark: unlike a dropDuplicates keyed on
    * (key, event_time), which only drops exact-time repeats, this drops
    * ANY later duplicate of a key seen within the watermark horizon,
    * and the state store evicts each key once the watermark passes it
    * — the semantics of an at-least-once upstream producer being
    * collapsed to effectively-once.
    */
  def dedupKeysStream(src: DataFrame, keyCols: Seq[String],
                      watermark: String = "30 minutes"): DataFrame =
    src.withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Built-in session-window aggregation — the declarative twin of
    * [[userSessionStream]]: same 30-minute-gap session semantics, but
    * expressed as `groupBy(session_window(...))` so Catalyst manages
    * the session state store (merging windows, watermark eviction)
    * instead of hand-rolled flatMapGroupsWithState code. Emits one row
    * per CLOSED session (watermark past session end + gap).
    *
    * Prefer this form when the per-session output is plain aggregates;
    * the flatMapGroupsWithState form remains for session logic a
    * groupBy can't express (e.g. emitting mid-session milestones).
    */
  def sessionWindowStream(src: DataFrame,
                          gapMinutes: Int = 30): DataFrame =
    src.withWatermark("event_time", s"$gapMinutes minutes")
      .groupBy(col("user_id"),
        session_window(col("event_time"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  case class UserSessionState(nEvents: Long, sumValue: Double,
                              startTsNs: Long, lastTsNs: Long)
  case class UserSessionClosed(user_id: Long, n_events: Long,
                               sum_value: Double, session_start_us: Long,
                               session_end_us: Long)

  /** Stateful per-user SESSIONIZATION via flatMapGroupsWithState — the
    * streaming analog of operators.Sessionize with identical gap
    * semantics: a new session starts when an event arrives more than
    * `gapMinutes` of event time after the previous one.
    *
    * Sessions close two ways, both emitting a UserSessionClosed row:
    *  - in-batch: a later event for the user arrives past the gap;
    *  - on timeout: the event-time watermark passes lastEvent+gap
    *    (EventTimeTimeout + setTimeoutTimestamp), at which point the
    *    state is REMOVED — per-user state is bounded by activity, never
    *    lifetime (round-1 advice: NoTimeout grew state unboundedly and
    *    never split sessions).
    *
    * The still-open trailing session of a user stays in state until the
    * watermark advances past its gap; a finite input's last sessions are
    * therefore intentionally unemitted (exactly the watermark contract).
    */
  def userSessionStream(src: DataFrame,
                        gapMinutes: Int = 30): Dataset[UserSessionClosed] = {
    val spark = src.sparkSession
    import spark.implicits._
    // gap decisions run on full NANOSECOND precision, exactly like the
    // batch sessionizer (Sessionize gaps on the raw ts nanos; a
    // microsecond-truncated diff could flip a boundary-case split)
    val gapNs = gapMinutes * 60L * 1000000000L
    val gapMs = gapMinutes * 60L * 1000L
    // the watermark column must survive into the stateful operator's
    // input, so event_time rides along (unused by the lambda)
    src.withWatermark("event_time", s"$gapMinutes minutes")
      .selectExpr("user_id", "ts", "value", "event_time")
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
         state: GroupState[UserSessionState]) =>
          def emit(s: UserSessionState) =
            UserSessionClosed(userId, s.nEvents, s.sumValue,
              s.startTsNs / 1000, s.lastTsNs / 1000)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(s))
          } else {
            // session splitting depends only on ts gaps; sums/counts are
            // order-independent, so sorting by ts alone is total enough
            val evs = rows.toArray.sortBy(_._2)
            val closed = scala.collection.mutable.ArrayBuffer
              .empty[UserSessionClosed]
            var cur = state.getOption
            evs.foreach { case (_, tsNs, v, _) =>
              cur = cur match {
                case Some(s) if tsNs - s.lastTsNs <= gapNs =>
                  Some(UserSessionState(s.nEvents + 1, s.sumValue + v,
                    s.startTsNs, tsNs))
                case Some(s) =>
                  closed += emit(s)
                  Some(UserSessionState(1L, v, tsNs, tsNs))
                case None =>
                  Some(UserSessionState(1L, v, tsNs, tsNs))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout must stay ahead of the current watermark
              // (late stragglers would otherwise ask for a past timeout)
              state.setTimeoutTimestamp(math.max(s.lastTsNs / 1000000 + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Watermarked STREAM-STREAM join: purchases joined to the same
    * user's clicks in the `windowMinutes` before them — the streaming
    * twin of the batch RangeJoin/as-of attribution.
    *
    * Both sides carry a watermark and the join condition bounds c_time
    * within [p_time - window, p_time), so Spark can expire buffered
    * state: a click older than the watermark minus the window can never
    * match a future purchase and is dropped. Without the time bound the
    * state store would grow with the full history of both streams.
    */
  def streamStreamAttribution(events: DataFrame,
                              windowMinutes: Int = 10,
                              watermark: String = "30 minutes"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", watermark)
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("event_time").as("c_time"))
      .withWatermark("c_time", watermark)
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_time") >= col("p_time") -
            expr(s"INTERVAL $windowMinutes MINUTES") &&
          col("c_time") < col("p_time"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Continuous warehouse ingestion: every micro-batch is SCD-merged
    * into a parquet snapshot table — the streaming upgrade of the
    * reference's Pattern B batch upsert. foreachBatch bridges the stream
    * to the batch EtlOps.scdMerge, so batch and streaming ingestion share
    * ONE merge implementation (identical semantics by construction).
    *
    * The snapshot is localCheckpoint'ed before the overwrite (Spark
    * cannot overwrite a path it is lazily reading; the checkpoint
    * materializes executor-side blocks and truncates the file lineage,
    * no driver collect). At scale the target would be a transactional
    * table format; the merge logic is unchanged. `targetDir` may be a
    * plain path or any Hadoop URI (`file:`, `hdfs:`, ...): the snapshot
    * is looked up on its own filesystem.
    */
  def continuousScdMerge(src: DataFrame, targetDir: String,
                         keys: Seq[String], orderCol: String,
                         tieBreakers: Seq[String]): Unit =
    drain(src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val tgt = new org.apache.hadoop.fs.Path(targetDir)
        val (merged, releaseSnapshot) =
          if (tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(tgt)) {
            // materialized with a release handle: the snapshot blocks are
            // freed after the write instead of leaking once per batch
            val snapshot = graft.ops.Materialize(
              spark.read.parquet(targetDir), graft.ops.MatStrategy.Local)
            (graft.ops.EtlOps.scdMerge(batch.drop("event_time"), snapshot.df,
              keys, orderCol,
              tieBreakers.map(org.apache.spark.sql.functions.col(_).desc)),
              snapshot.release)
          } else {
            (graft.ops.EtlOps.withAudit(
              graft.ops.EtlOps.dedupLatest(batch.drop("event_time"), keys,
                (org.apache.spark.sql.functions.col(orderCol).desc +:
                  tieBreakers.map(org.apache.spark.sql.functions.col(_).desc)))),
              () => ())
          }
        try merged.drop("data_source").write.mode("overwrite").parquet(targetDir)
        finally releaseSnapshot()
        ()
      }, null)

  /** Continuous incremental-aggregate maintenance: each micro-batch is
    * aggregated ALONE and merged with the latest maintained snapshot
    * (ops.IncrementalAgg — associative sum/count partials, O(batch) per
    * refresh, never O(history)), the result committed as a NEW
    * [[graft.sources.Versioned]] snapshot. The atomic pointer commit
    * means readers always see a complete refresh, and every historical
    * refresh stays diffable (Versioned.diff). Unlike the
    * overwrite-in-place pattern ([[continuousScdMerge]]), a versioned
    * commit never reads and overwrites the same files, so no defensive
    * materialization is needed. foreachBatch replays (at-least-once)
    * are made EXACTLY-ONCE by committing the batch id atomically with
    * each version (the Versioned note) and skipping already-committed
    * ids.
    */
  def continuousAggMaintenance(src: DataFrame, table: String,
                               keys: Seq[String],
                               sums: Seq[String]): Unit =
    drain(src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // foreachBatch is at-least-once and sum/count merges are not
        // idempotent, so the commit itself must be: the batch id rides
        // the Versioned note, which lands inside the version dir BEFORE
        // the atomic pointer flip. A replayed batch whose id is already
        // committed is skipped — a crash between data write and flip
        // leaves an orphan dir the pointer never reached, and the
        // replay commits the same merge under the next version number.
        val latest = graft.sources.Versioned.latestVersion(spark, table)
        val applied = latest.flatMap(v =>
          graft.sources.Versioned.note(spark, table, v)).map(_.toLong)
        if (!applied.exists(_ >= batchId)) {
          val merged = latest match {
            case None =>
              graft.ops.IncrementalAgg.snapshot(batch, keys, sums)
            case Some(v) =>
              graft.ops.IncrementalAgg.merge(
                graft.sources.Versioned.read(spark, table, Some(v)),
                batch, keys, sums)
          }
          graft.sources.Versioned.write(merged, table,
            note = Some(batchId.toString))
        }
        ()
      }, null)

  /** Continuous corpus curation: screen each arriving batch of documents
    * against a maintained MinHash signature table
    * ([[graft.operators.Dedup.writeSignatureTable]]), append the
    * survivors to `admittedDir`, and append THEIR signatures back to the
    * table so the next batch screens against them too — the live-table
    * ingest loop of a training-data pipeline. The screen itself is the
    * batch operator (incrementalNearDupAgainstPreSigsM): batch and
    * continuous ingestion share one implementation, so their admit
    * decisions are identical by construction.
    *
    * EXACTLY-ONCE under crash/restart (foreachBatch is at-least-once;
    * CurateRestartSpec drives every window):
    *  - both sinks write DETERMINISTIC batch-named files
    *    ([[graft.sources.MaintainedIndex.idempotentAppend]]), so a
    *    replayed batch rewrites its own files instead of appending a
    *    second copy;
    *  - the screen EXCLUDES the batch's own ids from the corpus side:
    *    a crash after the signature append would otherwise make the
    *    replay reject every batch row against its own signatures and
    *    rewrite an EMPTY admit set (dropped survivors). Ids are unique
    *    across the feed (the ingest contract), so in a clean run the
    *    exclusion matches nothing;
    *  - an underscore-prefixed marker lands in `admittedDir` after both
    *    writes: a replay of a fully-applied batch skips the screen
    *    entirely.
    *
    * QUOTE SCREEN (optional, `winnowTablePath` non-null): the batch is
    * additionally screened by POSITIONAL winnowing containment against
    * a maintained fingerprint table ([[graft.operators.Corpus.writeWinnowTable]])
    * — the deterministic tiny-quote detector the MinHash screen is
    * structurally blind to (band collision is bounded by the pair's
    * JACCARD, so a short verbatim quote inside a large held page never
    * collides). Survivors' fingerprints append beside their signatures,
    * so the quote table is as live as the signature table: batch 1
    * catches quotes of documents admitted in batch 0. Both screens'
    * rejections union; the same replay-safety exclusion of the batch's
    * own ids applies to the fingerprint corpus side.
    *
    * Scale notes: per batch, the corpus side is two column-pruned scans
    * of the signature table (bands + shingle sets) — corpus text is
    * never re-tokenized; the batch side is O(batch). The quote screen
    * adds (id, h)-pruned scans of the fingerprint table (over a small
    * table, one scan of its doc-keyed projection, capped and
    * materialized once per batch) and a batch×corpus-only hash join
    * (corpus-internal pairs never form);
    * its corpus-wide document frequencies come from the MAINTAINED df
    * sidecar ([[graft.operators.Corpus.winnowDfStatePath]]), appended
    * per batch beside the fingerprints — never re-aggregated from the
    * corpus, so per-batch cost scales with the batch, not the corpus.
    * State lives in the maintained tables, not the state store, so
    * there is no watermark and no per-key streaming state to bound.
    * Within-batch duplicates are NOT collapsed (documented screen
    * semantics — run exact dedup upstream if a feed can self-duplicate
    * inside one trigger). `checkpointDir` MUST be durable storage in
    * production: the null default runs on a temporary checkpoint that is
    * deleted on return, so a restart cannot resume from it.
    *
    * CODEGEN: a micro-batch plans without whole-stage codegen when
    * two things hold (`curateInterpreted`), and otherwise keeps the
    * caller's setting. The choice is made per batch on the stream's
    * own session (a clone; the caller's session keeps its setting).
    *  - The session's codegen cache holds fewer than 1000 entries. At
    *    Spark's default of 100 (a static conf a library cannot raise
    *    on its caller's session) a steady two-batch drain compiled
    *    about 280 classes, of only 88 distinct ones, because the cache
    *    evicted them between batches. At 1000 or 2000 entries the
    *    same drain compiles 0-5 classes, and codegen is as fast (a
    *    corpus of up to 10^4 documents) or faster (10^5).
    *  - The signature table is under 16 MiB. The two corpus-side
    *    scans above grow with the table and lose fused loops and
    *    vectorized parquet reads without codegen. Median batch times
    *    on a 4-vCPU host with a 100-entry cache and 80-document
    *    batches, without codegen against with it: 1.06 s against
    *    1.42 s at 10^4 corpus documents (a 3 MB table), 1.56 s
    *    against 1.84 s at 5*10^4 (14 MB), but 2.56 s against 2.22 s
    *    at 10^5 (29 MB).
    * The batch side's heavy per-row work (shingling, MinHash,
    * winnowing, Aho-Corasick) runs in native expressions either way.
    */
  def continuousCurate(src: DataFrame, sigTablePath: String,
                       admittedDir: String, textCol: String, idCol: String,
                       k: Int = 5, threshold: Double = 0.5,
                       checkpointDir: String = null,
                       shufflePartitions: Option[Int] = None,
                       winnowTablePath: String = null,
                       minContainmentBp: Long = 8000L,
                       winnowMaxDf: Long = 50L,
                       blocklist: Seq[String] = Nil,
                       blocklistBlockAt: Long = 1L,
                       blocklistFold: Boolean = true): Unit =
    withShufflePartitions(src.sparkSession, shufflePartitions) {
      continuousCurate0(src, sigTablePath, admittedDir, textCol, idCol,
        k, threshold, checkpointDir, Option(winnowTablePath),
        minContainmentBp, winnowMaxDf, blocklist, blocklistBlockAt,
        blocklistFold)
    }

  /** Run `body` with `spark.sql.shuffle.partitions` overridden — the
    * runToMemory statePartitions discipline (set/execute/restore under
    * the conf lock) shared by the batch-loop streams: a low-throughput
    * micro-batch loop's joins are near-empty at the session's cluster
    * width, and the per-task scheduling floor (32 near-empty tasks per
    * stage, several stages per batch) dominates its wall. At cluster
    * scale callers pass None and inherit the session's parallelism.
    *
    * A stateful query creates one state store per shuffle partition
    * per operator, and every micro-batch pays per-store maintenance
    * (delta + snapshot files under the checkpoint) whether or not
    * the partition saw data — for a small-throughput stream, 32
    * near-empty stores per batch is almost pure overhead. The
    * partition count is locked into the checkpoint from
    * spark.sql.shuffle.partitions at the FIRST batch, so it must be
    * set for the whole run; the window is serialized against this
    * API's other callers and the session value restored after
    * (same set/execute/restore discipline as
    * CatalogSinks.insertOverwritePartitions).
    */
  private def withShufflePartitions[A](spark: SparkSession,
                                       n: Option[Int])(body: => A): A =
    n match {
      case None => body
      case Some(p) => confLock.synchronized {
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, p.toString)
        try body finally spark.conf.set(key, prev)
      }
    }

  private val wholeStageKey = "spark.sql.codegen.wholeStage"

  /** Whether a curate micro-batch plans without whole-stage codegen
    * (CODEGEN in [[continuousCurate]]): only while the session's codegen
    * cache is too small to keep the loop's classes between batches and
    * the signature table is small enough that compiling, not the
    * corpus-side scans, dominates the batch. */
  private def curateInterpreted(spark: SparkSession,
                                sigTablePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(sigTablePath)
    curateInterpreted(spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES),
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength)
  }

  private[graft] def curateInterpreted(codegenCacheEntries: Int,
                                       sigTableBytes: Long): Boolean =
    codegenCacheEntries < 1000 && sigTableBytes < (16L << 20)

  private def continuousCurate0(src: DataFrame, sigTablePath: String,
                                admittedDir: String, textCol: String,
                                idCol: String,
                                k: Int, threshold: Double,
                                checkpointDir: String,
                                winnowTablePath: Option[String],
                                minContainmentBp: Long,
                                winnowMaxDf: Long,
                                blocklist: Seq[String],
                                blocklistBlockAt: Long,
                                blocklistFold: Boolean): Unit = {
    // same shingle-size refusal as appendToSignatureTable, checked ONCE
    // at query start (the table's k cannot change mid-stream — appends
    // reuse it) so a mismatched table is refused before any write and
    // each micro-batch skips the metadata read round-trip
    graft.operators.Dedup.requireShingleK(src.sparkSession, sigTablePath, k)
    // fingerprint geometry likewise read once at query start; the
    // table's own marker is the single source of truth (callers don't
    // pass k/window — a curate loop must match whatever the table holds)
    val winnowKw = winnowTablePath.map(p =>
      graft.operators.Corpus.winnowTableParams(src.sparkSession, p))
    // the caller's codegen setting, which a batch keeps unless
    // curateInterpreted says otherwise
    val wholeStage = src.sparkSession.conf.get(wholeStageKey)
    drain(src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the stream's own session, not the caller's (CODEGEN above)
        spark.conf.set(wholeStageKey,
          if (curateInterpreted(spark, sigTablePath)) "false" else wholeStage)
        val admPath = new org.apache.hadoop.fs.Path(admittedDir)
        val fs = admPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(admittedDir,
          s"_graft_applied_b$batchId")
        if (!fs.exists(marker)) {
          // the batch is tokenized ONCE: the signature relation feeds
          // both the screen and (filtered to survivors) the signature
          // append — the original shape re-shingled the survivors for
          // the append, a second full pass over the batch text
          val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          val sigB = graft.operators.Dedup
            .signatureRelation(batch, textCol, idCol, k)
            .persist(lvl)
          // the quote screen's batch fingerprints, computed ONCE and
          // reused (screen + survivor append) — same tokenize-once
          // discipline as the signature relation
          val fpB = winnowKw.map { case (wk, ww) =>
            graft.operators.Corpus
              .winnowingFingerprints(batch, textCol, idCol, wk, ww)
              .persist(lvl)
          }
          // Local (executor-block) materialization, not the default
          // parquet spill: the screen results never escape the batch
          // (released in the finally) and a retry rebuilds them, so the
          // DFS round-trip would buy nothing — this is the documented
          // bounded-intra-job-state case for MatStrategy.Local
          var screened: graft.ops.Materialized = null
          var dupIdsM: graft.ops.Materialized = null
          var quoteM: graft.ops.Materialized = null
          var survivorFpsP: DataFrame = null
          try {
            val own = batch.select(col(idCol).as("corpus_id"))
            // The LSH screen and the quote screen are INDEPENDENT —
            // disjoint maintained tables, both feeding the one dupIds
            // union — so their eager materializations are submitted
            // from two driver threads and their jobs OVERLAP (guide
            // §2.6: each screen's stage tails leave most of the
            // machine idle; the other screen's stages back-fill it).
            // Materialize takes no lock, and each handle releases only
            // the blocks its own call created, so neither screen waits
            // on the other or frees the other's result. Both handles
            // are captured before either failure re-throws, so the
            // finally releases whatever landed.
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            import scala.concurrent.duration.Duration
            val fScr = Future(graft.operators.Dedup
              .incrementalNearDupAgainstPreSigsM(sigB, sigTablePath,
                threshold))
            // quote screen: batch fingerprints vs the maintained table,
            // under the replay contract — the batch's own ids excluded
            // from the corpus side and df deltas read below its batch
            // id (a crash after the fingerprint append must not make
            // the replay quote-reject the batch against its own
            // fingerprints)
            val fQuote = (winnowTablePath, fpB) match {
              case (Some(wp), Some(fp)) =>
                Some(Future(graft.operators.Corpus
                  .winnowingContainmentScreen(fp, wp,
                    replay =
                      Some((own.select(col("corpus_id").as("id")), batchId)),
                    maxDf = winnowMaxDf,
                    minContainmentBp = minContainmentBp,
                    mat = graft.ops.MatStrategy.Local)))
              case _ => None
            }
            val scrT = scala.util.Try(Await.result(fScr, Duration.Inf))
            val quoteT = fQuote.map(f =>
              scala.util.Try(Await.result(f, Duration.Inf)))
            screened = scrT.toOption.orNull
            quoteM = quoteT.flatMap(_.toOption).orNull
            scrT.get // re-throw AFTER both handles are tracked above
            quoteT.foreach(_.get)
            val lshDup = screened.df
              .join(broadcast(own), Seq("corpus_id"), "left_anti")
              .select(col("batch_id").as(idCol))
            val quoteDup = fQuote.map(_ =>
              quoteM.df.select(col("batch_id").as(idCol)))
            // the POLICY screen (optional): one Aho-Corasick pass over
            // the batch text — a zero-exchange row-local projection
            // that pipelines inside the batch scan; total hits at or
            // above the threshold reject the document. Rejected docs'
            // signatures/fingerprints never append (a policy-rejected
            // page must not become dedup evidence), exactly like the
            // dedup screens' rejects. Folded matching by default: a
            // production blocklist must hit case/NFC variants.
            val policyDup =
              if (blocklist.isEmpty) None
              else Some(graft.operators.Blocklist
                .policyReport(batch, textCol, idCol, blocklist,
                  reviewAt = blocklistBlockAt, blockAt = blocklistBlockAt,
                  fold = blocklistFold)
                .where(col("verdict") === "block")
                .select(col(idCol)))
            // MATERIALIZED once (id-only, KB-scale): dupIds feeds three
            // anti-joins (admits, signatures, fingerprints) — left lazy,
            // each would re-run the whole screen DAG per sink. It is a
            // subset of the batch's ids (already broadcast as `own`), so
            // each anti-join broadcasts it: the checkpoint's size
            // estimate is unknown, and unhinted they plan as sort-merge
            // joins with two extra shuffle stages apiece
            dupIdsM = graft.ops.Materialize(
              (Seq(lshDup) ++ quoteDup ++ policyDup)
                .reduce(_ unionByName _).distinct(),
              graft.ops.MatStrategy.Local)
            val dupIds = broadcast(dupIdsM.df)
            // survivors / survivorSigs are each one cheap anti-join off
            // materialized inputs (screen spilled, signatures persisted)
            val survivors = batch.join(dupIds, Seq(idCol), "left_anti")
            val survivorSigs = sigB.join(
              dupIds.select(col(idCol).as("doc_id")), Seq("doc_id"),
              "left_anti")
            // the sinks are independent (different dirs, disjoint
            // inputs): submit their jobs concurrently — the body's wall
            // is the slowest write, not the sum (Spark schedules jobs
            // from concurrent threads fairly)
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            val fAdm = Future(
              graft.sources.MaintainedIndex.idempotentAppend(
                survivors, admittedDir, s"b${batchId}_"))
            // maintained-table appends are CLUSTERED (their own
            // generation of narrow-envelope files under the same
            // batch-named idempotence), so the NEXT batch's screens
            // prune against their footers too
            val fSig = Future(
              graft.sources.MaintainedIndex.clusteredIdempotentAppend(
                survivorSigs, sigTablePath, s"b${batchId}_sig_",
                "doc_id"))
            // the three fingerprint-family artifacts (table, doc-keyed
            // projection, df delta) are independent derivations of the
            // SAME persisted survivor fingerprints writing to disjoint
            // directories — submitted concurrently like the other
            // sinks, so the batch's write wall is the slowest artifact,
            // not the sum. Crash anywhere between them converges on
            // replay: batch-named idempotence rewrites each, the screen
            // excludes own ids corpus-side and own deltas by batch id,
            // and a projection/table gap only ever hides the batch's
            // OWN docs (never candidates — those come from the table).
            val fFp: Seq[Future[Unit]] = (winnowTablePath, fpB) match {
              case (Some(wp), Some(fp)) =>
                // persisted ONCE: the three fingerprint-family sinks
                // each evaluate their input twice (range sample +
                // shuffle map), so a lazy survivorFps would run this
                // anti-join six times per batch; cached blocks make
                // those six passes cache reads (released in the
                // finally below with the other batch intermediates)
                val survivorFps = fp.join(
                  dupIds.select(col(idCol).as("id")), Seq("id"),
                  "left_anti").persist(lvl)
                survivorFpsP = survivorFps
                Seq(
                  Future {
                    graft.sources.MaintainedIndex.clusteredIdempotentAppend(
                      survivorFps, wp, s"b${batchId}_fp_", "h")
                  },
                  Future {
                    graft.sources.MaintainedIndex.clusteredIdempotentAppend(
                      survivorFps.select(col("id"), col("h")).distinct(),
                      graft.operators.Corpus.winnowByIdPath(wp),
                      s"b${batchId}_byid_", "id")
                  },
                  Future {
                    graft.sources.MaintainedIndex.clusteredIdempotentAppend(
                      graft.operators.Corpus
                        .winnowDfDelta(survivorFps, batchId),
                      graft.operators.Corpus.winnowDfStatePath(wp),
                      s"b${batchId}_", "h")
                  })
              case _ => Nil
            }
            // EVERY sink is awaited before the first failure re-throws
            // (the screens' Try discipline above): rethrowing on the
            // first failed await would leave the other appends writing
            // into the maintained tables while the finally unpersists
            // their inputs and a restart races them on the same
            // batch-named prefix
            (Seq(fAdm, fSig) ++ fFp)
              .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
              .foreach(_.get)
            fs.create(marker, true).close()
          } finally {
            if (screened != null) screened.release()
            sigB.unpersist(false)
            if (dupIdsM != null) dupIdsM.release()
            if (quoteM != null) quoteM.release()
            if (survivorFpsP != null) survivorFpsP.unpersist(false)
            fpB.foreach(_.unpersist(false)); ()
          }
        }
        ()
      }, checkpointDir)
  }

  /** Online ANN serving: each arriving micro-batch of query vectors is
    * searched against a STORED SQ8∘IVF index
    * ([[graft.operators.Similarity.writeIvfSqIndex]]) and the top-k
    * appended — the serving half of the index's ingest-then-serve
    * split. Per batch the work is O(probe): the stream path never
    * trains, never encodes, and reads only the probed code lists; the
    * index itself stays a batch-maintained artifact
    * (appendToIvfSqIndex), so serving and upkeep scale independently.
    * Batch and streaming search share one implementation
    * (ivfSqTopKFromIndex), so their results are identical by
    * construction.
    *
    * EXACTLY-ONCE at the sink: foreachBatch is at-least-once, so the
    * top-k rows land via
    * [[graft.sources.MaintainedIndex.idempotentAppend]] under
    * batch-named files — a replayed batch rewrites its own files
    * instead of appending a duplicate copy (same commit protocol as
    * [[continuousCurate]]).
    * `checkpointDir` MUST be durable storage in production: the null
    * default runs on a temporary checkpoint that is deleted on return,
    * so a restart cannot resume from it.
    */
  def continuousAnnServe(src: DataFrame, indexPath: String,
                         outDir: String, idCol: String, vecCol: String,
                         k: Int, nprobe: Int = 4,
                         checkpointDir: String = null): Unit =
    drain(src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.MaintainedIndex.idempotentAppend(
          graft.operators.Similarity
            .ivfSqTopKFromIndex(batch, idCol, vecCol, indexPath, k, nprobe),
          outDir, s"b${batchId}_")
      }, checkpointDir)

  /** Online DSIR scoring: each arriving micro-batch of documents is
    * scored against a STORED `(bucket, lr_micro)` model
    * ([[graft.operators.Selection.dsirModel]], persisted at train
    * time) and the `(id, w_micro)` weights appended — the serving half
    * of distribution-matched selection's train-then-serve split. Per
    * batch the work is one row-local gram pass plus a broadcast join
    * of the ≤ buckets-row model: no re-training, no corpus read, no
    * shuffle wider than the batch. Batch and streaming scoring share
    * one implementation (scoreWithModel), so streamed weights are
    * identical to the batch path by construction.
    *
    * EXACTLY-ONCE at the sink via
    * [[graft.sources.MaintainedIndex.idempotentAppend]] under
    * batch-named files (the [[continuousAnnServe]] commit protocol).
    * `checkpointDir` MUST be durable storage in production: the null
    * default runs on a temporary checkpoint that is deleted on return,
    * so a restart cannot resume from it. `n`/`buckets` must match the
    * stored model's training parameters.
    */
  def continuousSelectServe(src: DataFrame, modelPath: String,
                            outDir: String, textCol: String,
                            idCol: String, n: Int = 2,
                            buckets: Int = 256,
                            checkpointDir: String = null): Unit = {
    val model = src.sparkSession.read.parquet(modelPath)
    drain(src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.MaintainedIndex.idempotentAppend(
          graft.operators.Selection
            .scoreWithModel(batch, textCol, idCol, model, n, buckets),
          outDir, s"b${batchId}_")
      }, checkpointDir)
  }

  /** Run a streaming DataFrame to an in-memory sink until all
    * currently-available input is processed, and return the sink's
    * rows as a local relation (local smoke harness). The sink's temp
    * view is dropped before returning, so no streamed row outlives the
    * caller's frame. */
  def runToMemory(df: DataFrame,
                  outputMode: OutputMode = OutputMode.Append(),
                  statePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val name = "graft_mem_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      withShufflePartitions(spark, statePartitions) {
        drain(df.writeStream.outputMode(outputMode)
          .format("memory").queryName(name), null)
      }
      val sink = spark.table(name)
      spark.createDataFrame(
        java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally spark.catalog.dropTempView(name)
  }

  /** The one micro-batch drain every driver above shares: start
    * `writer`, process all currently-available input, and stop the
    * query, also when it fails. The checkpoint is `checkpointDir` when
    * the caller passes one (never touched here: a restart resumes from
    * it), else a fresh [[graft.Scratch]] dir deleted once the query has
    * stopped, whether it succeeded or not.
    */
  private def drain(writer: DataStreamWriter[_],
                    checkpointDir: String): Unit = {
    val temp = if (checkpointDir == null) Some(graft.Scratch.dir("ckpt"))
      else None
    try {
      val q = writer.option("checkpointLocation",
        temp.fold(checkpointDir)(_.toString)).start()
      try q.processAllAvailable()
      finally q.stop()
    } finally temp.foreach(graft.Scratch.delete)
  }

  private val confLock = new Object
}
