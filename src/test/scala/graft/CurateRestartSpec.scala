package graft

import graft.streaming.StreamingOps

/** Crash/restart behavior of the curate-stream loop
  * (StreamingOps.continuousCurate): foreachBatch is at-least-once, so a
  * batch can REPLAY after a crash anywhere between its first sink write
  * and the checkpoint commit. The loop's commit protocol (deterministic
  * batch-named files + own-batch screen exclusion + applied marker)
  * must make every replay converge to the clean run's exact state — no
  * double-admit, no dropped survivor, no duplicate signatures.
  *
  * Replay is driven through the REAL mechanism: delete the checkpoint's
  * `commits/&lt;latest&gt;` entry and restart — Structured Streaming
  * re-executes that batch with the same files and batch id.
  */
class CurateRestartSpec extends SparkSpec {
  import spark.implicits._

  private val corpusText = "alpha beta gamma delta epsilon zeta eta " +
    "theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val novelText = "one two three four five six seven eight nine " +
    "ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
  private val freshText = "red orange yellow green blue indigo violet " +
    "black white brown crimson scarlet amber teal navy maroon olive silver"

  /** Fresh fixture: sig table over a 1-doc corpus, two source files
    * (batch 0 admits 100; batch 1 rejects 200 as an echo of 100 and
    * admits 201), durable checkpoint. Returns (root, run) where run()
    * starts/restarts the loop over the same checkpoint. */
  private def fixture(): (java.io.File, () => Unit) = {
    val root = Scratch.dir("spec-curate_restart")
    def path(n: String) = new java.io.File(root, n).toString
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureTable(
      corpus, "text", "doc_id", path("sigs"), k = 5)
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    val batches = Seq(
      Seq((100L, novelText)),
      Seq((200L, novelText.substring(10)), (201L, freshText)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = path(s"tmp$i")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000000000L + i * 60000L); ()
    }
    val run = () => {
      val src = spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
      StreamingOps.continuousCurate(src, path("sigs"), path("admitted"),
        "text", "doc_id", checkpointDir = path("ckpt"))
      // the terminated query deregisters its checkpoint asynchronously;
      // a restart racing that window trips the concurrent-use guard
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 200) {
        Thread.sleep(50); waited += 1
      }
    }
    (root, run)
  }

  private def admitted(root: java.io.File): Seq[Long] =
    spark.read.parquet(new java.io.File(root, "admitted").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  private def sigIds(root: java.io.File): Seq[Long] =
    spark.read.parquet(new java.io.File(root, "sigs").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  /** Force a replay of the last batch: drop its checkpoint commit.
    * Deletion goes through the Hadoop FS API — the checkpoint was
    * written by ChecksumFileSystem, and a bare java.io delete would
    * leave the .crc shadow behind, failing the replay's atomic
    * commit-log rename with FileAlreadyExists. */
  private def uncommitLastBatch(root: java.io.File): Unit = {
    val commits = new java.io.File(root, "ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val p = new org.apache.hadoop.fs.Path(commits.last.getAbsolutePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(p, false)); ()
  }

  private def hdel(f: java.io.File): Unit = {
    val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(p, false)); ()
  }

  private def rm(root: java.io.File, rel: String): Unit = {
    val f = new java.io.File(root, rel)
    if (f.exists()) hdel(f)
  }

  private def delPrefixed(root: java.io.File, dir: String,
                          prefix: String): Unit = {
    new java.io.File(root, dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith(prefix))
      .foreach(hdel); ()
  }

  test("replay of a fully-applied batch changes nothing (marker skip)") {
    val (root, run) = fixture()
    run()
    assert(admitted(root) == Seq(100L, 201L))
    val sigsBefore = sigIds(root)
    uncommitLastBatch(root)
    run() // batch 1 replays; the applied marker short-circuits it
    assert(admitted(root) == Seq(100L, 201L), "double-admit on replay")
    assert(sigIds(root) == sigsBefore, "duplicate signatures on replay")
  }

  test("replay after the admit write but before the signature append " +
    "converges to the clean state") {
    val (root, run) = fixture()
    run()
    // crash window: admitted b1 files landed, signature append and
    // marker did not — roll those back and drop the commit
    uncommitLastBatch(root)
    rm(root, "admitted/_graft_applied_b1")
    delPrefixed(root, "sigs", "b1_sig_")
    run()
    assert(admitted(root) == Seq(100L, 201L),
      "replayed batch must rewrite its own files, not append a second copy")
    assert(sigIds(root) == Seq(1L, 100L, 201L),
      "survivor signatures missing or duplicated after replay")
  }

  test("replay after BOTH appends but before the marker does not " +
    "reject the batch against its own signatures") {
    val (root, run) = fixture()
    run()
    // crash window: everything applied except the marker — the replayed
    // screen sees 201's own signatures in the table; without own-batch
    // exclusion it would rewrite an EMPTY admit set for batch 1
    uncommitLastBatch(root)
    rm(root, "admitted/_graft_applied_b1")
    run()
    assert(admitted(root) == Seq(100L, 201L),
      "a survivor was dropped by screening the batch against itself")
    assert(sigIds(root) == Seq(1L, 100L, 201L))
  }

  // ---------------------------------- with the winnowing quote screen

  /** Quote-screen fixture: sig AND winnow tables over a 1-doc corpus.
    * Batch 0 admits 100 (novel). Batch 1 holds 200 — a 40-char verbatim
    * QUOTE of 100 (J ≈ 0.28 vs the LSH 0.5 bar: only the live
    * fingerprint table can reject it) — and 201 (fresh). */
  private def quoteFixture(): (java.io.File, () => Unit) = {
    val root = Scratch.dir("spec-curateq_restart")
    def path(n: String) = new java.io.File(root, n).toString
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureTable(
      corpus, "text", "doc_id", path("sigs"), k = 5)
    graft.operators.Corpus.writeWinnowTable(
      corpus, "text", "doc_id", path("fps"), k = 5, window = 4)
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    val batches = Seq(
      Seq((100L, novelText)),
      Seq((200L, novelText.substring(20, 60)), (201L, freshText)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = path(s"tmpq$i")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000000000L + i * 60000L); ()
    }
    val run = () => {
      val src = spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
      StreamingOps.continuousCurate(src, path("sigs"), path("admitted"),
        "text", "doc_id", checkpointDir = path("ckpt"),
        winnowTablePath = path("fps"), minContainmentBp = 8000L)
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 200) {
        Thread.sleep(50); waited += 1
      }
    }
    (root, run)
  }

  private def fpIds(root: java.io.File): Seq[Long] =
    spark.read.parquet(new java.io.File(root, "fps").toString)
      .select("id").distinct().collect().map(_.getLong(0)).toSeq.sorted

  /** Invariant of the maintained df sidecar: after ANY converged run —
    * clean or replayed — its per-hash fold must equal a recount over
    * the fingerprint table, or future screens drift. */
  private def assertDfStateConsistent(root: java.io.File): Unit = {
    import org.apache.spark.sql.functions._
    val table = new java.io.File(root, "fps").toString
    val folded = spark.read
      .parquet(graft.operators.Corpus.winnowDfStatePath(table))
      .groupBy(col("h")).agg(sum(col("d")).as("df"))
    val recount = spark.read.parquet(table)
      .select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    assert(folded.count() == recount.count() &&
      folded.join(recount, Seq("h", "df")).count() == recount.count(),
      "df sidecar diverged from the fingerprint table after replay")
  }

  test("quote screen rejects a tiny quote of a doc admitted one batch " +
    "earlier, and survivors' fingerprints append") {
    val (root, run) = quoteFixture()
    run()
    // 200 is a verbatim quote of 100 — invisible to LSH (J ≈ 0.28),
    // rejected ONLY because batch 0 appended 100's fingerprints
    assert(admitted(root) == Seq(100L, 201L),
      "the quote was admitted: the fingerprint table is not live")
    assert(sigIds(root) == Seq(1L, 100L, 201L))
    assert(fpIds(root) == Seq(1L, 100L, 201L),
      "survivor fingerprints missing (or the rejected quote's leaked in)")
    assertDfStateConsistent(root)
  }

  test("quote screen: replay after ALL appends but before the marker " +
    "does not quote-reject the batch against its own fingerprints") {
    val (root, run) = quoteFixture()
    run()
    // crash window: admits, sigs, fingerprints AND the df sidecar delta
    // landed; marker did not. The replayed quote screen sees 201's own
    // fingerprints in the table and its own df delta in the sidecar — a
    // self-pair reads containment 10^4, so without own-batch exclusion
    // (corpus anti-join + batch_id < ownId delta filter) the replay
    // would rewrite an EMPTY admit set or double-count dfs
    uncommitLastBatch(root)
    rm(root, "admitted/_graft_applied_b1")
    run()
    assert(admitted(root) == Seq(100L, 201L),
      "a survivor was quote-rejected against its own fingerprints")
    assert(sigIds(root) == Seq(1L, 100L, 201L))
    assert(fpIds(root) == Seq(1L, 100L, 201L))
    assertDfStateConsistent(root)
  }

  test("quote screen: replay after the admit write but before the " +
    "fingerprint append converges to the clean state") {
    val (root, run) = quoteFixture()
    run()
    uncommitLastBatch(root)
    rm(root, "admitted/_graft_applied_b1")
    delPrefixed(root, "sigs", "b1_sig_")
    delPrefixed(root, "fps", "b1_fp_")
    // the df sidecar delta is a separate write — roll it back too (the
    // widest window: admits landed, every maintained-state append lost)
    delPrefixed(root, "fps/_graft_winnow_df", "b1_")
    run()
    assert(admitted(root) == Seq(100L, 201L))
    assert(sigIds(root) == Seq(1L, 100L, 201L),
      "survivor signatures missing or duplicated after replay")
    assert(fpIds(root) == Seq(1L, 100L, 201L),
      "survivor fingerprints missing or duplicated after replay")
    assertDfStateConsistent(root)
  }

  test("quote screen: replay after the fingerprint append but before " +
    "the df sidecar delta keeps screen and state consistent") {
    val (root, run) = quoteFixture()
    run()
    // crash window BETWEEN the two maintained-state writes: batch 1's
    // fingerprints landed but its df delta did not. The replayed screen
    // must treat the batch as unapplied on BOTH sides (own-id corpus
    // exclusion covers the fp rows; the delta simply isn't there) and
    // the replay must land the delta exactly once.
    uncommitLastBatch(root)
    rm(root, "admitted/_graft_applied_b1")
    delPrefixed(root, "fps/_graft_winnow_df", "b1_")
    run()
    assert(admitted(root) == Seq(100L, 201L))
    assert(fpIds(root) == Seq(1L, 100L, 201L))
    assertDfStateConsistent(root)
  }

  test("a failed admit write fails the batch only after every other sink " +
    "has finished: no job left running, no staging dir, no later write") {
    val (root, run) = quoteFixture()
    // the admit sink cannot stage under a regular file, so it fails at
    // once while the signature and fingerprint appends are under way
    assert(new java.io.File(root, "admitted").createNewFile())
    intercept[Exception](run())
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sink job was still running when the batch failed")
    val maintained = Seq("sigs", "fps", "fps/_graft_winnow_byid",
      "fps/_graft_winnow_df").map(new java.io.File(root, _))
    def listing(d: java.io.File): Set[String] =
      Option(d.list()).getOrElse(Array.empty[String]).toSet
    maintained.foreach { d =>
      assert(!listing(d).exists(_.startsWith("_stage_")),
        s"an orphaned append is still staging under $d")
    }
    val before = maintained.map(listing)
    Thread.sleep(2000)
    assert(maintained.map(listing) == before,
      "a maintained table changed after the batch had failed")
  }
}
