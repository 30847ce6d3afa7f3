package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps

class StreamingSpec extends SparkSpec {

  private lazy val eventsSchema =
    Tables.load(spark, sf0001, "events").schema

  // streaming sources need a directory, not a single parquet file.
  // Written THROUGH Tables.load (not a raw file copy): the testdata
  // stores ts as timestamp[us], and streaming it under an explicit
  // BIGINT schema would silently read raw MICROS where the library
  // contract is epoch-NANOS — every event-time gap/window would be
  // 1000x compressed. Materializing the loaded frame bakes the
  // contract into the fixture's bytes.
  private lazy val eventsDir: String = {
    val dir = Scratch.dir("spec-stream")
    Tables.load(spark, sf0001, "events")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  /** Streaming source over a parquet directory; the epoch-nanos `ts`
    * becomes the `event_time` timestamp the watermarks key on. */
  private def eventStream(dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  test("watermarked windowed aggregation produces event-time windows") {
    val src = eventStream(eventsDir, eventsSchema)
    val out = StreamingOps.runToMemory(
      StreamingOps.windowedEventStats(src), OutputMode.Append())
    // append mode emits only watermark-closed windows; the finite input
    // closes all but the trailing watermark interval
    assert(out.count() > 0)
    assert(out.columns.toSet ==
      Set("window", "event_type", "n", "sum_value"))
    // the memory sink's view is gone: the rows live only in `out`
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_mem_")))
  }

  test("stream-stream attribution join equals the batch theta join") {
    val src = eventStream(eventsDir, eventsSchema)
    val out = StreamingOps.runToMemory(
        StreamingOps.streamStreamAttribution(src))
      .collect().map(_.toSeq).toSet
    val ev = Tables.load(spark, sf0001, "events")
    val W = 600L * 1000000000L
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        expr("ts div 1000").as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("event_id").as("click_id"),
        expr("ts div 1000").as("c_us"))
    // event_time is microsecond-truncated, so the batch baseline bounds
    // at the same precision
    val batch = p.join(c,
        col("user_id") === col("c_uid") &&
          col("c_us") >= col("p_us") - W / 1000 && col("c_us") < col("p_us"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
      .collect().map(_.toSeq).toSet
    assert(out == batch)
    assert(out.nonEmpty)
  }

  test("continuous SCD merge converges to the batch merge result") {
    // two micro-batches split by event_id parity, so one user's rows
    // span both and the second batch merges against the first's snapshot
    val root = Scratch.dir("spec-scd_target").toString
    val ev = Tables.load(spark, sf0001, "events")
    Seq(0, 1).foreach(h => ev.where(col("event_id") % 2 === h)
      .coalesce(1).write.parquet(s"$root/src/b$h"))
    // batch reference: newest event per user over the same input
    val batch = graft.ops.EtlOps.dedupLatest(ev, Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a plain path and a file: URI: the snapshot must be found on its
    // own filesystem, or each batch overwrites it with that batch alone
    Seq(s"$root/snap", new java.io.File(s"$root/snap_uri").toURI.toString)
      .foreach { target =>
        val src = spark.readStream.schema(eventsSchema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/src/*")
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        StreamingOps.continuousScdMerge(src, target,
          Seq("user_id"), "ts", Seq("event_id"))
        val streamed = spark.read.parquet(target)
          .select("user_id", "event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamed == batch, s"target $target")
      }
  }

  test("a drain deletes the checkpoint it made and keeps the one it " +
    "was given") {
    // the spec's own dirs exist before the baseline
    val events = eventsDir
    val snap = Scratch.dir("spec-scd_scratch").toString + "/snap"
    val before = Scratch.list()
    assert(StreamingOps.runToMemory(StreamingOps.dedupKeysStream(
      eventStream(events, eventsSchema), Seq("user_id"))).count() > 0)
    StreamingOps.continuousScdMerge(eventStream(events, eventsSchema),
      snap, Seq("user_id"), "ts", Seq("event_id"))
    assert(Scratch.list() == before)
    // a curate lane's run root goes with the call, and so do the schema
    // and envelope cache entries of its tables; the fixture dirs it
    // caches (curate-src-<n>, sigs-curate-base-<n>) stay on purpose
    val runDir = ".*/curate-\\d+(/.*)?"
    Seq(1, 2).foreach { _ =>
      assert(SparkEntry.queries("x_stream_curate")(spark, sf0001).count() > 0)
      assert(!Scratch.list().exists(_.matches("curate-\\d+")),
        Scratch.list().mkString(", "))
      val cached = Tables.schemaCache.keySet.asScala ++
        graft.sources.MaintainedIndex.envelopeCache.keySet.asScala.map(_._1)
      assert(!cached.exists(_.matches(runDir)), cached.mkString(", "))
    }
    val root = Scratch.dir("spec-ann_ckpt_kept").toString
    val emb = Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 40)
    graft.operators.Similarity.writeIvfSqIndex(emb, "vec_id", "embedding",
      s"$root/idx", nlist = 4, iters = 1)
    emb.filter(col("vec_id") < 10).coalesce(1).write.parquet(s"$root/feed")
    StreamingOps.continuousAnnServe(
      spark.readStream.schema(emb.schema).parquet(s"$root/feed"),
      s"$root/idx", s"$root/out", "vec_id", "embedding", k = 3,
      checkpointDir = s"$root/ckpt")
    assert(spark.read.parquet(s"$root/out").count() > 0)
    Seq("offsets", "commits").foreach { d =>
      assert(Option(new java.io.File(s"$root/ckpt/$d").list())
        .exists(_.nonEmpty), s"the given checkpoint lost $d/")
    }
  }

  test("continuous SCD merge is idempotent against an existing snapshot") {
    // a single-file source is one micro-batch, so one run only exercises
    // the bootstrap branch; a second run with a fresh checkpoint hits the
    // scdMerge-against-existing-target branch and must change nothing
    val target = Scratch.dir("spec-scd_idem").toString + "/snap"
    def run(): Unit = StreamingOps.continuousScdMerge(
      eventStream(eventsDir, eventsSchema),
      target, Seq("user_id"), "ts", Seq("event_id"))
    run()
    val first = spark.read.parquet(target)
      .select("user_id", "event_id").collect().map(_.toSeq).toSet
    run()
    val second = spark.read.parquet(target)
      .select("user_id", "event_id").collect().map(_.toSeq).toSet
    assert(first == second)
  }

  test("dropDuplicatesWithinWatermark collapses each key to one row") {
    val src = eventStream(eventsDir, eventsSchema)
    val out = StreamingOps.runToMemory(
        StreamingOps.dedupKeysStream(src, Seq("user_id"))).select("user_id")
      .collect().map(_.getLong(0))
    val users = Tables.load(spark, sf0001, "events")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    // one micro-batch => watermark still at epoch => no mid-stream
    // eviction, so output is exactly one row per distinct key
    assert(out.length == out.distinct.length, "a key was emitted twice")
    assert(out.toSet == users)
  }

  test("session_window aggregation matches the stateful sessionizer on " +
    "closed sessions") {
    val src = eventStream(eventsDir, eventsSchema)
    val built = StreamingOps.runToMemory(
        StreamingOps.sessionWindowStream(src), OutputMode.Append())
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    val custom = StreamingOps.runToMemory(
        StreamingOps.userSessionStream(src).toDF(), OutputMode.Append())
      .select(col("user_id"), col("session_start_us"), col("n_events"))
      .collect().map(_.toSeq).toSet
    // both emit exactly the closed sessions; trailing-session timeout
    // behavior may differ by one final batch, so compare the common core
    assert(built.nonEmpty)
    val overlap = built.intersect(custom)
    assert(overlap.size >= (built.size min custom.size) * 9 / 10,
      s"session sets diverge: built=${built.size} custom=${custom.size} " +
        s"overlap=${overlap.size}")
  }

  test("MULTI-BATCH sf0.01 session stream: watermark advances across " +
    "batches, state evicts, result still brackets the batch sessionizer") {
    val sf001 = "/root/testdata/sf0.01"
    val ev = Tables.load(spark, sf001, "events")
    // 5 time-ordered chunks fed one per micro-batch, so the event-time
    // watermark genuinely advances mid-stream and EventTimeTimeout
    // evictions fire between batches — the behavior a single-batch test
    // cannot exercise
    val chunks = 5
    val stage = Scratch.dir("spec-mb_stage")
    val inDir = Scratch.dir("spec-mb_in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val n = ev.count()
    val per = math.ceil(n.toDouble / chunks).toLong
    val chunked = ev
      .withColumn("__chunk", ((row_number().over(w) - 1) / per).cast("int"))
    (0 until chunks).foreach { i =>
      chunked.where(col("__chunk") === i).drop("__chunk")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$stage/c$i")
    }
    val src = eventStream(inDir.toString, eventsSchema)
    val q = StreamingOps.userSessionStream(src).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Scratch.dir("spec-mb_ckpt").toString)
      .format("memory").queryName("mb_sess_out").start()
    try {
      (0 until chunks).foreach { i =>
        val part = new java.io.File(s"$stage/c$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          inDir.toPath.resolve(s"chunk_$i.parquet"))
        q.processAllAvailable() // one controlled micro-batch per chunk
      }
    } finally q.stop()
    val out = spark.table("mb_sess_out")
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Sessionize.sessionStats(ev,
      "user_id", "ts", "event_id", "value")
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val marked = batch
      .withColumn("last_idx", max(col("sess_idx")).over(wu))
      .select(col("user_id"), col("n_events"), col("session_start_us"),
        col("session_end_us"),
        (col("sess_idx") === col("last_idx")).as("trailing"))
      .collect()
    val nonTrailing = marked.filter(!_.getBoolean(4))
      .map(_.toSeq.take(4)).toSet
    val all = marked.map(_.toSeq.take(4)).toSet
    assert(nonTrailing.subsetOf(out),
      "a gap-closed session was lost across micro-batches")
    assert(out.subsetOf(all), "stream emitted a session batch doesn't have")
    // watermark-driven timeouts fired mid-stream (not just in-batch splits)
    assert(out.size > nonTrailing.size, "no timeout eviction ever fired")
  }

  test("session stream emits gap-closed sessions that match the batch " +
    "sessionizer (open trailing sessions excluded)") {
    val src = eventStream(eventsDir, eventsSchema)
    val out = StreamingOps.runToMemory(
        StreamingOps.userSessionStream(src).toDF(), OutputMode.Append())
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toSeq).toSet
    // batch reference: gap-closed sessions MUST all be emitted; trailing
    // sessions are emitted iff the final watermark passed their timeout
    // (Spark runs one extra batch to fire pending timeouts), so the
    // stream result must sit between "all non-trailing" and "all".
    val batch = graft.operators.Sessionize.sessionStats(
      Tables.load(spark, sf0001, "events"),
      "user_id", "ts", "event_id", "value")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val marked = batch
      .withColumn("last_idx", max(col("sess_idx")).over(w))
      .select(col("user_id"), col("n_events"), col("session_start_us"),
        col("session_end_us"), (col("sess_idx") === col("last_idx")).as("trailing"))
      .collect()
    val nonTrailing = marked.filter(!_.getBoolean(4))
      .map(_.toSeq.take(4)).toSet
    val all = marked.map(_.toSeq.take(4)).toSet
    assert(nonTrailing.subsetOf(out), "a gap-closed session was not emitted")
    assert(out.subsetOf(all), "stream emitted a session batch doesn't have")
    // timeouts really fire: strictly more than the in-batch closures
    assert(out.size > nonTrailing.size, "no trailing session ever timed out")
  }

  // the curate tests' documents: a corpus page, a page near nothing
  // in it, and a third page near neither
  private val corpusText = "alpha beta gamma delta epsilon zeta eta " +
    "theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val novelText = "one two three four five six seven eight nine " +
    "ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
  private val freshText = "red orange yellow green blue indigo violet " +
    "black white brown crimson scarlet amber teal navy maroon olive silver"

  /** A curate feed under `root`: batch i of (doc_id, text) rows is the
    * single file `src/b<i>.parquet`, its mtime pinned i minutes after a
    * fixed epoch, so with `maxFilesPerTrigger` 1 it is micro-batch i. */
  private def curateFeed(root: java.io.File,
                         batches: Seq[Seq[(Long, String)]]): DataFrame = {
    import spark.implicits._
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = new java.io.File(root, s"tmp$i").toString
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000000000L + i * 60000L)
    }
    spark.readStream
      .schema("doc_id BIGINT, text STRING").option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
  }

  test("continuousCurate: a batch-1 near-copy of a batch-0 admit is " +
    "rejected (the signature table is live)") {
    import spark.implicits._
    val root = Scratch.dir("spec-curate_spec")
    def path(n: String) = new java.io.File(root, n).toString
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureTable(
      corpus, "text", "doc_id", path("sigs"), k = 5)
    val src = curateFeed(root, Seq(
      Seq((100L, novelText)),                           // novel: admit
      Seq((200L, novelText.substring(10)),              // echo of 100: REJECT
        (201L, freshText))))                            // novel: admit
    StreamingOps.continuousCurate(
      src, path("sigs"), path("admitted"), "text", "doc_id")
    val admitted = spark.read.parquet(path("admitted"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 200 is near NOTHING in the original corpus — it is rejected only
    // because 100's signatures were appended after batch 0
    assert(admitted == Set(100L, 201L),
      s"expected live-table screen to admit {100, 201}, got $admitted")
  }

  test("curate policy screen: blocked docs reject, and never become " +
    "dedup evidence") {
    import spark.implicits._
    val root = Scratch.dir("spec-curate_policy")
    def path(n: String) = new java.io.File(root, n).toString
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureTable(
      corpus, "text", "doc_id", path("sigs"), k = 5)
    val src = curateFeed(root, Seq(
      // 100: novel but BLOCKED (two folded hits of 'qzxspam') — must
      // reject AND leave no signatures behind
      Seq((100L, novelText + " QzxSpam qzxspam")),
      // 200: near-dup of the BLOCKED 100 (tail trimmed) — admits,
      // because a rejected page is not dedup evidence
      Seq((200L, novelText.substring(10)),
        // 201: blocked in its own batch
        (201L, freshText + " qzxspam QZXSPAM extra"))))
    StreamingOps.continuousCurate(
      src, path("sigs"), path("admitted"), "text", "doc_id",
      blocklist = Seq("qzxspam"), blocklistBlockAt = 2L)
    val admitted = spark.read.parquet(path("admitted"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(200L),
      s"expected policy screen to admit only {200}, got $admitted")
    val sigIds = spark.read.parquet(path("sigs"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 200L),
      s"blocked docs leaked signatures: $sigIds")
  }

  /** Finds nodes through AQE wrappers: Spark wraps each write's plan
    * in an `AdaptiveSparkPlan`. */
  private val aqe =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  private def codegens(qe: org.apache.spark.sql.execution.QueryExecution) =
    aqe.find(qe.executedPlan)(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])

  /** A two-batch curate with both screens and a blocklist, run on a
    * signature table grown on disk by `sigPad` bytes of sparse hidden
    * file (which no read sees). `check` gets the executions of the
    * batches' writes; the caller's codegen setting must read the same
    * after return. */
  private def curateWrites(sigPad: Long)(
      check: Seq[org.apache.spark.sql.execution.QueryExecution] => Unit)
      : Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val root = Scratch.dir("spec-curate_codegen")
    def path(n: String) = new java.io.File(root, n).toString
    val corpus = Seq((1L, corpusText), (2L, freshText)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureTable(
      corpus, "text", "doc_id", path("sigs"), k = 5)
    graft.operators.Corpus.writeWinnowTable(
      corpus, "text", "doc_id", path("fps"), k = 5, window = 4)
    val pad = new java.io.RandomAccessFile(path("sigs/_pad"), "rw")
    try pad.setLength(sigPad) finally pad.close()
    val src = curateFeed(root, Seq(
      Seq((100L, novelText), (101L, "quoted: " + corpusText.take(60))),
      Seq((200L, novelText.substring(10)), (201L, "qzxspam " + novelText))))
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.get(key)
    withExecutions {
      StreamingOps.continuousCurate(src, path("sigs"), path("admitted"),
        "text", "doc_id", winnowTablePath = path("fps"),
        blocklist = Seq("qzxspam"))
    } { qes =>
      val writes = qes.filter(qe => aqe.find(qe.executedPlan)(
        _.isInstanceOf[DataWritingCommandExec]).isDefined)
      // admits, signatures and three fingerprint artifacts per batch
      assert(writes.size >= 10, s"${writes.size} batch writes seen")
      writes.foreach(qe => assert(qe.sparkSession ne spark,
        "a batch wrote on the caller's session"))
      check(writes)
    }
    assert(spark.conf.get(key) == before)
    assert(spark.read.parquet(path("admitted")).select("doc_id")
      .as[Long].collect().toSet == Set(100L))
  }

  test("a curate batch's writes plan without whole-stage codegen on a " +
    "small signature table, and the caller's session keeps its setting") {
    curateWrites(0L)(_.foreach(qe => assert(codegens(qe).isEmpty,
      s"a batch write ran whole-stage codegen:\n${qe.executedPlan}")))
  }

  test("a curate batch keeps whole-stage codegen on a signature table " +
    "of 16 MiB or more") {
    curateWrites(16L << 20)(writes => assert(writes.exists(
      codegens(_).isDefined), "no batch write ran whole-stage codegen"))
  }

  test("curate batches run interpreted only under a small codegen cache " +
    "and a small signature table") {
    assert(StreamingOps.curateInterpreted(100, (16L << 20) - 1))
    assert(!StreamingOps.curateInterpreted(100, 16L << 20))
    assert(StreamingOps.curateInterpreted(999, 0L))
    assert(!StreamingOps.curateInterpreted(1000, 0L))
  }

  test("continuousAggMaintenance commits one Versioned snapshot per " +
    "micro-batch and the latest equals the full aggregate") {
    import spark.implicits._
    val root = Scratch.dir("spec-streamagg").toString
    // two micro-batch files
    Seq((1L, 10L), (2L, 5L)).toDF("k", "c").coalesce(1)
      .write.parquet(s"$root/src/b0")
    Seq((1L, 3L), (3L, 7L)).toDF("k", "c").coalesce(1)
      .write.parquet(s"$root/src/b1")
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/src/*")
    val table = s"$root/agg"
    StreamingOps.continuousAggMaintenance(src, table, Seq("k"), Seq("c"))
    assert(graft.sources.Versioned.versions(spark, table) == Seq(1, 2))
    val latest = graft.sources.Versioned.read(spark, table)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(latest == Map(1L -> (2L, 13L), 2L -> (1L, 5L), 3L -> (1L, 7L)))
  }
}
