package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup}
import graft.sources.MaintainedIndex

/** The layout-pruned maintained screens (round-11 headline): stored
  * corpus tables are hash-clustered with per-file key envelopes, and
  * the per-batch screens open only the files whose envelope meets the
  * batch's bounded probe sets — per-batch read IO O(batch), never
  * O(corpus). These tests pin (1) the file-count collapse on a
  * multi-file table, (2) bit-identical results vs the one-shot
  * reference screen, (3) the footer envelopes themselves and the safety
  * rule that a file without usable statistics reads, never skips.
  */
class ScreenPruneSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Scratch.dir(s"spec-prune_$tag")
      .toString

  // --------------------------------------------- MaintainedIndex core

  test("pruned read on a synthetic clustered table: bounded file subset, " +
    "identical rows") {
    val dir = tmpDir("synth")
    val d = (0L until 4000L).map(i => (i, s"v$i")).toDF("h", "v")
    // appends size their file count by bytes (scale-adaptive, r12);
    // this fixture needs MANY files per generation to observe pruning,
    // so force the per-file target down to one byte
    withSQLConf("spark.sql.shuffle.partitions" -> "16",
      "graft.append.targetFileBytes" -> "1") {
      MaintainedIndex.writeClusteredIndexed(d, dir, "h")
      // three append generations — envelopes overlap ACROSS
      // generations, stay narrow within each
      MaintainedIndex.clusteredIdempotentAppend(
        (4000L until 5000L).map(i => (i, s"v$i")).toDF("h", "v"),
        dir, "b1_", "h")
      MaintainedIndex.clusteredIdempotentAppend(
        (5000L until 6000L).map(i => (i, s"v$i")).toDF("h", "v"),
        dir, "b2_", "h")
    }
    val probes: Array[Any] = Array(7L, 4321L, 5900L)
    val probeLits = Seq(7L, 4321L, 5900L)
    val (kept, all) = MaintainedIndex.pruneFiles(spark, dir, "h", probes)
    assert(all.size >= 20, s"fixture too small: ${all.size} files")
    assert(kept.size <= probes.length * 3,
      s"kept ${kept.size} of ${all.size} — pruning did not engage")
    val full = spark.read.parquet(dir)
      .where(col("h").isin(probeLits: _*))
      .select("h", "v").collect().map(_.toString).sorted.toSeq
    val pruned = MaintainedIndex.readPruned(spark, dir, "h", probes)
      .where(col("h").isin(probeLits: _*))
      .select("h", "v").collect().map(_.toString).sorted.toSeq
    assert(pruned == full)
    // probes hitting nothing → schema-preserving empty, zero files
    val (kept0, _) = MaintainedIndex.pruneFiles(spark, dir, "h",
      Array(999999L))
    assert(kept0.isEmpty)
    assert(MaintainedIndex.readPruned(spark, dir, "h", Array(999999L))
      .count() == 0)
  }

  /** The footer envelopes of `dir`'s listed files, as the prune's
    * driver cache holds them after one probe. */
  private def envelopesOf(dir: String, keyCol: String)
      : Map[MaintainedIndex.FileKey, Option[(Any, Any)]] = {
    MaintainedIndex.pruneFiles(spark, dir, keyCol, Array(0L))
    MaintainedIndex.envelopeCache.get(
      (new org.apache.hadoop.fs.Path(dir).toString, keyCol))
  }

  /** Per-file (min, max) of `keyCol` read back through Spark. */
  private def sparkMinMax(dir: String, keyCol: String): Map[String, (Any, Any)] =
    spark.read.parquet(dir)
      .groupBy(expr("element_at(split(_metadata.file_path, '/'), -1)"))
      .agg(min(col(keyCol)), max(col(keyCol)))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap

  test("(a) every landed file's footer envelope equals the min/max of its " +
    "key read back through Spark: long and multi-byte UTF-8 string keys") {
    val longDir = tmpDir("env_long")
    val strDir = tmpDir("env_str")
    // U+FF61 sorts BELOW U+1F600 in UTF-8 bytes but ABOVE it in UTF-16
    // code units: an envelope built in Java string order would be wrong
    val strKeys = (0 until 300).map(i => Seq("k", "é", "日本", "\uFF61",
      "\uD83D\uDE00")(i % 5) + f"$i%03d")
    withSQLConf("spark.sql.shuffle.partitions" -> "8",
      "graft.append.targetFileBytes" -> "1") {
      MaintainedIndex.writeClusteredIndexed(
        (0L until 800L).map(i => (i * 7919L % 1000L, i)).toDF("h", "v"),
        longDir, "h")
      MaintainedIndex.clusteredIdempotentAppend(
        (800L until 900L).map(i => (i, i)).toDF("h", "v"),
        longDir, "b1_", "h")
      MaintainedIndex.writeClusteredIndexed(
        strKeys.take(200).map(k => (k, 1L)).toDF("k", "v"), strDir, "k")
      MaintainedIndex.clusteredIdempotentAppend(
        strKeys.drop(200).map(k => (k, 2L)).toDF("k", "v"),
        strDir, "b1_", "k")
    }
    val longEnv = envelopesOf(longDir, "h")
    val longTruth = sparkMinMax(longDir, "h")
    assert(longEnv.size >= 8 && longEnv.keys.map(_.name).toSet ==
      longTruth.keySet)
    longEnv.foreach { case (f, e) =>
      assert(e == Some(longTruth(f.name)), s"${f.name}: $e")
    }
    val strEnv = envelopesOf(strDir, "k")
    val strTruth = sparkMinMax(strDir, "k")
    assert(strEnv.size >= 8 && strEnv.keys.map(_.name).toSet ==
      strTruth.keySet)
    strEnv.foreach { case (f, e) =>
      val (lo, hi) = e.getOrElse(fail(s"${f.name} has no envelope"))
      val (tlo, thi) = strTruth(f.name)
      assert(lo.asInstanceOf[Array[Byte]].sameElements(
        tlo.toString.getBytes("UTF-8")), s"${f.name} lo")
      assert(hi.asInstanceOf[Array[Byte]].sameElements(
        thi.toString.getBytes("UTF-8")), s"${f.name} hi")
    }
    // and the string prune keeps every file holding a probe
    val probes = Seq(strKeys(3), strKeys(4), strKeys(251))
    val (kept, all) = MaintainedIndex.pruneFiles(spark, strDir, "k",
      probes.toArray[Any])
    assert(kept.size < all.size, s"kept ${kept.size} of ${all.size}")
    val full = spark.read.parquet(strDir).where(col("k").isin(probes: _*))
      .collect().map(_.toString).sorted.toSeq
    val pruned = MaintainedIndex.readPruned(spark, strDir, "k",
      probes.toArray[Any]).where(col("k").isin(probes: _*))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.size == 3 && pruned == full)
  }

  test("(b) a file appended without column statistics has no envelope, " +
    "is always kept, and the pruned read equals the full read") {
    val dir = tmpDir("nostats")
    withSQLConf("spark.sql.shuffle.partitions" -> "8") {
      MaintainedIndex.writeClusteredIndexed(
        (0L until 800L).map(i => (i, i)).toDF("h", "v"), dir, "h")
    }
    val before = MaintainedIndex.dataFileCount(spark, dir)
    (800L until 900L).map(i => (i, i)).toDF("h", "v").coalesce(1)
      .write.option("parquet.column.statistics.enabled", "false")
      .mode("append").parquet(dir)
    val env = envelopesOf(dir, "h")
    assert(env.size == before + 1)
    val bare = env.collect { case (f, None) => f.name }.toSeq
    assert(bare.size == 1, s"expected one stats-less file, got $bare")
    for (probe <- Seq(850L, 5L, 999999L)) {
      val (kept, all) = MaintainedIndex.pruneFiles(spark, dir, "h",
        Array(probe))
      assert(kept.contains(bare.head), s"probe $probe skipped it")
      assert(kept.size < all.size, s"probe $probe: no pruning")
      val full = spark.read.parquet(dir).where(col("h") === probe)
        .collect().map(_.toString).toSeq
      val pruned = MaintainedIndex.readPruned(spark, dir, "h", Array(probe))
        .where(col("h") === probe).collect().map(_.toString).toSeq
      assert(pruned == full)
    }
  }

  test("a file with one row group holding keys but lacking min/max has " +
    "no envelope, and its keys are never skipped") {
    val dir = tmpDir("partial_stats")
    // parquet writes no min/max for a chunk whose values exceed its
    // stats size limit: the oversized key's row group has none, the
    // small keys' row groups do
    val huge = "z" * 8192
    withSQLConf("spark.sql.shuffle.partitions" -> "4") {
      MaintainedIndex.writeClusteredIndexed(
        Seq("m1", "m2").map(k => (k, 0L)).toDF("k", "v"), dir, "k")
    }
    Seq("a", "b", huge).map(k => (k, 1L)).toDF("k", "v").coalesce(1)
      .sortWithinPartitions("k")
      .write.option("parquet.block.size", "1")
      .option("parquet.page.size.row.check.min", "1")
      .option("parquet.page.size.row.check.max", "1")
      .mode("append").parquet(dir)
    val mixed = spark.read.parquet(dir).where(col("k") === "a")
      .select(expr("element_at(split(_metadata.file_path, '/'), -1)"))
      .head().getString(0)
    assert(envelopesOf(dir, "k").collect { case (f, None) => f.name }
      .toSeq == Seq(mixed))
    val (kept, all) = MaintainedIndex.pruneFiles(spark, dir, "k",
      Array[Any](huge))
    assert(kept == Seq(mixed) && all.size > 1)
    assert(MaintainedIndex.readPruned(spark, dir, "k", Array[Any](huge))
      .where(col("k") === huge).count() == 1)
  }

  test("(c) after compactClusteredIndexed is published over the table, " +
    "the envelope cache holds no entries for files no longer listed") {
    val root = tmpDir("env_compact")
    val dir = new java.io.File(root, "t").toString
    val out = new java.io.File(root, "t_compacted").toString
    withSQLConf("spark.sql.shuffle.partitions" -> "8",
      "graft.append.targetFileBytes" -> "1") {
      MaintainedIndex.writeClusteredIndexed(
        (0L until 800L).map(i => (i, i)).toDF("h", "v"), dir, "h")
      MaintainedIndex.clusteredIdempotentAppend(
        (800L until 900L).map(i => (i, i)).toDF("h", "v"), dir, "b1_", "h")
    }
    val old = envelopesOf(dir, "h").keySet
    MaintainedIndex.compactClusteredIndexed(spark, dir, out, "h",
      targetFileBytes = 1024L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.rename(new org.apache.hadoop.fs.Path(out),
      new org.apache.hadoop.fs.Path(dir))
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")).toSet
    val now = envelopesOf(dir, "h")
    assert(now.keys.map(_.name).toSet == listed)
    assert(now.keySet.intersect(old).isEmpty,
      "envelopes of the replaced files survived compaction")
    assert(spark.read.parquet(dir).count() == 900L)
  }

  // --------------------------------------------- the pruned quote screen

  /** Corpus + two appended batches + a tiny quote batch, via the REAL
    * writers (clustered + projected + df sidecar from birth). */
  private def winnowFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val table = new java.io.File(tmpDir("winnow"), "fps").toString
    def doc(i: Long, salt: String) = (i,
      s"document $i $salt " + (1 to 12).map(j => s"tok${i}x$j").mkString(" "))
    val base = (0L until 40L).map(doc(_, "base")).toDF("doc_id", "text")
    // force many files per append generation (see the synth fixture)
    withSQLConf("spark.sql.shuffle.partitions" -> "16",
      "graft.append.targetFileBytes" -> "1") {
      Corpus.writeWinnowTable(base, "text", "doc_id", table)
      Corpus.appendToWinnowTable(
        (40L until 60L).map(doc(_, "appA")).toDF("doc_id", "text"),
        "text", "doc_id", table)
      Corpus.appendToWinnowTable(
        (60L until 80L).map(doc(_, "appB")).toDF("doc_id", "text"),
        "text", "doc_id", table)
    }
    // tiny batch: one verbatim quote of doc 7's tail + one novel doc
    val batch = Seq(
      (1007L, (5 to 12).map(j => s"tok7x$j").mkString(" ")),
      (2001L, "entirely novel content qqq www eee rrr ttt yyy uuu iii"))
      .toDF("doc_id", "text")
    (table, Corpus.winnowingFingerprints(batch, "text", "doc_id"))
  }

  test("bulk-regime screen reads the df sidecar and the doc-keyed " +
    "projection once each, with and without adaptive execution") {
    val table = new java.io.File(tmpDir("winnow_bulk"), "fps").toString
    val batch = Seq((1007L, (5 to 12).map(j => s"tok7x$j").mkString(" ")))
      .toDF("doc_id", "text")
    def doc(i: Long) = (i,
      s"document $i " + (1 to 12).map(j => s"tok${i}x$j").mkString(" "))
    Corpus.writeWinnowTable((0L until 40L).map(doc).toDF("doc_id", "text"),
      "text", "doc_id", table)
    Corpus.appendToWinnowTable((40L until 60L).map(doc).toDF("doc_id", "text"),
      "text", "doc_id", table)
    assert(MaintainedIndex.dataFileCount(spark, table) <=
      2 * spark.sessionState.conf.numShufflePartitions,
      "fixture does not exercise the bulk regime")
    // the directories a plan reads, stage by stage: a reused exchange
    // or a cached relation is a leaf, not a second scan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def scanned(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
      case s: QueryStageExec => scanned(s.plan)
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
      case other => (other.children ++ other.subqueries).flatMap(scanned)
    }
    for (aqe <- Seq("true", "false"))
      withSQLConf("spark.sql.adaptive.enabled" -> aqe) {
        // as a curate batch calls it: fingerprints persisted but not yet
        // computed, under the replay contract
        val batchFps = Corpus.winnowingFingerprints(batch, "text", "doc_id")
          .persist()
        withExecutions {
          val m = Corpus.winnowingContainmentScreen(batchFps, table,
            replay = Some((batch.select(col("doc_id").as("id")), 1L)),
            mat = graft.ops.MatStrategy.Local)
          try assert(m.df.where(col("batch_id") === 1007L).count() == 1)
          finally { m.release(); batchFps.unpersist() }
        } { qes =>
          val dirs = qes.flatMap(qe => scanned(qe.executedPlan))
          val df = dirs.count(_ == "_graft_winnow_df")
          val byId = dirs.count(_ == "_graft_winnow_byid")
          assert(df == 1 && byId == 1,
            s"adaptive=$aqe: df sidecar scanned $df times, projection $byId")
        }
      }
  }

  test("pruned screen == one-shot reference screen, and the quote is " +
    "caught") {
    val (table, batchFps) = winnowFixture()
    assert(MaintainedIndex.dataFileCount(spark, table) >
      2 * spark.sessionState.conf.numShufflePartitions,
      "fixture does not exercise the file-pruned regime")
    val pruned = Corpus.winnowingContainmentScreen(batchFps, table).df
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    val reference = ScreenReference.oneShot(batchFps,
      spark.read.parquet(table))
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    assert(pruned == reference)
    assert(pruned.exists(_.contains("1007")), "the planted quote escaped")
    assert(!pruned.exists(_.contains("2001")), "the novel doc was flagged")
  }

  test("the screen's table reads open a BOUNDED file subset of the " +
    "multi-generation table (the 100 TB asymptotic, observed)") {
    val (table, batchFps) = winnowFixture()
    val generations = 3 // initial write + two appends
    // the structural bound: within a generation file key-ranges are
    // pairwise disjoint, so each probe opens at most ONE file per
    // generation — kept scales with the PROBE SET, not the table
    val allProbes: Array[Any] = batchFps.select(col("h")).distinct()
      .collect().map(_.get(0))
    val (kept, all) = MaintainedIndex.pruneFiles(spark, table, "h",
      allProbes)
    assert(all.size >= 24, s"fixture too small: ${all.size} files")
    assert(kept.size <= allProbes.length * generations,
      s"kept ${kept.size} of ${all.size} for ${allProbes.length} probes")
    // and the observed collapse: a 3-hash probe set opens <= 9 of the
    // table's files — the micro-batch regime at 100 TB
    val tiny = allProbes.take(3)
    val (keptT, _) = MaintainedIndex.pruneFiles(spark, table, "h", tiny)
    assert(keptT.size <= tiny.length * generations &&
      keptT.size < all.size / 4,
      s"kept ${keptT.size} of ${all.size} for 3 probes — no collapse")
    // the projection read prunes on the candidate-id axis
    val candProbes: Array[Any] = Array(7L)
    val (keptId, allId) = MaintainedIndex.pruneFiles(spark,
      Corpus.winnowByIdPath(table), "id", candProbes)
    assert(allId.size >= 8, s"projection too small: ${allId.size}")
    assert(keptId.size <= generations,
      s"kept ${keptId.size} of ${allId.size} projection files")
  }

  test("projection + sidecar stay consistent with the table across " +
    "clustered writes and appends") {
    val (table, _) = winnowFixture()
    val t = spark.read.parquet(table).select("id", "h").distinct()
    val proj = spark.read.parquet(Corpus.winnowByIdPath(table))
    assert(proj.count() == t.count())
    assert(proj.join(t, Seq("id", "h")).count() == t.count(),
      "doc-keyed projection diverged from the fingerprint table")
    val folded = spark.read.parquet(Corpus.winnowDfStatePath(table))
      .groupBy("h").agg(sum("d").as("df"))
    val recount = t.groupBy("h").agg(count(lit(1)).as("df"))
    assert(folded.count() == recount.count() &&
      folded.join(recount, Seq("h", "df")).count() == recount.count(),
      "df sidecar diverged from the fingerprint table")
  }

  test("degraded states screen identically: no byid projection, no " +
    "file indexes (pre-index tables heal or full-read)") {
    val (table, batchFps) = winnowFixture()
    val expect = Corpus.winnowingContainmentScreen(batchFps, table).df
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // drop the byid projection, and rewrite the table and the df
    // sidecar as files without column statistics (no envelopes): the
    // projection heals, and every footer-less read keeps every file
    fs.delete(new org.apache.hadoop.fs.Path(
      Corpus.winnowByIdPath(table)), true)
    for (dir <- Seq(table, Corpus.winnowDfStatePath(table))) {
      val path = new org.apache.hadoop.fs.Path(dir)
      val files = fs.listStatus(path).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") &&
          !p.getName.startsWith("_"))
      val bare = dir + "_bare"
      spark.read.parquet(dir).repartition(files.length)
        .write.option("parquet.column.statistics.enabled", "false")
        .parquet(bare)
      files.foreach(fs.delete(_, false))
      fs.listStatus(new org.apache.hadoop.fs.Path(bare)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(path,
          p.getName)))
      val (kept, all) = MaintainedIndex.pruneFiles(spark, dir, "h",
        Array(7L))
      assert(all.size == files.length && kept == all)
    }
    val healed = Corpus.winnowingContainmentScreen(batchFps, table).df
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    assert(healed == expect)
  }

  test("compacted winnow table: one generation, equal screens, " +
    "markers and replay stamps carried") {
    val (table, batchFps) = winnowFixture()
    val before = Corpus.winnowingContainmentScreen(batchFps, table).df
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    val out = table + "_compacted"
    Corpus.compactWinnowTable(spark, table, out,
      targetFileBytes = 64L * 1024)
    val after = Corpus.winnowingContainmentScreen(batchFps, out).df
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    assert(after == before)
    // geometry marker carried; row content exact
    assert(Corpus.winnowTableParams(spark, out) ==
      Corpus.winnowTableParams(spark, table))
    assert(spark.read.parquet(out).count() ==
      spark.read.parquet(table).count())
    // the df sidecar keeps batch_id stamps (replay filtering must
    // survive compaction)
    assert(spark.read.parquet(Corpus.winnowDfStatePath(out))
      .columns.contains("batch_id"))
    // ONE generation: a single probe now opens at most one file
    val probe: Array[Any] = batchFps.select(col("h")).limit(1)
      .collect().map(_.get(0))
    val (kept1, _) = MaintainedIndex.pruneFiles(spark, out, "h", probe)
    assert(kept1.size <= 1,
      s"kept ${kept1.size} files for one probe after compaction")
  }

  // --------------------------------------------- the pruned LSH screen

  test("LSH verify pull prunes the signature table by candidate ids " +
    "and matches the text-path screen") {
    val root = tmpDir("sig")
    val sigPath = new java.io.File(root, "sigs").toString
    def doc(i: Long) = (i, (1 to 15).map(j => s"w${i}y$j").mkString(" "))
    val corpus = (0L until 50L).map(doc).toDF("doc_id", "text")
    withSQLConf("spark.sql.shuffle.partitions" -> "16") {
      Dedup.writeSignatureTable(corpus, "text", "doc_id", sigPath, k = 5)
    }
    // batch: one near-dup of doc 3 (prefix dropped), one novel
    val batch = Seq(
      (1003L, doc(3L)._2.substring(6)),
      (2002L, "novel aaa bbb ccc ddd eee fff ggg hhh iii jjj kkk lll"))
      .toDF("doc_id", "text")
    Dedup.requireShingleK(spark, sigPath, 5)
    val m = Dedup.incrementalNearDupAgainstPreSigsM(
      Dedup.signatureRelation(batch, "text", "doc_id", 5), sigPath, 0.5)
    val viaTable =
      try m.df.orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
      finally m.release()
    val direct = Dedup.incrementalNearDup(batch, corpus, "text", "doc_id")
      .orderBy("batch_id", "corpus_id").collect().map(_.toString).toSeq
    assert(viaTable == direct)
    assert(viaTable.exists(_.contains("1003")), "near-dup escaped")
    // file collapse on the candidate-id axis
    val (kept, all) = MaintainedIndex.pruneFiles(spark, sigPath,
      "doc_id", Array(3L))
    assert(all.size >= 8, s"sig table too small: ${all.size}")
    assert(kept.size < all.size,
      s"kept ${kept.size} of ${all.size} signature files")
  }
}
