package graft


import org.apache.spark.sql.functions._

import graft.jobs.Jobs

class JobsSpec extends SparkSpec {

  test("every job runs end-to-end and writes non-empty output") {
    val out = Scratch.dir("spec-jobs").toString
    Jobs.all.toSeq.sortBy(_._1).foreach { case (name, job) =>
      job(spark, sf0001, out)
    }
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    // ingest_props, corpus_report, screen_batch, export_shards,
    // resolve_customers, build_ann_index, release_customers, encode_pq,
    // select_corpus, media_features, winnow_corpus and similar_docs
    // emit two tables each; clean_corpus also persists the maintained
    // signature table; curate_stream adds its feed + admitted tables
    // (it reuses clean_corpus's signature table, running right after
    // it); index_lineitem emits two (layout, the pruned read) and
    // bloom_orders three (layout, its Bloom table, the pruned read);
    // govern_corpus emits five release tables; audit_privacy emits
    // four; clean_lines,
    // sketch_users, audit_leakage and scan_rowkeys two each
    // rank_missing_edges, excerpt_audit, quote_audit and embed_pca also
    // emit two tables each; train_tokenizer emits three (vocab,
    // segments, usage); train_wordpiece two (merges, segments);
    // train_quality_model two (weights, scores); screen_blocklist
    // three (hits, verdicts, clean); compact_screen_tables four
    // (winnow + sig tables and their compacted rewrites)
    assert(dirs.size == Jobs.all.size + 41,
      s"expected ${Jobs.all.size + 41} output tables, got $dirs")
    dirs.foreach {
      case "ann_index" =>
        // composite SQ8/IVF layout, not one parquet relation — validate
        // through its own reader contract
        assert(graft.operators.Similarity
          .ivfSqIndexNlist(spark, s"$out/ann_index") == 16)
      case d =>
        val n = spark.read.parquet(s"$out/$d").count()
        // the quarantine table is rightly empty when every line parses
        if (d.endsWith("_quarantine")) assert(n == 0, s"$d not empty")
        else assert(n > 0, s"$d is empty")
    }
  }

  test("clean_corpus drops planted near-duplicates and splits the rest") {
    val out = Scratch.dir("spec-corpus").toString
    Jobs.all("clean_corpus")(spark, sf0001, out)
    val corpus = spark.read.parquet(s"$out/clean_corpus")
    val n = corpus.count()
    val total = Tables.load(spark, sf0001, "documents").count()
    assert(n > 0 && n <= total)
    val splits = corpus.select(col("split").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "valid", "test")) && splits("train"))
  }

  test("curate_stream screens the feed against a live signature table") {
    val out = Scratch.dir("spec-curate_job").toString
    Jobs.all("curate_stream")(spark, sf0001, out)
    val admitted = spark.read.parquet(s"$out/admitted")
    // novel md5-chain docs (+9.5e6) resemble nothing ingested: admitted
    assert(admitted.where(col("doc_id") >= 9500000L).count() > 0,
      "novel feed docs were not admitted")
    // near-copies (+9e6) are mostly screened out against the corpus sigs
    val nearTotal = Tables.load(spark, sf0001, "documents")
      .where(col("doc_id") % 4 === 0).count()
    val nearAdmitted = admitted
      .where(col("doc_id") >= 9000000L && col("doc_id") < 9500000L).count()
    assert(nearAdmitted < nearTotal,
      s"no near-copy was screened out ($nearAdmitted of $nearTotal admitted)")
  }

  test("screen_batch admits only exact-and-fuzzy-novel batch docs") {
    val out = Scratch.dir("spec-screen").toString
    Jobs.all("screen_batch")(spark, sf0001, out)
    val admitted = spark.read.parquet(s"$out/batch_admitted")
    val rejects = spark.read.parquet(s"$out/batch_rejects")
    // the %3==1 slice is verbatim corpus text → exact-rejected (never
    // admitted, never in the fuzzy audit); the %3==0 near-copies are
    // fuzzy-rejected with their source doc recorded
    // verbatim slice (+9.5e6): exact-rejected — never admitted, never
    // reaches the fuzzy stage
    assert(admitted
      .where(col("doc_id") >= 9500000L && col("doc_id") < 9900000L)
      .count() == 0, "verbatim duplicate slipped through the exact screen")
    assert(rejects
      .where(col("batch_id") >= 9500000L && col("batch_id") < 9900000L)
      .count() == 0)
    // near-copy slice (+9e6): fuzzy-rejected with its source recorded
    assert(rejects.where(col("batch_id") < 9500000L).count() > 0,
      "no near-copy was fuzzy-rejected")
    // novel slice (+9.9e6): admitted
    assert(admitted.where(col("doc_id") >= 9900000L).count() > 0,
      "novel content was wrongly rejected")
  }

  test("quote_audit maintains its fingerprint table: create, converge " +
    "on re-run, append only unseen docs") {
    val out = Scratch.dir("spec-quote_job").toString
    Jobs.all("quote_audit")(spark, sf0001, out)
    val fps1 = spark.read.parquet(s"$out/winnow_fps").count()
    val pairs1 = spark.read.parquet(s"$out/quote_pairs").count()
    // re-run: every doc already fingerprinted → nothing appends, the
    // report re-derives identically
    Jobs.all("quote_audit")(spark, sf0001, out)
    assert(spark.read.parquet(s"$out/winnow_fps").count() == fps1,
      "a converged table must not grow on re-run")
    assert(spark.read.parquet(s"$out/quote_pairs").count() == pairs1)

    // append path: a table created over HALF the corpus must be topped
    // up to full coverage by the job, not rebuilt
    val out2 = Scratch.dir("spec-quote_job2").toString
    val d = Tables.load(spark, sf0001, "documents")
    graft.operators.Corpus.writeWinnowTable(
      d.where(col("doc_id") % 2 === 0), "text", "doc_id",
      s"$out2/winnow_fps", k = 5, window = 4)
    val half = spark.read.parquet(s"$out2/winnow_fps").count()
    Jobs.all("quote_audit")(spark, sf0001, out2)
    val full = spark.read.parquet(s"$out2/winnow_fps")
    assert(full.count() > half, "missing docs were not appended")
    assert(full.count() == fps1,
      "appended table must equal the from-scratch table")
    assert(spark.read.parquet(s"$out2/quote_pairs").count() == pairs1)
  }

  test("audit-append job is append-semantics (second run doubles rows)") {
    val out = Scratch.dir("spec-append").toString
    Jobs.all("clean_region")(spark, sf0001, out)
    val once = spark.read.parquet(s"$out/dwd_region").count()
    Jobs.all("clean_region")(spark, sf0001, out)
    val twice = spark.read.parquet(s"$out/dwd_region").count()
    assert(twice == 2 * once)
  }

  test("train_tokenizer reads-or-creates its vocabulary and the " +
    "segmentations cover every pretoken") {
    val out = Scratch.dir("spec-tok_job").toString
    Jobs.all("train_tokenizer")(spark, sf0001, out)
    val vocab1 = spark.read.parquet(s"$out/unigram_vocab").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val seg = spark.read.parquet(s"$out/unigram_segments")
    assert(seg.where(col("seg").isNull).count() == 0,
      "every char is in the vocab, so no pretoken may be uncoverable")
    // the stored vocabulary is the tokenizer's identity: a re-run must
    // reuse it byte-for-byte, not retrain
    Jobs.all("train_tokenizer")(spark, sf0001, out)
    val vocab2 = spark.read.parquet(s"$out/unigram_vocab").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(vocab1 == vocab2, "vocabulary must survive re-runs unchanged")
    // usage only counts pieces Viterbi used; chars are always kept
    val usage = spark.read.parquet(s"$out/unigram_usage")
    assert(usage.where(!col("kept")).where(col("usage") > 0).count() == 0)
  }

  test("refresh_pagerank cold-starts once, then refreshes warm from " +
    "the stored ranks") {
    val out = Scratch.dir("spec-pr_job").toString
    Jobs.all("refresh_pagerank")(spark, sf0001, out)
    val cold = spark.read.parquet(s"$out/pagerank_ranks").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold.nonEmpty)
    Jobs.all("refresh_pagerank")(spark, sf0001, out)
    val warm = spark.read.parquet(s"$out/pagerank_ranks").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same graph, 3 more power rounds from the stored ranks: the node
    // set is stable and the values move toward (or sit at) the fixed
    // point — and the job must not have reset to the uniform start
    assert(warm.keySet == cold.keySet)
    assert(warm.values.exists(_ != 1000000L),
      "warm refresh must start from stored ranks, not the uniform seed")
    // the warm path emits its staleness witness: one row naming the
    // max round-over-round movement and whether 3 rounds sufficed
    val w = spark.read.parquet(s"$out/pagerank_witness").collect()
    assert(w.length == 1 && w.head.getLong(0) >= 0L)
  }

  test("cluster_lineitem_hilbert lays files out in disjoint h-ranges " +
    "and a box scan over them equals the unclustered answer") {
    val out = Scratch.dir("spec-hilbert_job").toString
    Jobs.all("cluster_lineitem_hilbert")(spark, sf0001, out)
    val path = s"$out/lineitem_hilbert"
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1)
    // the ClusteredWriteSpec device: pairwise-disjoint cluster-key
    // ranges per file — what makes min/max stats actually skip
    val hRanges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("h"), max("h")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    hRanges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "h ranges overlap")
      case _ =>
    }
    val box = col("l_partkey").between(100L, 150L) &&
      col("l_suppkey").between(1L, 5L)
    assert(spark.read.parquet(path).where(box).count() ==
      Tables.load(spark, sf0001, "lineitem").where(box).count())
  }
}
