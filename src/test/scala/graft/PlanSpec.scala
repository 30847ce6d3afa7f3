package graft

import org.apache.spark.sql.functions._

import graft.ops.EtlOps

/** Physical-plan shape assertions — the 100 TB design claims, checked
  * against what Catalyst actually produces:
  * filters reach the parquet scan, dims broadcast, rank=1 windows get
  * the WindowGroupLimit rewrite, and no operator collects to the driver.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("keyedSnapshotScan pushes the regex-adjacent filter to the scan") {
    val o = Tables.load(spark, sf0001, "orders")
    val p = plan(o.filter(col("o_orderstatus") === "F"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter not pushed:\n$p")
  }

  test("column pruning reaches the scan (2-col projection reads 2 cols)") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val p = plan(li.select(col("l_orderkey"), col("l_quantity")))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan not pruned:\n$p")
  }

  test("denormalize broadcasts every dimension (fact side never shuffles)") {
    val cust = Tables.load(spark, sf0001, "customer")
    val nat = Tables.load(spark, sf0001, "nation")
      .withColumnRenamed("n_nationkey", "c_nationkey")
    val p = plan(EtlOps.denormalize(cust,
      Seq((nat, Seq("c_nationkey"), Seq("n_name")))))
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("dedupLatest gets the Spark-4 WindowGroupLimit top-1 rewrite") {
    val ev = Tables.load(spark, sf0001, "events")
    val p = plan(EtlOps.dedupLatest(ev, Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc)))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("latestPartition is a broadcast join, not a driver collect") {
    val li = Tables.load(spark, sf0001, "lineitem")
      .withColumn("etl_date", date_format(col("l_shipdate"), "yyyyMMdd"))
    val p = plan(EtlOps.latestPartition(li, "etl_date"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("latestPartitionPruned on a directory-partitioned table: the max " +
    "reads zero data columns and the result scan prunes partitions") {
    val dir = Scratch.dir("spec-partproof").toString + "/t"
    Tables.load(spark, sf0001, "lineitem")
      .withColumn("etl_date", date_format(col("l_shipdate"), "yyyyMM"))
      .write.partitionBy("etl_date").parquet(dir)
    val t = spark.read.parquet(dir)
    // max over the partition column: partition values come from the
    // directory metadata, so the scan materializes NO data columns
    val maxPlan = plan(t.select(col("etl_date")).agg(max(col("etl_date"))))
    assert(maxPlan.contains("ReadSchema: struct<>"),
      s"max-side scan must read no data columns:\n$maxPlan")
    // the filtered read prunes statically: the partition filter is on
    // the scan and the partition column is not in the data ReadSchema
    val p = plan(EtlOps.latestPartitionPruned(t, "etl_date"))
    assert(p.contains("PartitionFilters: [isnotnull(etl_date") ||
      p.contains("PartitionFilters: [(etl_date"),
      s"no static partition filter on the scan:\n$p")
    assert(!p.contains("etl_date:"),
      s"partition column must not appear in the data ReadSchema:\n$p")
  }

  test("saltedJoin equals the plain join and salts the shuffle key") {
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val dim = Tables.load(spark, sf0001, "customer")
      .filter(col("c_custkey") < 15)
      .select(col("c_custkey").as("user_id"), col("c_name"))
    val salted = graft.ops.SkewOps.saltedJoin(ev, dim, Seq("user_id"),
        "event_id", 8)
      .select("user_id", "event_id", "c_name")
      .collect().map(_.toSeq).toSet
    val plain = ev.join(dim, Seq("user_id"))
      .select("user_id", "event_id", "c_name")
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
    // with broadcast off, the join must hash on (user_id, __salt), so
    // each hot user key spreads over several shuffle partitions
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.ops.SkewOps.saltedJoin(ev, dim, Seq("user_id"),
        "event_id", 8))
      assert(p.contains("__salt"), s"salt key absent from plan:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"unexpected broadcast:\n$p")
    }
  }

  test("range join plans as an equi hash/merge join, never nested-loop") {
    val ev = Tables.load(spark, sf0001, "events")
    val p = plan(graft.queries.Analytics.rangeJoinQ(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n$p")
  }

  test("deterministic sampling is a shuffle-free pushed-scan filter") {
    val docs = Tables.load(spark, sf0001, "documents")
    val p = plan(graft.ops.Sampling.stratifiedSample(
      docs, col("lang"), col("doc_id"), Map("en" -> 0.5), 0.1))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    // the `*(n)` prefix marks whole-stage-codegen'd operators
    assert(p.contains("*(1) Filter"), s"filter not codegen'd:\n$p")
  }

  test("lshNearDupPairs candidates come from a hash join, never n²") {
    val emb = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.operators.Similarity.asDouble(col("embedding")).as("v"))
    val p = plan(graft.operators.Similarity
      .lshNearDupPairs(emb, "vec_id", "v", 0.98))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"LSH near-dup must not plan a product join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"no equi join on (tbl, bucket) found:\n$p")
  }

  test("lshTopK dedups id-only candidates (no array rides the exchange)") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    val emb = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        graft.operators.Similarity.asDouble(col("embedding")).as("v"))
    val df = graft.operators.Similarity
      .lshTopK(emb.limit(20), emb, "vec_id", "v", 5)
    // the candidate dedup is the only Aggregate in the plan; its input
    // must be the bare (q_id, n_id) pair — the embedding arrays join
    // back only after the exchange
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a
    }
    assert(aggs.nonEmpty, "candidate dedup aggregate missing")
    aggs.foreach { a =>
      val wide = a.child.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty,
        s"array columns ${wide.map(_.name)} cross the dedup exchange")
    }
  }

  test("incrementalDedup ships only fingerprints from the corpus side") {
    val docs = Tables.load(spark, sf0001, "documents")
    val batch = docs.limit(100)
    val p = plan(graft.operators.Dedup.incrementalDedup(
      batch, docs, "text", "doc_id"))
    // corpus scan pruned to the fingerprint input column only
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"corpus scan not pruned to text:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join:\n$p")
  }

  test("dupSpans joins per-window counts by hash key, never pairwise") {
    val p = plan(graft.queries.TrainingData.dupSpansQ(spark, sf0001))
    // the comparison unit is the window hash: a hash join on h, no
    // doc x doc product anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"pairwise comparison crept in:\n$p")
    assert(p.contains("Generate explode"), s"window explode missing:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no keyed join on the window hash:\n$p")
  }

  test("dupLongest hashes windows natively past a doc-keyed fan-out and " +
    "keeps its left join") {
    val p = plan(graft.queries.TrainingData.dupLongestQ(spark, sf0001))
    assert(p.contains("graft_pos_shingle_hashes"),
      s"windows not hashed by the native kernel:\n$p")
    assert(!p.contains("lambdafunction"),
      s"an interpreted lambda is left on the window path:\n$p")
    // the explicit-width fan-out ahead of the window explosion survives
    // optimization (AQE must not coalesce it away)
    assert(p.contains("REPARTITION_BY_NUM"),
      s"window explosion runs at scan parallelism:\n$p")
    assert(p.contains("LeftOuter"), s"left join to the doc table lost:\n$p")
  }

  test("heavyHitters sketch combines map-side and fans past the scan " +
    "split count; candidates broadcast for the recount") {
    val p = plan(graft.queries.TrainingData.heavyHittersQ(spark, sf0001))
    // partial sketch per partition -> one narrow final merge
    assert(p.contains("partial_graft_heavy_hitters"),
      s"no map-side sketch combine:\n$p")
    // the explicit-width fan-out ahead of the gram explosion survives
    // optimization (AQE must not coalesce it away)
    assert(p.contains("REPARTITION_BY_NUM"),
      s"gram explosion runs at scan parallelism:\n$p")
    // <= k-1 candidates broadcast; the gram stream is never shuffled
    // for the recount join
    assert(p.contains("BroadcastHashJoin"),
      s"candidate recount join not broadcast:\n$p")
  }

  test("signature-table pair generation column-prunes both scans " +
    "(bands read ids+minhashes, verification reads ids+shingle sets)") {
    val dir = Scratch.dir("spec-sigplan").toString + "/sigs"
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    graft.operators.Dedup.writeSignatureTable(
      docs, "text", "doc_id", dir, k = 5)
    // the returned frame scans the materialized spill; the pipeline
    // plan this test asserts is the one the spill write executed
    withPlans(graft.operators.Dedup.nearDupPairsFromSigs(spark, dir, 0.5)) {
      plans =>
        val p = plans.find(q => q.contains("InsertIntoHadoopFsRelationCommand")
            && q.contains("jaccard"))
          .getOrElse(fail(s"no spill write among:\n${plans.mkString("\n")}"))
        // the corpus text column must appear in NO scan: every read is a
        // projection of the stored signature table
        assert(!p.contains("text:string"), s"corpus text rescanned:\n$p")
        // band scans prune away the wide shingle-set column
        assert(p.contains("ReadSchema: struct<doc_id:bigint,m0:bigint"),
          s"band scan not pruned to (doc_id, m0..m15):\n$p")
    }
    // the containment screen shares the stored-table contract: band
    // scans pruned, corpus text never rescanned, join stays hash-shaped
    val pc = plan(graft.operators.Dedup.containmentPairsFromSigs(
      spark, dir, 7000L))
    assert(!pc.contains("text:string"),
      s"containment screen rescanned corpus text:\n$pc")
    assert(pc.contains("ReadSchema: struct<doc_id:bigint,m0:bigint"),
      s"containment band scan not pruned:\n$pc")
    assert(!pc.contains("CartesianProduct"),
      s"containment candidates must come from a hash join:\n$pc")
  }

  test("winnowingContainment over a stored fingerprint table: scans " +
    "prune to (id, h), joins are hash-shaped, text never read") {
    val dir = Scratch.dir("spec-winplan").toString + "/fps"
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    graft.operators.Corpus
      .winnowingFingerprints(docs, "text", "doc_id")
      .write.mode("overwrite").parquet(dir)
    val p = plan(graft.operators.Corpus.winnowingContainment(
      spark.read.parquet(dir), maxDf = 50, minContainmentBp = 8000L))
    // containment needs only the (id, h) projection — the positional
    // column must prune away at every scan of the stored table
    assert(!p.contains("pos:bigint"),
      s"fingerprint positions rescanned (pruning failed):\n$p")
    assert(p.contains("ReadSchema: struct<id:bigint,h:bigint>"),
      s"scan not pruned to (id, h):\n$p")
    assert(!p.contains("text:string"), s"corpus text read:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"pair candidates must come from the fingerprint hash join:\n$p")
  }

  test("applyChangelog rank=1 survives the tombstone conjunct " +
    "(WindowGroupLimit still fires)") {
    val ord = Tables.load(spark, sf0001, "orders")
      .withColumn("op", when(col("o_orderstatus") === "F", "D")
        .otherwise("U"))
    val p = plan(EtlOps.applyChangelog(ord, Seq("o_custkey"),
      Seq("o_orderdate", "o_orderkey"), "op"))
    // the filter is rn = 1 AND op <> 'D'; Catalyst must still split the
    // conjunction and push the rank limit below the exchange
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("chunkDocs is shuffle-free and codegen'd (no exchange, no UDF)") {
    val d = Tables.load(spark, sf0001, "documents")
    val p = plan(graft.operators.Corpus.chunkDocs(d, "text", "doc_id"))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"chunking must stay native:\n$p")
    assert(p.contains("Generate"), s"posexplode missing:\n$p")
  }

  test("gap fill reuses one events scan partitioning (no extra exchange)") {
    val ev = Tables.load(spark, sf0001, "events")
    val p = plan(graft.operators.TimeSeries.gapFilledCounts(
      ev, "user_id", "ts", "value", 86400L))
    // two aggregations + join, but all keyed compatibly: at most the
    // hash exchanges on user_id(,bucket) — never a cartesian/calendar join
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"calendar generation must stay row-local:\n$p")
    assert(p.contains("Generate"), s"sequence+explode missing:\n$p")
  }

  test("ER block guard: purge aggregates with map-side partials and " +
    "the pair join stays id-only") {
    val c = Tables.load(spark, sf0001, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("payload"),
        col("c_nationkey").as("k"))
    val p = plan(graft.operators.EntityResolution.blockedPairs(
      c, "id", col("k").cast("string")))
    // occupancy count must be a partial-then-final hash aggregate (the
    // skew-safe shape), never a window over the blocking key
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"occupancy count lost its map-side combine:\n$p")
    assert(!p.contains("Window"), s"guard must not window by key:\n$p")
    assert(!p.contains("payload"),
      s"payload column crossed the guarded block join:\n$p")
  }

  test("stored SQ8/IVF index search column-prunes the code lists") {
    val dir = Scratch.dir("spec-ivfsq_plan")
    try {
      val emb = Tables.load(spark, sf0001, "embeddings")
      val path = new java.io.File(dir, "idx").toString
      graft.operators.Similarity.writeIvfSqIndex(
        emb, "vec_id", "embedding", path, nlist = 16, iters = 1)
      val search = graft.operators.Similarity.ivfSqTopKFromIndex(
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", path, 3,
        nprobe = 4)
      val p = plan(search)
      // the search never touches a full-precision corpus column — its
      // only corpus input is the stored codes relation
      assert(p.contains("ReadSchema: struct<n_id:bigint,codes:array<smallint>>"),
        s"code-list scan not pruned to (n_id, codes):\n$p")
      assert(!p.contains("CartesianProduct"),
        s"probe join must stay hash-shaped:\n$p")
      // O(probe) IO, plan-proven: the probed list ids are pushed down as
      // a LITERAL predicate on the partition column, so the codes scan
      // prunes to the probed directories — at nlist=4096/nprobe=64 an
      // unpruned scan is 64× IO, the regression the index exists to
      // prevent. The streaming serve path (continuousAnnServe) shares
      // this implementation, so the assertion covers both.
      assert(p.contains("PartitionFilters: [list_id"),
        s"codes scan not partition-pruned to the probed lists:\n$p")
      // a SINGLE query probes at most nprobe of the 16 lists, and the
      // partition filter must carry exactly those ids — strict-subset IO
      // (decode runs after this prune, so unprobed lists are neither
      // read nor decoded)
      val p1 = plan(graft.operators.Similarity.ivfSqTopKFromIndex(
        emb.limit(1), "vec_id", "embedding", path, 3, nprobe = 2))
      val inList = "list_id#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(p1)
      assert(inList.isDefined,
        s"single-query search has no list_id IN partition filter:\n$p1")
      val nProbed = inList.get.group(1).split(",").length
      assert(nProbed > 0 && nProbed <= 2,
        s"single-query nprobe=2 search must prune to ≤2 lists, " +
          s"filter was [${inList.get.group(1)}]:\n$p1")
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(dir)
    }
  }

  private def countExchanges(p: String): Int =
    "Exchange".r.findAllIn(p).length

  test("mergeIntervals costs ONE shuffle: the island rollup reuses the " +
    "window's key partitioning") {
    val ev = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id AS k", "event_id AS id", "ts AS s",
        "ts + 1000000000 AS e")
    val p = plan(graft.operators.TimeSeries
      .mergeIntervals(ev, "k", "s", "e", "id"))
    // HashPartitioning(k) satisfies the (k, interval_idx) clustering,
    // so the groupBy must NOT re-exchange after the window
    assert(countExchanges(p) == 1,
      s"expected exactly one Exchange:\n$p")
  }

  test("rollingAnomalies costs ONE shuffle and keeps the flag compare " +
    "row-local") {
    val ev = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id AS k", "event_id AS id",
        "ts div 1000 AS t", "value AS v")
    val p = plan(graft.operators.TimeSeries
      .rollingAnomalies(ev, "k", "t", "id", "v"))
    assert(countExchanges(p) == 1,
      s"expected exactly one Exchange:\n$p")
    assert(!p.contains("Join"), s"anomaly flag must not join:\n$p")
  }

  test("countMinTable: partial aggregation IS the sketch — one exchange, " +
    "map-side combine before it") {
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("source").as("k"))
    val p = plan(graft.ops.Sketches.countMinTable(d, "k", 3, 64))
    assert(countExchanges(p) == 1,
      s"expected exactly one Exchange:\n$p")
    // the combine below the exchange is what bounds per-task output at
    // d·w cells regardless of stream length
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"no map-side partial aggregation below the exchange:\n$p")
  }

  test("sparse-sim postings: no cartesian product, and the pair join is " +
    "a hash equi-join on the term") {
    val d = Tables.load(spark, sf0001, "documents").limit(50)
    val pairs = graft.operators.SparseSim.cosinePairs(
      graft.operators.SparseSim.tfidfPostings(d, "text", "doc_id",
        n = 3, maxDf = 50),
      threshold = 0.2)
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct"),
      s"sparse-sim must never go all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"pair generation is not an equi-join:\n$p")
  }

  test("winnowing costs ONE exchange: the fan-out doubles as the " +
    "window partitioning") {
    val d = Tables.load(spark, sf0001, "documents")
    val p = plan(graft.operators.Corpus
      .winnowingFingerprints(d, "text", "doc_id"))
    // repartition(id) before the explosion is the only shuffle until
    // the final distinct; both per-doc windows must reuse it
    assert(countExchanges(p) <= 2, // fan-out + the distinct's exchange
      s"expected fan-out + distinct exchanges only:\n$p")
    assert(!p.contains("Join"), s"winnowing must not join:\n$p")
  }

  test("dedupLinesKeepFirst elects winners via a partial-combined " +
    "aggregate, never a content-keyed window") {
    val d = Tables.load(spark, sf0001, "documents")
    val p = plan(graft.operators.Corpus
      .dedupLinesKeepFirst(d, "text", "doc_id"))
    // a Window partitioned by raw line content routes every copy of a
    // corpus-wide boilerplate line to ONE reducer; the aggregate's
    // map-side partial phase collapses a hot line to one row per task
    // BEFORE the exchange, so the hot key costs O(tasks)
    assert(!p.contains("RunningWindowFunction") &&
      !"Window \\[row_number".r.findFirstIn(p).isDefined,
      s"winner election must not be a content-keyed window:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"no map-side partial aggregation below the exchange:\n$p")
  }

  test("DSIR serving: the model joins as a broadcast, the corpus side " +
    "never shuffles for it") {
    val d = Tables.load(spark, sf0001, "documents")
    val model = graft.operators.Selection.dsirModel(
      d, "text", "doc_id", col("lang") === "en")
    val p = plan(graft.operators.Selection
      .scoreWithModel(d, "text", "doc_id", model))
    // the BUCKET join (model onto the gram stream) must broadcast —
    // the id-keyed left join that restores zero-weight docs is a
    // legitimate batch-sized equi-join and may sort-merge
    assert(p.contains("BroadcastHashJoin [bucket"),
      s"model must broadcast-join onto the gram stream:\n$p")
    assert(!p.contains("SortMergeJoin [bucket"),
      s"gram-side shuffle for the model join:\n$p")
  }

  test("curriculum ordering has no global (unpartitioned) window sort") {
    val p = plan(graft.queries.TrainingData.curriculumQ(spark, sf0001))
    // every Exchange must be hashpartitioning — a rangepartitioning or
    // SinglePartition exchange would be the global sort this operator
    // exists to avoid
    assert(!p.contains("rangepartitioning"),
      s"global sort in the curriculum plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange in the curriculum plan:\n$p")
  }

  test("sqRerankTopK fetches candidates by id equi-join (no second " +
    "corpus-wide decode, no cartesian)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val p = plan(graft.operators.Similarity.sqRerankTopK(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, cand = 10))
    assert(!p.contains("CartesianProduct"),
      s"rerank must never go all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"candidate fetch is not an equi-join:\n$p")
  }

  test("trade matrix: supplier joins broadcast, no cartesian, one " +
    "rollup exchange after the fact joins") {
    val p = plan(graft.queries.Analytics.tradeMatrixQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"supplier dimension not broadcast:\n$p")
  }

  test("brand revenue: the disjunction's dimension conjuncts push " +
    "into the broadcast part scan") {
    val p = plan(graft.queries.Analytics.brandRevenueQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part not broadcast:\n$p")
    // the brand/size arms are scan-evaluable: the part scan must carry
    // a pushed Or filter mentioning p_brand
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"disjunctive dimension filter not pushed into the part scan:\n$p")
    // Catalyst also derives the quantity-band disjunction for the
    // lineitem side — assert the derived pushdown holds too
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"derived quantity disjunction not pushed into lineitem scan:\n$p")
  }

  test("blame supplier plans the two EXISTS as semi/anti hash joins " +
    "with no cartesian") {
    val p = plan(graft.queries.Analytics.blameSupplierQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("LeftSemi"), s"has-other-supplier not a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"sole-blame not an anti join:\n$p")
  }

  test("idle capital pushes the recency date filter into the orders " +
    "scan before the anti-join") {
    val p = plan(graft.queries.Analytics.idleCapitalQ(spark, sf0001))
    assert(p.contains("LeftAnti"), s"no-recent-order not an anti join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date filter not pushed into orders scan:\n$p")
  }

  test("attribution is one window pass - no self-join of events") {
    val p = plan(graft.queries.Analytics.attributionQ(spark, sf0001))
    assert(!p.contains("Join"), s"purchases x touches join crept in:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected only the user-keyed window exchange, got $exchanges:\n$p")
  }

  test("OHLC: both window directions and the final rollup share ONE " +
    "(event_type, bucket) exchange") {
    val p = plan(graft.queries.Analytics.ohlcQ(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected one shared bucket-keyed exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"open/close selection joined back:\n$p")
  }

  test("skyline: the row-level running-max window is bucket-partitioned " +
    "and the cross-bucket prefix joins as a broadcast") {
    val p = plan(graft.queries.Analytics.skylineQ(spark, sf0001))
    assert(p.contains("Exchange hashpartitioning(bucket"),
      s"row-level window not partitioned by the price bucket:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"),
      s"bucket prefix maxima not broadcast:\n$p")
  }

  test("noveltyReport scans the corpus ONCE and attributes ownership " +
    "via a partial-combined aggregate, never a gram-keyed window") {
    val df = graft.queries.TrainingData.noveltyQ(spark, sf0001)
    df.collect() // exchange reuse lands in AQE's FINAL plan
    // the executed AdaptiveSparkPlan prints final plan THEN the initial
    // plan — count scans in the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    // both consumers (per-doc counts, per-gram ownership) must read the
    // REUSED doc-keyed fan-out exchange — one corpus scan
    val scans = "FileScan".r.findAllIn(p).length
    assert(scans == 1, s"gram fan-out scanned the corpus $scans times:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
      s"the two gram consumers must share the fan-out exchange:\n$p")
    // ownership must be an aggregate (map-side combine collapses the
    // guaranteed-hot natural-language grams), not a window sort
    assert(!p.contains("Window"),
      s"gram attribution must not be a content-keyed window:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"no map-side partial aggregation below the gram exchange:\n$p")
  }

  test("linkPrediction: the wedge self-join runs at an EXPLICIT fan-out " +
    "width (AQE cannot coalesce it under the explosion) and minCommon " +
    "filters degrees BELOW the join") {
    import spark.implicits._
    val e = (for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      if (i * 3 + j) % 7 == 0
    } yield (i, j)).toDF("a", "b")
    val p = plan(graft.operators.Graph.linkPrediction(e, "a", "b"))
    // the adjacency must reach the self-join through a fixed-width
    // repartition — REPARTITION_BY_NUM is immune to AQE coalescing,
    // which is what collapsed the wedge explosion to 1-2 partitions
    assert(p.contains("REPARTITION_BY_NUM"),
      s"no explicit fan-out exchange under the wedge join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"wedge join must stay hash-shaped:\n$p")
    // minCommon > 1: the leaf-degree screen is a filter on the degree
    // relation feeding a LeftSemi join — i.e. it sits BELOW the wedge
    // self-join, not above the final aggregate
    val p2 = plan(graft.operators.Graph.linkPrediction(e, "a", "b",
      minCommon = 3L))
    assert(p2.contains("LeftSemi"),
      s"no leaf-degree semi-screen in the plan:\n$p2")
    assert("\\(d#\\d+L? >= 3\\)".r.findFirstIn(p2).isDefined,
      s"degree >= minCommon filter not below the join:\n$p2")
  }

  test("edgeSupport plans as hash joins with a partial-aggregated " +
    "support count (no cartesian anywhere in the wedge machinery)") {
    import spark.implicits._
    val e = (for {
      i <- 0L until 30L; j <- (i + 1) until 30L
      if (i + j) % 3 == 0
    } yield (i, j)).toDF("a", "b")
    val p = plan(graft.operators.Graph.edgeSupport(e, "a", "b"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge/support joins must stay hash-shaped:\n$p")
    // the support count combines map-side before the exchange
    assert(p.contains("partial_count") || p.contains("partial count") ||
      "HashAggregate.*count".r.findFirstIn(p).isDefined,
      s"support aggregation must have a partial phase:\n$p")
  }

  test("hits renorm is a shuffle-free projection over the checkpoint " +
    "(max fused into the materializing job, values identical)") {
    import spark.implicits._
    val raw = Seq((1L, 250000L), (2L, 1000000L), (3L, 499999L))
      .toDF("v", "s")
    val (m, norm) = graft.operators.Graph.renormFused(raw)
    try {
      // structural claim: renorm costs NO second aggregation barrier —
      // no crossJoin, no broadcast, no exchange; just a projection
      // over the checkpointed blocks with the max spliced as a literal
      val p = plan(norm)
      assert(!p.contains("BroadcastExchange") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("Exchange"),
        s"renorm must be a bare projection, got:\n$p")
      assert(p.contains("div 1000000"),
        s"max not spliced as a literal divisor:\n$p")
      // value claim: identical to the two-job crossJoin formulation
      val got = norm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 250000L, 2L -> 1000000L, 3L -> 499999L))
    } finally m.release()
  }

  test("hilbert box scan pushes both range predicates to the parquet " +
    "scan of the clustered files") {
    val dir = Scratch.dir("spec-hilplan").toString + "/li"
    graft.ops.Hilbert.writeHilbertOrdered(
      Tables.load(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey"),
      dir, "l_partkey", "l_suppkey", partitions = 4)
    val p = plan(spark.read.parquet(dir)
      .where(col("l_partkey").between(100L, 300L) &&
        col("l_suppkey").between(1L, 40L)))
    // the PushedFilters rendering truncates long lists — assert the
    // partkey bound in the pushed list and the suppkey bound via the
    // scan's DataFilters (same source of truth, untruncated)
    assert(p.contains("GreaterThanOrEqual(l_partkey,100)"),
      s"partkey bound not pushed to the clustered scan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), " +
      "IsNotNull(l_suppkey), GreaterThanOrEqual"),
      s"suppkey bounds missing from the pushdown:\n$p")
  }

  test("unigram fertility is join-free: one doc-keyed exchange, no " +
    "shuffle join on raw word content") {
    import spark.implicits._
    val docs = Seq((1L, "a ab ab b"), (2L, "b a a")).toDF("doc_id", "text")
    val vocab = Seq(("a", -5L), ("b", -6L), ("ab", -8L))
    val df = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .withColumn("np", size(split(
        graft.functions.native.NativeFns.unigramSegment(col("w"),
          vocab.map(_._1), vocab.map(_._2)),
        graft.operators.Unigram.Sep, -1)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
    df.collect()
    val p = plan(df)
    assert(!p.contains("Join"), s"fertility must not join on words:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.contains("HashAggregate"),
      s"doc aggregate must combine map-side:\n$p")
  }

  test("pcaProject is one partial-aggregated doc-keyed exchange over " +
    "the quantized relation — no join, no second shuffle") {
    val emb = Tables.load(spark, sf0001, "embeddings").limit(50)
    val q = graft.operators.Similarity
      .pcaQuantized(emb, "vec_id", "embedding")
    val d = 64
    val proj = graft.operators.Similarity.pcaProject(q,
      Array.fill(d)(0L), Array.fill(d)(1048576L))
    proj.collect()
    // AQE's rendering repeats the tree as Final + Initial sections —
    // count exchanges in the final plan only
    val full = plan(proj)
    val p = full.split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"projection must be join-free:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"projection must cost exactly one exchange:\n$p")
  }
}
