package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.TrainingData

/** Maintained-signature-table flow: write signatures at ingest, screen
  * later batches against the stored table — same results as re-hashing
  * the corpus, with the corpus text never touched again.
  */
class SigTableSpec extends SparkSpec {

  test("screening against the stored signature table == recomputing") {
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val batch = d.where(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 5000000L).as("doc_id"),
      expr("substring(text, 11)").as("text"))
    val path = Scratch.dir("spec-sigs").toString + "/sigs"
    Dedup.writeSignatureTable(d, "text", "doc_id", path)
    Dedup.requireShingleK(spark, path, 5)
    val m = Dedup.incrementalNearDupAgainstPreSigsM(
      Dedup.signatureRelation(batch, "text", "doc_id", 5), path, 0.5)
    val viaTable =
      try m.df.orderBy("batch_id", "corpus_id").collect().toSeq
      finally m.release()
    val viaText = Dedup.incrementalNearDup(batch, d, "text", "doc_id")
      .orderBy("batch_id", "corpus_id").collect().toSeq
    assert(viaTable == viaText,
      "stored-signature screen must equal the recomputed screen")
    assert(viaTable.nonEmpty, "near-copies must be found")
  }

  test("self near-dup pairs from the stored table == recomputing") {
    val d = TrainingData.nearDupCorpus(spark, sf0001)
    val path = Scratch.dir("spec-sigs_self").toString + "/sigs"
    Dedup.writeSignatureTable(d, "text", "doc_id", path)
    val viaTable = Dedup.nearDupPairsFromSigs(spark, path, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val viaText = Dedup.minhashNearDupPairs(d, "text", "doc_id",
        k = 5, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(viaTable == viaText,
      "stored-signature pairs must equal the recomputed pairs")
    assert(viaTable.nonEmpty, "near-copies must be found")
  }

  test("a missing k marker names the path and the writer to use") {
    val bare = Scratch.dir("spec-sigs_bare").toString + "/sigs"
    Tables.load(spark, sf0001, "documents")
      .select(col("doc_id")).write.parquet(bare)
    val e = intercept[IllegalArgumentException] {
      Dedup.signatureTableK(spark, bare)
    }
    assert(e.getMessage.contains(bare) &&
      e.getMessage.contains("writeSignatureTable"))
  }

  test("the signature table carries no text — the corpus side of a " +
    "screen is signatures only, and band scans prune to m0..m15") {
    val d = TrainingData.nearDupCorpus(spark, sf0001)
    val path = Scratch.dir("spec-sigs2").toString + "/sigs"
    Dedup.writeSignatureTable(d, "text", "doc_id", path)
    val table = spark.read.parquet(path)
    assert(!table.schema.fieldNames.contains("text"),
      "signature table must not store corpus text")
    assert(table.schema.fieldNames.toSet ==
      (Set("doc_id", "__sh") ++ (0 until 16).map(j => s"m$j")))
    // band-key generation needs only the 16 signature slots: the scan
    // for that projection must prune __sh (the big array column) away
    val bandScan = table
      .select((col("doc_id") +: (0 until 16).map(j => col(s"m$j"))): _*)
      .queryExecution.executedPlan.toString
    assert(!bandScan.contains("__sh"),
      s"band scan must prune the shingle array:\n$bandScan")
  }

  test("nearDupBandProfile is consistent with the pair screen: same " +
    "pairs, same jaccards, 1 <= n_bands <= 4") {
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = d.union(d.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, 11)").as("text")))
    val path = Scratch.dir("spec-bandprof").toString + "/sigs"
    Dedup.writeSignatureTable(corpus, "text", "doc_id", path)
    val pairs = Dedup.nearDupPairsFromSigs(spark, path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val profile = Dedup.nearDupBandProfile(spark, path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(profile.keySet === pairs.keySet,
      "profile must cover exactly the verified pair set")
    assert(profile.nonEmpty)
    profile.foreach { case (k, (nb, j)) =>
      assert(nb >= 1L && nb <= 4L, s"$k collided in $nb bands")
      assert(j === pairs(k), s"$k jaccard drifted: $j vs ${pairs(k)}")
    }
  }

  test("containment screen: a verbatim excerpt scores 10000 bp against " +
    "its source while the pair's Jaccard sits below the dedup bar") {
    import spark.implicits._
    val source = "the quick brown fox jumps over the lazy dog while " +
      "seventeen curious pelicans watch from the harbor wall at dawn " +
      "and the tide carries old newspaper pages past the mooring posts"
    // doc 2 CONTAINS doc 1 verbatim: every 5-shingle of doc 1 appears
    // in doc 2, so containment(small→large) is exactly 10⁴ while the
    // size gap pins the pair's Jaccard at 0.7976 — under a 0.85 twin-
    // dedup bar, the regime the asymmetric screen exists for. (140
    // chars is the shortest prefix whose ~0.8 Jaccard still collides
    // in one of the 4 fixed-seed LSH bands: banding recall is bounded
    // by JACCARD, not containment — the operator's documented limit;
    // lower-overlap excerpts are the winnowing screen's territory.)
    val excerpt = source.substring(0, 140)
    val d = Seq((1L, excerpt), (2L, source),
      (3L, "completely unrelated prose about glacier moraines and " +
        "the slow census of alpine lichen colonies")).toDF("doc_id", "text")
    val path = Scratch.dir("spec-sigs_ct").toString + "/sigs"
    Dedup.writeSignatureTable(d, "text", "doc_id", path)
    val rows = Dedup.containmentPairsFromSigs(spark, path,
        minContainmentBp = 9000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Set((1L, 2L)),
      s"expected exactly the excerpt pair, got ${rows.keySet}")
    val (nS, nL, bp) = rows((1L, 2L))
    assert(bp == 10000L, s"verbatim excerpt must be fully contained: $bp")
    assert(nS < nL)
    // the symmetric screen at 0.85 must MISS this pair — that miss is
    // the operator's reason to exist
    val jac = Dedup.nearDupPairsFromSigs(spark, path, threshold = 0.85)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "pair unexpectedly above the symmetric dedup bar — fixture drifted")
    // the INGEST-time form: the same excerpt arriving as a new batch
    // doc screens against the stored table, reports full containment
    // in the batch→corpus direction, and identifies its source
    import org.apache.spark.sql.functions.col
    val incoming = Seq((99L, excerpt)).toDF("doc_id", "text")
    val screened = Dedup.containmentAgainstSigs(incoming, path,
        "text", "doc_id", k = 5, minContainmentBp = 9000L)
      .collect().map(r => r.getLong(1) ->
        ((r.getAs[Long]("batch_in_corpus_bp"),
          r.getAs[Long]("corpus_in_batch_bp")))).toMap
    // matches BOTH its identical twin (doc 1) and its superset source
    // (doc 2); the unrelated doc 3 never collides
    assert(screened.keySet == Set(1L, 2L),
      s"excerpt batch must match twin and source: $screened")
    assert(screened(1L) == ((10000L, 10000L)))
    assert(screened(2L)._1 == 10000L && screened(2L)._2 < 10000L,
      "source direction must report the size ratio, not full containment")
  }

  test("dedupKeepBest elects the longest cluster member, not the min id") {
    import spark.implicits._
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    // truncated near-copies carry HIGHER ids and SHORTER text than
    // their originals: the min-id rule would keep the original by
    // id accident, but priority = length must keep it by MERIT — and
    // the keeper flag must be consistent everywhere
    val twins = d.where(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 5000000L).as("doc_id"),
      expr("substring(text, 11)").as("text"))
    val corpus = d.unionByName(twins)
    val out = Dedup.dedupKeepBestFromPairs(corpus,
        Dedup.minhashNearDupPairs(corpus, "text", "doc_id", 5, 0.5),
        "doc_id", org.apache.spark.sql.functions.length(col("text")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size == corpus.count())
    // brute-force the election: within every cluster the keeper must
    // be the (length DESC, id ASC) argmax — by merit, not id accident
    val lens = corpus.select(col("doc_id"),
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._2._1).foreach { case (rep, members) =>
      val expected = members.keys.minBy(m => (-lens(m), m))
      members.foreach { case (id, (_, keeper, kept)) =>
        assert(keeper == expected,
          s"cluster $rep: keeper $keeper != expected $expected")
        assert(kept == (id == keeper))
      }
    }
    // twins cluster with their originals, and a twin is never kept
    // while a strictly longer member shares its cluster
    val clustered = out.filter { case (id, (rep, _, _)) =>
      id >= 5000000L && rep != id }
    assert(clustered.nonEmpty, "twins must cluster with their originals")
    assert(clustered.forall { case (_, (_, _, kept)) => !kept } ||
      clustered.exists { case (id, (_, keeper, _)) => keeper != id })

    // the sig-table composition (the production path: pairs from the
    // maintained signature table, election unchanged) must elect
    // byte-identically to the from-text form
    val sigPath = Scratch.dir("spec-keepbest_sigs").toString + "/sigs"
    Dedup.writeSignatureTable(corpus, "text", "doc_id", sigPath)
    val viaSigs = Dedup.dedupKeepBestFromSigs(spark, corpus,
        sigPath, "doc_id",
        org.apache.spark.sql.functions.length(col("text")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(viaSigs == out,
      "sig-table keep-best must equal the from-text form exactly")
  }
}
