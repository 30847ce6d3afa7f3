package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The persisted SQ8∘IVF index (Similarity.writeIvfSqIndex /
  * ivfSqTopKFromIndex): a search over the stored artifact must be
  * EXACTLY the from-scratch ivfSqTopK chain — same centroids, same
  * codes, same IEEE decode, same ranking — and the layout must refuse
  * paths it didn't write (the signature-table marker contract).
  */
class IndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus: 60 vectors, dim 6, values spread enough that
  // every SQ8 dimension has a non-flat range
  private def corpus = spark.range(60).select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(5)),
      i => (pmod(col("id") * 31 + i * 17, lit(97)).cast("double") / 97.0)
        .cast("float")).as("embedding"))

  private def withIndex[A](f: String => A): A = {
    val dir = Scratch.dir("spec-ivfsq")
    try {
      val path = new java.io.File(dir, "idx").toString
      Similarity.writeIvfSqIndex(corpus, "vec_id", "embedding", path,
        nlist = 16, iters = 2)
      f(path)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(dir)
    }
  }

  test("stored-index search equals the from-scratch SQ8∘IVF chain") {
    withIndex { path =>
      val q = corpus.filter(col("vec_id") < 5)
      val fromIndex = Similarity
        .ivfSqTopKFromIndex(q, "vec_id", "embedding", path, 4, nprobe = 4)
        .as[(Long, Long, Double, Long)].collect().toSet
      val fromScratch = Similarity
        .ivfSqTopK(q, corpus, "vec_id", "embedding", 4,
          nlist = 16, nprobe = 4, iters = 2)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(fromIndex === fromScratch)
      assert(fromIndex.nonEmpty)
    }
  }

  test("ivfIndexProbeLists prices probes consistently with the search") {
    withIndex { path =>
      val q = corpus.filter(col("vec_id") < 5)
      val p1 = Similarity
        .ivfIndexProbeLists(q, "vec_id", "embedding", path, 1)
        .as[(Long, Long)].collect().toSet
      val p3 = Similarity
        .ivfIndexProbeLists(q, "vec_id", "embedding", path, 3)
        .as[(Long, Long)].collect().toSet
      // one row per (query, probe); widening nprobe only ADDS lists
      assert(p1.size === 5 && p3.size === 15)
      assert(p1.subsetOf(p3))
      // every neighbor the search returns lives in a priced list:
      // search hits join (q_id, list-of-n_id) ⊆ probed (q_id, c_id)
      val asg = spark.read.parquet(s"$path/codes")
        .select(col("n_id"), col("list_id")).as[(Long, Long)]
        .collect().toMap
      val hits = Similarity
        .ivfSqTopKFromIndex(q, "vec_id", "embedding", path, 4, nprobe = 3)
        .as[(Long, Long, Double, Long)].collect()
      hits.foreach { case (qid, nid, _, _) =>
        assert(p3.contains((qid, asg(nid))),
          s"search hit ($qid, $nid) in unpriced list ${asg(nid)}")
      }
    }
  }

  test("append grows the stored index under the frozen quantizer") {
    val dir = Scratch.dir("spec-ivfsq-a")
    try {
      val path = new java.io.File(dir, "idx").toString
      val original = corpus.filter(col("vec_id") >= 20)
      val batch = corpus.filter(col("vec_id") < 20)
      Similarity.writeIvfSqIndex(original, "vec_id", "embedding", path,
        nlist = 16, iters = 2)
      val statsBefore = spark.read.parquet(s"$path/sq_stats").collect()
      val centsBefore = spark.read.parquet(s"$path/centroids")
        .collect().map(_.toSeq).toSet
      Similarity.appendToIvfSqIndex(batch, "vec_id", "embedding", path)
      // quantizer untouched, every id present exactly once
      assert(spark.read.parquet(s"$path/sq_stats").collect()
        .toSeq == statsBefore.toSeq)
      assert(spark.read.parquet(s"$path/centroids")
        .collect().map(_.toSeq).toSet == centsBefore)
      val ids = spark.read.parquet(s"$path/codes")
        .select("n_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L until 60L).toSeq,
        "append must add exactly the batch ids")
      // appended rows are searchable: an appended vector's own near
      // neighbors come back, including other appended ids
      val res = Similarity.ivfSqTopKFromIndex(
          batch.filter(col("vec_id") < 5), "vec_id", "embedding", path, 4)
        .collect()
      assert(res.nonEmpty, "appended vectors must be searchable")
      assert(res.map(_.getLong(0)).toSet.subsetOf((0L until 5L).toSet))
      assert(res.forall(r => r.getLong(0) != r.getLong(1)),
        "self-matches must stay excluded")
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(dir)
    }
  }

  test("index records nlist and refuses a foreign path") {
    withIndex { path =>
      assert(Similarity.ivfSqIndexNlist(spark, path) === 16)
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfSqIndexNlist(spark,
        Scratch.dir("spec-not-an-index").toString)
    }
    assert(e.getMessage.contains("_graft_ivfsq_meta"))
  }

  test("codes table stores byte-scale codes partitioned by list") {
    withIndex { path =>
      val codes = spark.read.parquet(s"$path/codes")
      assert(codes.columns.toSet === Set("n_id", "codes", "list_id"))
      // smallint element type — the storage-width contract
      assert(codes.schema("codes").dataType ===
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ShortType, true) ||
        codes.schema("codes").dataType ===
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ShortType, false))
      val bounds = codes
        .select(explode(col("codes")).as("c"))
        .agg(min(col("c")), max(col("c"))).as[(Short, Short)].head()
      assert(bounds._1 >= 0 && bounds._2 <= 255)
      // layout: one directory per inverted list
      val parts = new java.io.File(s"$path/codes").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
      assert(parts.nonEmpty)
    }
  }
}
