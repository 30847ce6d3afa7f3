package graft

import org.apache.spark.sql.functions._

import graft.sources.SkippingIndex

class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(tag: String): String = {
    val dir = Scratch.dir(s"spec-bloom_$tag").toString
    // 400 keys hashed into 8 files: every file's [min, max] envelope
    // spans nearly the full key range (min/max skipping is useless),
    // but each key lives in exactly one file
    (1L to 400L).map(k => (k, s"payload_$k"))
      .toDF("k", "v")
      .repartition(8, col("k"))
      .write.parquet(dir + "/t")
    SkippingIndex.buildBloom(spark, dir + "/t", "k",
      bits = 4096, numHashes = 3)
    dir + "/t"
  }

  test("point read collapses to the single true file") {
    val path = writeFixture("collapse")
    val all = spark.read.parquet(path)
    assert(all.inputFiles.length === 8)
    val got = SkippingIndex.readPoint(spark, path, "k", 123L,
      bits = 4096, numHashes = 3)
    // bloom may admit false-positive files, but at 4096 bits / 400 keys
    // the fill factor is ~9%, so (0.09)^3 ≈ 7e-4 per file — for this
    // fixed fixture the collapse is to exactly one file
    assert(got.inputFiles.length === 1,
      s"expected 1 file, read ${got.inputFiles.length}")
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((123L, "payload_123")))
  }

  test("no false negatives: every key is found through the Bloom") {
    val path = writeFixture("complete")
    val probes = Seq(1L, 57L, 200L, 399L, 400L)
    probes.foreach { k =>
      val rows = SkippingIndex.readPoint(spark, path, "k", k,
        bits = 4096, numHashes = 3).collect()
      assert(rows.length === 1 && rows.head.getLong(0) === k,
        s"key $k not found through the Bloom")
    }
  }

  test("absent key returns empty with schema intact") {
    val path = writeFixture("absent")
    val got = SkippingIndex.readPoint(spark, path, "k", 99999L,
      bits = 4096, numHashes = 3)
    assert(got.columns.toSeq === Seq("k", "v"))
    assert(got.count() === 0L)
  }

  test("result equals the unpruned equality filter (residual correctness)") {
    val path = writeFixture("equal")
    val full = spark.read.parquet(path).where(col("k") === 321L)
      .collect().map(_.toSeq).toSet
    val pruned = SkippingIndex.readPoint(spark, path, "k", 321L,
      bits = 4096, numHashes = 3)
      .collect().map(_.toSeq).toSet
    assert(pruned === full)
  }

  test("a file appended after buildBloom is read by readPoint") {
    // a space in the directory: postings name files by URI, the
    // listing by decoded path, and the two must still match
    val path = writeFixture("append copy")
    // the postings do not name the new file: it must be read anyway
    Seq((123L, "late_123")).toDF("k", "v").write.mode("append").parquet(path)
    val read = SkippingIndex.readPoint(spark, path, "k", 123L,
      bits = 4096, numHashes = 3)
    // the one true file (as in the collapse test) plus the new file
    assert(read.inputFiles.length === 2,
      s"expected 2 files, read ${read.inputFiles.length}")
    val got = read.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((123L, "payload_123"), (123L, "late_123")))
  }

  test("a named file that is no longer listed is not opened by readPoint") {
    val path = writeFixture("deleted")
    val file = spark.read.parquet(path).where(col("k") === 123L)
      .select(input_file_name()).head().getString(0)
    assert(new java.io.File(new java.net.URI(file)).delete())
    val got = SkippingIndex.readPoint(spark, path, "k", 123L,
      bits = 4096, numHashes = 3)
    assert(got.count() === 0L)
    assert(got.columns.toSeq === Seq("k", "v"))
  }

  test("bloom postings table is bounded by files x bits and append-shaped") {
    val path = writeFixture("bounded")
    val bloom = spark.read.parquet(SkippingIndex.bloomPath(path))
    assert(bloom.columns.toSeq.sorted === Seq("file", "pos"))
    val perFile = bloom.groupBy("file").count().as[(String, Long)]
      .collect().toMap
    assert(perFile.size === 8)
    // per-file positions ≤ min(keys_in_file × 3, bits); the total over
    // all files is ≤ 400 keys × 3 hashes (distinct can only shrink it)
    assert(perFile.values.forall(n => n > 0 && n <= 4096))
    assert(perFile.values.sum <= 400L * 3)
  }
}
