package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.MaintainedIndex

class FileSkipSpec extends SparkSpec {

  private def lineitem: DataFrame = Tables.load(spark, sf0001, "lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity")

  private def writeFixture(tag: String): String = {
    val p = Scratch.dir(s"spec-fileskip_$tag").toString + "/li"
    MaintainedIndex.writeClusteredIndexed(lineitem, p, "l_orderkey",
      partitions = 8)
    p
  }

  private lazy val path: String = writeFixture("shared")

  private def name(file: String): String =
    file.substring(file.lastIndexOf('/') + 1)

  /** readRange equals the unpruned filter, row for row. */
  private def assertExact(p: String, lo: Long, hi: Long): Long = {
    val pruned = MaintainedIndex.readRange(spark, p, "l_orderkey", lo, hi)
    val expected = spark.read.parquet(p)
      .where(col("l_orderkey") >= lo && col("l_orderkey") <= hi)
    assert(pruned.exceptAll(expected).isEmpty &&
      expected.exceptAll(pruned).isEmpty)
    expected.count()
  }

  test("readRange opens strictly fewer files and returns the exact " +
    "unpruned result") {
    val all = spark.read.parquet(path).inputFiles.length
    assert(all > 1, "fixture should have multiple files")
    // sf0.001 orderkeys span 0..1499 over 8 range-clustered files — a
    // 100..300 slice intersects ~1-2 of them
    val lo = 100L; val hi = 300L
    val pruned = MaintainedIndex.readRange(spark, path, "l_orderkey", lo, hi)
    assert(pruned.inputFiles.length < all,
      s"no files skipped: ${pruned.inputFiles.length} of $all read")
    val expected = spark.read.parquet(path)
      .where(col("l_orderkey") >= lo && col("l_orderkey") <= hi)
    assert(pruned.exceptAll(expected).isEmpty &&
      expected.exceptAll(pruned).isEmpty)
    assert(pruned.count() > 0)
  }

  test("a range beyond every envelope yields zero rows, schema intact") {
    val out = MaintainedIndex.readRange(
      spark, path, "l_orderkey", Long.MaxValue - 1, Long.MaxValue)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("l_orderkey", "l_linenumber", "l_quantity"))
  }

  test("stats envelopes admit no false negatives on a point probe") {
    // each file's edge keys (its min and max, where an off-by-one
    // envelope would drop it): the point read readRange(k, k) must keep
    // the file holding k
    val edges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect()
      .flatMap(r => Seq(r.getString(0) -> r.getLong(1),
        r.getString(0) -> r.getLong(2)))
    assert(edges.length > 2)
    edges.foreach { case (file, k) =>
      val kept = MaintainedIndex.readRange(spark, path, "l_orderkey", k, k)
        .inputFiles.map(name)
      assert(kept.contains(name(file)),
        s"key $k: its file ${name(file)} not among ${kept.toSeq}")
    }
  }

  test("a file appended after the clustered write is read by readRange") {
    val p = writeFixture("append")
    val before = assertExact(p, 100L, 300L)
    // ten more rows inside the range (copies of rows already there)
    // land in one extra file after the envelopes were read and cached
    val extra = spark.read.parquet(p)
      .where(col("l_orderkey").between(100L, 300L)).limit(10).collect()
    spark.createDataFrame(java.util.Arrays.asList(extra: _*),
        spark.read.parquet(p).schema)
      .coalesce(1).write.mode("append").parquet(p)
    assert(assertExact(p, 100L, 300L) == before + 10)
  }

  test("a rewritten table range-reads without PATH_NOT_FOUND") {
    val p = writeFixture("rewrite")
    val before = assertExact(p, 100L, 300L)
    // every file is replaced by files of new names; envelopes cached
    // for the old files must never be opened
    MaintainedIndex.writeClusteredIndexed(lineitem, p, "l_orderkey",
      partitions = 4)
    assert(assertExact(p, 100L, 300L) == before)
  }
}
