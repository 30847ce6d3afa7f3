package graft

import org.apache.spark.sql.functions._

import graft.sources.MaintainedIndex

class ClusteredWriteSpec extends SparkSpec {

  private def writeFixture(): String = {
    val path = Scratch.dir("spec-clustered").toString + "/li"
    MaintainedIndex.writeClusteredIndexed(
      Tables.load(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_quantity"),
      path, "l_shipdate", partitions = 8)
    path
  }

  test("clustered files carry pairwise disjoint cluster-key ranges") {
    val path = writeFixture()
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1, "fixture should produce multiple files")
    val ranges = files.map { f =>
      // TIMESTAMP_NTZ casts to neither BIGINT nor java.sql.Timestamp;
      // the ISO string is total-ordered, which is all the check needs
      val r = spark.read.parquet(f)
        .agg(min(col("l_shipdate").cast("string")),
          max(col("l_shipdate").cast("string"))).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo,
          s"file ranges overlap: a ends $hi, next starts $lo — range " +
            "clustering broken")
      case _ =>
    }
  }

  test("a range predicate on the cluster key is pushed to the scan " +
    "and returns exactly the unclustered result") {
    val path = writeFixture()
    val clustered = spark.read.parquet(path)
      .where(col("l_shipdate") >= "1995-01-01" &&
        col("l_shipdate") < "1995-02-01")
    val p = clustered.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"cluster-key predicate not pushed:\n$p")
    val expected = Tables.load(spark, sf0001, "lineitem")
      .where(col("l_shipdate") >= "1995-01-01" &&
        col("l_shipdate") < "1995-02-01").count()
    assert(clustered.count() == expected)
  }
}
