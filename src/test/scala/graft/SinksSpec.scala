package graft

import graft.sources.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Scratch.dir("spec-sinks").toString

  test("appendPartitioned accumulates rows across writes (K1)") {
    val path = tmp()
    val df = Seq(("20240101", 1), ("20240102", 2)).toDF("etl_date", "v")
    Sinks.appendPartitioned(df, path, Seq("etl_date"))
    Sinks.appendPartitioned(df, path, Seq("etl_date"))
    assert(spark.read.parquet(path).count() == 4)
  }

  test("overwriteDynamicPartitions replaces only touched partitions (K2)") {
    val path = tmp()
    val day1 = Seq(("20240101", 1), ("20240102", 2)).toDF("etl_date", "v")
    Sinks.overwriteAll(day1, path, Seq("etl_date"))
    // reload day 2 only, with new values
    val day2 = Seq(("20240102", 99)).toDF("etl_date", "v")
    Sinks.overwriteDynamicPartitions(day2, path, Seq("etl_date"))
    // partition-column type inference reads "20240101" back as INT —
    // cast to compare (real pipelines disable inference or use non-numeric
    // partition values)
    val out = spark.read.parquet(path)
      .select($"etl_date".cast("string"), $"v").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("20240101" -> 1, "20240102" -> 99),
      "untouched partition survives, touched partition replaced")
  }

  test("overwriteAll drops unreferenced partitions (K3)") {
    val path = tmp()
    Sinks.overwriteAll(
      Seq(("20240101", 1), ("20240102", 2)).toDF("etl_date", "v"),
      path, Seq("etl_date"))
    Sinks.overwriteAll(
      Seq(("20240103", 3)).toDF("etl_date", "v"), path, Seq("etl_date"))
    val dates = spark.read.parquet(path)
      .select($"etl_date".cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(dates == Set("20240103"))
  }

  test("partition pruning reads only the filtered etl_date directory") {
    val path = tmp()
    Sinks.overwriteAll(
      Seq(("20240101", 1), ("20240102", 2)).toDF("etl_date", "v"),
      path, Seq("etl_date"))
    val q = spark.read.parquet(path).where($"etl_date" === "20240102")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(etl_date"),
      s"no partition filter in:\n$scan")
    assert(q.count() == 1)
  }
}
