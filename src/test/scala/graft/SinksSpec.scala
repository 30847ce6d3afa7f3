package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sinks").toString

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

  test("compact collapses many small files into few, preserving rows") {
    val path = tmp() + "/t"
    val df = spark.range(10000).selectExpr("id", "id % 7 as v")
      .repartition(40) // 40 small files
    df.write.parquet(path)
    val before = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 30)
    Sinks.compact(spark, path, targetFileMB = 128)
    val after = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after <= 2, s"still $after files")
    assert(spark.read.parquet(path).count() == 10000)
  }

  test("compact preserves a partitioned layout and its values") {
    val path = tmp() + "/pt"
    val df = (1 to 1000).map(i => (s"2024010${i % 3 + 1}", i.toLong))
      .toDF("etl_date", "v").repartition(20)
    Sinks.appendPartitioned(df, path, Seq("etl_date"))
    assert(Sinks.partitionColumnsOf(spark, path) == Seq("etl_date"))
    Sinks.compact(spark, path, targetFileMB = 128)
    // layout still partitioned: etl_date=... subdirectories survive
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("etl_date="))
    assert(dirs.length == 3, s"partition dirs lost: ${dirs.toSeq}")
    assert(new java.io.File(path + "__compact_tmp").exists() == false)
    assert(new java.io.File(path + "__compact_old").exists() == false)
    val back = spark.read.parquet(path)
    assert(back.count() == 1000)
    // each partition directory is compacted to few files
    val files = new java.io.File(path + "/etl_date=20240101").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"partition dir still has $files files")
    assert(back.where($"etl_date" === "20240101").count() > 0)
  }

  test("z-ordered write clusters BOTH dimensions into tight per-file ranges") {
    val path = tmp() + "/z"
    // two independent uniform dims: a row-id and a decorrelated permutation
    val n = 4096
    val df = (0 until n).map { i => (i.toLong, ((i * 2654435761L) % n)) }
      .toDF("a", "b")
    Sinks.writeZOrdered(df, path, Seq("a", "b"), nFiles = 16)
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg((max("a") - min("a")).as("ra"), (max("b") - min("b")).as("rb"))
      .collect()
    assert(perFile.length == 16)
    val avgA = perFile.map(_.getLong(1)).sum.toDouble / perFile.length
    val avgB = perFile.map(_.getLong(2)).sum.toDouble / perFile.length
    // 16 files over a 4096 span: a single-column sort gives ~256 on one
    // dim and ~4096 on the other; the z-curve must be well under half
    // the full span on BOTH dims simultaneously
    assert(avgA < n / 2.0, s"a not clustered: avg range $avgA")
    assert(avgB < n / 2.0, s"b not clustered: avg range $avgB")
    // and the box query a<1/4-span AND b<1/4-span must touch few files
    val touched = spark.read.parquet(path)
      .where(col("a") < n / 4 && col("b") < n / 4)
      .select(input_file_name()).distinct().count()
    assert(touched <= 8, s"box query touched $touched of 16 files")
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
