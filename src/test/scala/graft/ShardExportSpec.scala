package graft

import graft.sources.ShardExport

class ShardExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Scratch.dir(s"spec-shardspec_$tag")
      .toString + "/out"

  test("writeSharded writes one file per shard (aligned repartition)") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val path = tmp("files")
    ShardExport.writeSharded(docs, "text", 8, path)
    val shardDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"${d.getName} has ${parts.length} files — write tasks not " +
          "aligned with shards")
    }
  }

  test("shard assignment follows content: identical across input " +
    "partitionings and re-exports") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val p1 = tmp("a")
    val p2 = tmp("b")
    val a = ShardExport.writeSharded(docs, "text", 8, p1)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    val b = ShardExport.writeSharded(docs.repartition(11), "text", 8, p2)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("manifest counts the written rows per shard") {
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z"))
      .toDF("doc_id", "text")
    val path = tmp("mani")
    ShardExport.writeSharded(docs, "text", 4, path)
    val m = ShardExport.manifest(spark, path)
    assert(m.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head().getLong(0) == 3L)
  }
}
