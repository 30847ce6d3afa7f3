package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.sources.Ingest

class IngestSpec extends SparkSpec {

  private def tmpFeed(name: String, linesOut: Seq[String]): String = {
    val dir = Scratch.dir(s"spec-$name").toPath
    Files.write(dir.resolve("part-0.txt"),
      linesOut.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("readJsonl splits clean rows from corrupt/partial lines") {
    val path = tmpFeed("jsonl", Seq(
      """{"id": 1, "name": "ok", "score": 0.5}""",
      """{"id": 2, "name": "missing score"}""",       // valid: null field
      """{"id": "not-a-number", "name": "bad type", "score": 1}""",
      """not json at all""",
      "",                                             // blank: dropped
      """{"id": 3, "name": "fine", "score": 2.0}"""))
    val (clean, quarantine) = Ingest.readJsonl(spark, path, schema)
    val ids = clean.collect().map(r => r.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L))
    assert(clean.columns.toSeq == Seq("id", "name", "score"))
    val bad = quarantine.collect().map(_.getString(0))
    assert(bad.length == 2)
    assert(bad.exists(_.contains("not-a-number")))
    assert(bad.contains("not json at all"))
  }

  test("readCsv quarantines type-mismatched lines, keeps raw for replay") {
    val path = tmpFeed("csv", Seq(
      "1,alpha,0.5",
      "oops,beta,1.0",   // id not a long
      "3,gamma,2.5"))
    val (clean, quarantine) = Ingest.readCsv(spark, path, schema)
    assert(clean.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(quarantine.collect().map(_.getString(0)).toSeq == Seq("oops,beta,1.0"))
  }

  test("clean/quarantine partition the non-blank input exactly") {
    val path = tmpFeed("part", Seq(
      """{"id": 1, "name": "a", "score": 1.0}""",
      """garbage""",
      """{"id": 2, "name": "b", "score": 2.0}"""))
    val (clean, quarantine) = Ingest.readJsonl(spark, path, schema)
    assert(clean.count() + quarantine.count() == 3)
  }

  test("schema may not use the reserved corrupt column name") {
    val s = StructType(Seq(StructField("_graft_corrupt", StringType)))
    intercept[IllegalArgumentException] {
      Ingest.readJsonl(spark, "/tmp/nonexistent", s)
    }
  }
}
