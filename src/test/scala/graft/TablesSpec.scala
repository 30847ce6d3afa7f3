package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** `Tables.parquet` returns exactly what `spark.read.parquet` returns,
  * and skips only the schema-inference job. */
class TablesSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("0x", ",", "")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** The reader against a plain read of the same directory. */
  private def assertSame(dir: String): Unit = {
    val got = Tables.parquet(spark, dir)
    val want = spark.read.parquet(dir)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
  }

  private def write(df: DataFrame, dir: File): Unit =
    df.write.mode("overwrite").parquet(dir.toString)

  private def dataFiles(dir: File): Seq[File] =
    dir.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  /** `df` as one parquet file moved to `target` (replacing it). */
  private def writeFile(df: DataFrame, target: File): Unit = {
    val tmp = Scratch.dir("tables-one")
    write(df.coalesce(1), tmp)
    Files.move(dataFiles(tmp).head.toPath, target.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    Scratch.delete(tmp)
  }

  private def ids(n: Int): DataFrame =
    spark.range(n).select(col("id"), concat(lit("s"), col("id")).as("s"))

  /** Spark job groups seen while `f` runs, once the listener bus has
    * delivered a marker job started after it. */
  private def jobGroups(f: => Unit): Seq[String] = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-under-test", "reads under test")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("tables-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(groups.contains("tables-marker"))
      }
      groups.toArray(new Array[String](0)).toSeq
        .filter(_ == "tables-under-test")
    } finally sc.removeSparkListener(listener)
  }

  /** A parquet file with no Spark schema record in its footer, as
    * another writer leaves it: only inference can read its schema. */
  private def writeForeign(file: File): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary b; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 4).foreach(i =>
      w.write(g.newGroup().append("id", i.toLong).append("b", s"v$i")))
    finally w.close()
  }

  test("an unchanged dir reads its schema once: the second read runs no job") {
    val dir = Scratch.dir("tables-unchanged")
    writeForeign(new File(dir, "part-0.parquet"))
    val miss = jobGroups(Tables.parquet(spark, dir.toString).schema)
    assert(miss.nonEmpty, "the first read infers the schema in a job")
    val hit = jobGroups(Tables.parquet(spark, dir.toString).schema)
    assert(hit.isEmpty)
    assertSame(dir.toString)
  }

  test("a dir Spark wrote runs no job even when an append changes it") {
    val dir = Scratch.dir("tables-recorded")
    write(ids(100).repartition(2), dir)
    assert(jobGroups(Tables.parquet(spark, dir.toString).schema).isEmpty)
    assertSame(dir.toString)
    writeFile(ids(5), new File(dir, "part-appended.parquet"))
    assert(jobGroups(Tables.parquet(spark, dir.toString).schema).isEmpty)
    assertSame(dir.toString)
    // one footer cannot speak for a merge of every file's schema
    writeFile(spark.range(3).select(col("id"), lit(1).as("extra")),
      new File(dir, "part-extra.parquet"))
    withSQLConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSame(dir.toString)
      assert(Tables.parquet(spark, dir.toString).columns.toSeq ==
        Seq("id", "s", "extra"))
    }
  }

  test("a file appended with a first-sorting name and another schema") {
    val dir = Scratch.dir("tables-append")
    write(ids(50).repartition(2), dir)
    assertSame(dir.toString)
    // inference reads the first file by path, so the new file decides
    writeFile(spark.range(5).select(col("id"), (col("id") * 2).as("k")),
      new File(dir, "a-first.parquet"))
    assertSame(dir.toString)
    assert(Tables.parquet(spark, dir.toString).columns.toSeq == Seq("id", "k"))
  }

  test("a file rewritten in place under the same name") {
    val dir = Scratch.dir("tables-rewrite")
    val file = new File(dir, "part-0.parquet")
    writeFile(ids(20), file)
    assertSame(dir.toString)
    writeFile(spark.range(3).select(col("id").cast("int").as("n")), file)
    assertSame(dir.toString)
    assert(Tables.parquet(spark, dir.toString).columns.toSeq == Seq("n"))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers") {
    // Spark's own files carry its schema in their footer, which wins
    // over the conf: write one with no Spark metadata
    val dir = Scratch.dir("tables-binary")
    writeForeign(new File(dir, "part-0.parquet"))
    assertSame(dir.toString)
    withSQLConf("spark.sql.parquet.binaryAsString" -> "true") {
      assertSame(dir.toString)
      assert(Tables.parquet(spark, dir.toString).schema("b").dataType ==
        org.apache.spark.sql.types.StringType)
    }
    assertSame(dir.toString)
    assert(Tables.parquet(spark, dir.toString).schema("b").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("a partitioned dir takes the plain read") {
    val dir = Scratch.dir("tables-partitioned")
    ids(30).withColumn("p", col("id") % 3).write.mode("overwrite")
      .partitionBy("p").parquet(dir.toString)
    assertSame(dir.toString)
    assert(!Tables.schemaCache.containsKey(dir.toString))
  }

  test("a missing dir and an empty dir raise Spark's own errors") {
    val empty = Scratch.dir("tables-empty")
    val missing = new File(empty, "absent").toString
    for (dir <- Seq(missing, empty.toString)) {
      val got = intercept[Exception](Tables.parquet(spark, dir))
      val want = intercept[Exception](spark.read.parquet(dir))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
  }

  test("two loads of one table keep distinct attributes and self-join") {
    val a = Tables.load(spark, sf0001, "nation")
    val b = Tables.load(spark, sf0001, "nation")
    assert(Tables.schemaCache.containsKey(s"$sf0001/nation.parquet"))
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    val joined = a.filter(a("n_nationkey") < 5)
      .join(b, a("n_nationkey") === b("n_regionkey"))
    assert(joined.count() == b.count())
    assert(joined.filter(a("n_nationkey") =!= b("n_regionkey")).isEmpty)
  }

  test("repeated rewrites of a dir leave one cache entry for it") {
    val dir = Scratch.dir("tables-rewrites")
    val before = Tables.schemaCache.size
    for (n <- 1 to 3) {
      write(spark.range(n).select((0 until n).map(i => lit(i).as(s"c$i")): _*),
        dir)
      assertSame(dir.toString)
    }
    assert(Tables.schemaCache.size == before + 1)
    assert(Tables.parquet(spark, dir.toString).columns.length == 3)
  }

  test("Scratch.delete drops the cache entries of the tables under it") {
    val root = Scratch.dir("tables-forget")
    val dir = new File(root, "t")
    write(ids(30), dir)
    assertSame(dir.toString)
    graft.sources.MaintainedIndex.pruneFiles(spark, dir.toString, "id",
      Array(0L))
    val envKey = (new org.apache.hadoop.fs.Path(dir.toString).toString, "id")
    assert(Tables.schemaCache.containsKey(dir.toString))
    assert(graft.sources.MaintainedIndex.envelopeCache.containsKey(envKey))
    Scratch.delete(root)
    assert(!Tables.schemaCache.containsKey(dir.toString))
    assert(!graft.sources.MaintainedIndex.envelopeCache.containsKey(envKey))
  }
}
