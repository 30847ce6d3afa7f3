package graft

import graft.sources.Compaction

/** Small-file compaction: file-count collapse, exact row preservation,
  * and the shuffle-free plan the 100 TB maintenance story depends on.
  */
class CompactionSpec extends SparkSpec {

  private def tmp(): String =
    Scratch.dir("spec-compact").toString

  test("compaction collapses files toward the target size, rows exact") {
    val root = tmp()
    val docs = Tables.load(spark, sf0001, "documents")
    docs.repartition(32).write.parquet(s"$root/frag")
    val (nIn, bytes) = Compaction.layoutOf(spark, s"$root/frag")
    assert(nIn == 32)
    val (before, planned) = Compaction.compact(
      spark, s"$root/frag", s"$root/out",
      targetFileBytes = math.max(bytes / 3, 1L))
    assert(before == 32)
    assert(planned >= 3 && planned <= 4, s"planned $planned files")
    val (nOut, _) = Compaction.layoutOf(spark, s"$root/out")
    assert(nOut == planned, s"wrote $nOut files, planned $planned")
    // layout change only: exact multiset of rows survives
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == docs.count())
    assert(out.exceptAll(docs).isEmpty && docs.exceptAll(out).isEmpty)
  }

  test("planFileCount: ceil semantics and floor of 1") {
    assert(Compaction.planFileCount(0L, 100L) == 1)
    assert(Compaction.planFileCount(100L, 100L) == 1)
    assert(Compaction.planFileCount(101L, 100L) == 2)
    assert(Compaction.planFileCount(1000L, 100L) == 10)
  }

  test("the rewrite plan is scan → coalesce, no exchange") {
    val root = tmp()
    Tables.load(spark, sf0001, "documents")
      .repartition(8).write.parquet(s"$root/frag")
    withPlans(Compaction.compact(spark, s"$root/frag", s"$root/out",
        targetFileBytes = 1L << 20)) { plans =>
      // the fixture write above can reach the listener late: pick the
      // compaction's own write by its output path
      val p = plans.find(q => q.contains("InsertIntoHadoopFsRelationCommand")
        && q.contains(s"$root/out"))
      assert(p.exists(_.contains("Coalesce")), s"no coalesce:\n$plans")
      assert(!p.exists(_.contains("Exchange")), s"unexpected shuffle:\n$p")
    }
  }
}
