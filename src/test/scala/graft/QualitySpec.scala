package graft

import org.apache.spark.sql.functions._

import graft.ops.{IncrementalAgg, Quality}
import graft.sources.Versioned

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("Quality.report counts row-local, uniqueness, and FK violations") {
    val df = Seq(
      (1L, Some(10), "a"), (2L, Some(-5), "a"),
      (2L, None, "b"), (3L, Some(7), "zz")).toDF("k", "v", "ref")
    val ref = Seq("a", "b").toDF("r")
    val out = Quality.report(df, Seq(
      Quality.Check("v_positive", col("v") > 0),
      Quality.Unique("k_unique", Seq("k")),
      Quality.ForeignKey("ref_known", "ref", ref, "r")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // v_positive: -5 fails, null fails → 2; k=2 duplicated once; 'zz' unknown
    assert(out == Map("v_positive" -> 2L, "k_unique" -> 1L,
      "ref_known" -> 1L))
  }

  test("Quality.report returns 0 (not null) violations on an empty input") {
    val empty = Seq.empty[(Long, String)].toDF("k", "ref")
    val out = Quality.report(empty, Seq(
      Quality.Check("k_positive", col("k") > 0),
      Quality.Unique("k_unique", Seq("k"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("k_positive" -> 0L, "k_unique" -> 0L))
  }

  test("Quality row-local rules share one scan (one aggregate, no union " +
    "of scans per rule)") {
    val df = Tables.load(spark, sf0001, "orders")
    val plan = Quality.report(df, Seq(
      Quality.Check("a", col("o_totalprice") > 0),
      Quality.Check("b", col("o_orderstatus").isNotNull),
      Quality.Check("c", col("o_custkey") > 0)))
      .queryExecution.executedPlan.toString
    // all three conditional counts ride a single scan of orders
    assert(plan.split("Scan parquet").length - 1 == 1,
      s"expected exactly one scan:\n$plan")
  }

  test("IncrementalAgg.joinViewDelta: view + delta equals the " +
       "from-scratch join under appends on both sides") {
    import spark.implicits._
    val l = (0L until 60L).map(i => (i % 9, i)).toDF("k", "lv")
    val r = (0L until 25L).map(i => (i % 9, i * 100)).toDF("k", "rv")
    val (lOld, lNew) = (l.where($"lv" % 4 =!= 0), l.where($"lv" % 4 === 0))
    val (rOld, rNew) = (r.where($"rv" % 3 =!= 0), r.where($"rv" % 3 === 0))
    val vOld = lOld.join(rOld, Seq("k"))
    val maintained = vOld.unionByName(
      IncrementalAgg.joinViewDelta(lOld, lNew, rOld, rNew, Seq("k")))
    val scratch = l.join(r, Seq("k"))
    assert(maintained.exceptAll(scratch).count() === 0L)
    assert(scratch.exceptAll(maintained).count() === 0L)
    assert(scratch.count() > vOld.count(), "deltas added no rows")
  }

  test("IncrementalAgg.merge equals full re-aggregation") {
    val ev = Tables.load(spark, sf0001, "events").select(
      col("user_id"), col("ts"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val cut = ev.agg(expr("percentile_approx(ts, 0.5)")).head().getLong(0)
    val base = IncrementalAgg.snapshot(
      ev.where(col("ts") < cut), Seq("user_id"), Seq("cents"))
    val merged = IncrementalAgg.merge(base, ev.where(col("ts") >= cut),
      Seq("user_id"), Seq("cents"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val full = IncrementalAgg.snapshot(ev, Seq("user_id"), Seq("cents"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(merged == full)
  }

  test("Versioned.diff classifies added/removed/changed") {
    val t = Scratch.dir("spec-diff").toString + "/t"
    Versioned.write(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v"), t)
    Versioned.write(Seq((2L, "y"), (3L, "Z"), (4L, "w")).toDF("k", "v"), t)
    val d = Versioned.diff(spark, t, Seq("k"), 1, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }
}
