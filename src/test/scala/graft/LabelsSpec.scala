package graft

import graft.ops.Labels

class LabelsSpec extends SparkSpec {
  import spark.implicits._

  private def ann = Seq(
    (1L, "a1", "pos"), (1L, "a2", "pos"), (1L, "a3", "neg"),
    (2L, "a1", "neg"), (2L, "a2", "pos"), // tie -> lexicographic "neg"
    (3L, "a1", "neu")
  ).toDF("item", "annotator", "label")

  test("majorityVote picks the most-voted label with agreement") {
    val out = Labels.majorityVote(ann, "item", "label")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, "pos", 2L, 3L, 0.6667)))
    assert(out(3L) === ((3L, "neu", 1L, 1L, 1.0)))
  }

  test("majorityVote breaks ties to the lexicographically smallest label") {
    val out = Labels.majorityVote(ann, "item", "label")
      .where($"item" === 2L).as[(Long, String, Long, Long, Double)].head()
    assert(out === ((2L, "neg", 1L, 2L, 0.5)))
  }

  test("fleissKappa: hand-computed values, perfect agreement, and the " +
    "degenerate single-category / unequal-n guards") {
    def kap(rows: Seq[(Long, String)]): (Long, Long, Option[Double],
        Double, Option[Double]) = {
      val out = Labels.fleissKappa(
        rows.toDF("item", "label"), "item", "label").head()
      (out.getLong(0), out.getLong(1),
        if (out.isNullAt(2)) None else Some(out.getDouble(2)),
        out.getDouble(3),
        if (out.isNullAt(4)) None else Some(out.getDouble(4)))
    }
    // item1 {A,A}, item2 {A,B}: S=2, T=4, P=0.5; U=10, V=16, Pe=0.625;
    // kappa = (2*16-10*4)/(4*(16-10)) = -8/24 = -0.333333
    assert(kap(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "B"))) ==
      ((2L, 2L, Some(0.5), 0.625, Some(-0.333333))))
    // perfect two-category agreement: kappa = 1
    assert(kap(Seq((1L, "A"), (1L, "A"), (2L, "B"), (2L, "B"))) ==
      ((2L, 2L, Some(1.0), 0.5, Some(1.0))))
    // every vote one category: V == U, kappa undefined -> null
    assert(kap(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "A")))._5.isEmpty)
    // unequal per-item annotator counts -> null kappa, p_bar still set
    assert(kap(Seq((1L, "A"), (1L, "B"), (1L, "A"), (2L, "A"),
      (2L, "B")))._5.isEmpty)
  }
}
