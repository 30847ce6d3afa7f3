package graft

import org.apache.spark.sql.functions._
import graft.operators.Selection

class SelectionSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    // target slice: shares the "alpha beta" phrase family
    (1L, "alpha beta gamma alpha beta", true),
    (2L, "alpha beta delta alpha beta", true),
    // raw docs: one target-like, one alien, one too short for bigrams
    (3L, "alpha beta gamma delta", false),
    (4L, "zig zag zig zag zig zag", false),
    (5L, "word", false)
  ).toDF("id", "text", "tgt")

  test("dsirWeights ranks target-like docs above alien ones; gram-less docs weigh 0") {
    val w = Selection.dsirWeights(corpus, "text", "id", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(w(5L) == 0L) // one token -> no bigrams -> exactly zero
    assert(w(3L) > w(4L)) // target-phrase doc above the alien-vocab doc
    assert(w(1L) > w(4L) && w(2L) > w(4L)) // targets above the alien too
    assert(w(4L) < 0L) // grams never seen in target: negative log-ratio
  }

  test("dsirWeights matches the formula replayed serially on the same hash") {
    val got = Selection
      .dsirWeights(corpus, "text", "id", col("tgt"), n = 2, buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def hash32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val occ = rows.flatMap { case (id, text, tgt) =>
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      t.sliding(2).filter(_.size == 2)
        .map(g => (id, tgt, hash32(g.mkString(" ")) % 256)).toSeq
    }
    val ct = occ.filter(_._2).groupBy(_._3).map { case (b, o) => b -> o.size.toLong }
    val cr = occ.groupBy(_._3).map { case (b, o) => b -> o.size.toLong }
    val nt = ct.values.sum; val nr = cr.values.sum
    val lr = cr.keys.map { b =>
      val num = (ct.getOrElse(b, 0L) + 1L) * (nr + 256L)
      val den = (cr(b) + 1L) * (nt + 256L)
      b -> BigDecimal(math.log(num.toDouble / den.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    val ref = rows.map { case (id, _, _) =>
      id -> occ.filter(_._1 == id).map(o => lr(o._3)).sum
    }.toMap
    assert(got === ref)
  }

  test("selectByWeight keeps exactly k with the (w DESC, id) tie-break") {
    val w = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 5L), (5L, 20L))
      .toDF("id", "w_micro")
    val sel = Selection.selectByWeight(w, keep = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // 5 (w=20), then the w=10 tie resolves to smaller ids first
    assert(sel == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> true))
  }

  test("selectByWeight with keep beyond the corpus selects everything") {
    val w = Seq((1L, 1L), (2L, 2L)).toDF("id", "w_micro")
    val sel = Selection.selectByWeight(w, keep = 10)
      .collect().map(r => r.getBoolean(2))
    assert(sel.forall(identity))
  }

  test("scoreWithModel over the trained model reproduces dsirWeights") {
    // the serve/batch equivalence that lets a stored (bucket, lr)
    // model score streams without retraining
    val batch = Selection.dsirWeights(corpus, "text", "id", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val model = Selection.dsirModel(corpus, "text", "id", col("tgt"))
    val served = Selection.scoreWithModel(corpus, "text", "id", model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === batch)
  }

  test("dsirModel is bounded by the bucket count and covers every occupied bucket") {
    val model = Selection
      .dsirModel(corpus, "text", "id", col("tgt"), buckets = 16)
      .collect().map(r => r.getLong(0)).toSeq
    assert(model.size <= 16)
    assert(model.distinct.size == model.size)
    assert(model.forall(b => b >= 0 && b < 16))
  }

  test("dsirSelect is bit-identical under repartitioning") {
    def select(c: org.apache.spark.sql.DataFrame) = Selection
      .selectByWeight(Selection.dsirWeights(c, "text", "id", col("tgt")),
        keep = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val a = select(corpus)
    assert(a == select(corpus.repartition(7)))
    assert(a.count(_._3) == 2)
  }

  // ------------------------------------------------- quota waterfilling

  private def waterfill(ws: Seq[(String, Long)], cap: Long) =
    Selection.quotaWaterfill(ws.toDF("g", "w"), "g", "w",
        budgetMicro = 1000000L, capMicro = cap)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3)))
      .toMap

  test("quotaWaterfill: no cap binding means pure proportional shares") {
    val r = waterfill(Seq(("a", 10L), ("b", 10L), ("c", 20L)), 600000L)
    assert(r("a") == (250000L, false))
    assert(r("b") == (250000L, false))
    assert(r("c") == (500000L, false))
  }

  test("quotaWaterfill: a dominant group freezes at the cap and its " +
    "excess re-flows proportionally") {
    // raw shares 40/30/15/15, cap 35%: only 'a' freezes; the other
    // three split the remaining 65% in their 30:15:15 proportion
    val r = waterfill(
      Seq(("a", 40L), ("b", 30L), ("c", 15L), ("d", 15L)), 350000L)
    assert(r("a") == (350000L, true))
    assert(r("b") == (325000L, false))
    assert(r("c") == (162500L, false) && r("d") == (162500L, false))
    assert(r.values.map(_._1).sum == 1000000L)
  }

  test("quotaWaterfill: a CASCADE — the second group only crosses the " +
    "cap after the first one's excess re-flows") {
    // shares 50/24/13/13, cap 25%: round 1 freezes only 'a' (24% is
    // under the cap); round 2's re-flow pushes 'b' to 36% → freezes;
    // round 3 splits the final 50% across the two 13% groups
    val r = waterfill(
      Seq(("a", 50L), ("b", 24L), ("c", 13L), ("d", 13L)), 250000L)
    assert(r("a") == (250000L, true))
    assert(r("b") == (250000L, true))
    assert(r("c") == (250000L, false) && r("d") == (250000L, false))
    assert(r.values.map(_._1).sum == 1000000L)
  }

  test("quotaWaterfill allocations never exceed the cap and sum to at " +
    "most the budget") {
    val r = waterfill(
      Seq(("a", 97L), ("b", 31L), ("c", 7L), ("d", 3L), ("e", 1L)),
      300000L)
    assert(r.values.forall(_._1 <= 300000L))
    val total = r.values.map(_._1).sum
    assert(total <= 1000000L && total > 990000L, s"total $total")
  }

  test("quotaWaterfill invariants hold on random feasible weight sets") {
    val rng = new scala.util.Random(90210L)
    for (trial <- 0 until 5) {
      val n = 3 + rng.nextInt(8)
      val cap = 1000000L / 3 + 1 // n*cap >= budget for n >= 3: feasible
      val ws = (0 until n).map(i =>
        (s"g$i", 1L + rng.nextInt(1000000).toLong))
      val r = waterfill(ws, cap)
      // cap respected, budget never exceeded, nothing negative
      assert(r.values.forall { case (a, _) => a >= 0L && a <= cap })
      val total = r.values.map(_._1).sum
      assert(total <= 1000000L, s"trial $trial overallocated: $total")
      // truncation loss only: within n units per unfrozen group
      assert(total > 1000000L - 10L * n, s"trial $trial underallocated: $total")
      // monotone: a group with more raw weight never gets less
      val sorted = ws.sortBy(_._2).map(_._1)
      sorted.zip(sorted.tail).foreach { case (lo, hi) =>
        assert(r(lo)._1 <= r(hi)._1, s"trial $trial not monotone")
      }
    }
  }
}
