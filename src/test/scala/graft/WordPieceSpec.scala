package graft

import org.apache.spark.sql.functions._

import graft.operators.WordPiece

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  test("trainMerges replays a hand-computed likelihood argmax") {
    // corpus: "aab"×3, "ab"×2.  Initial symbols: a:5, ##a:3, ##b:5.
    // round 1 pairs: (a,##a):3 score 3/15; (##a,##b):3 score 3/15;
    //   (a,##b):2 score 2/25 — tie on 0.2, lhs asc: "##a" < "a"
    //   → merge (##a,##b) = ##ab
    // round 2: a:5, ##ab:3, ##b:2; (a,##ab):3 score 3/15 ties
    //   (a,##b):2 score 2/10 — rhs asc: ##ab < ##b → (a,##ab) = aab
    // round 3: a:2, ##b:2, aab:3; only (a,##b):2 score 2/4
    val docsDf = Seq((1L, "aab aab aab ab ab")).toDF("doc_id", "text")
    val m = WordPiece.trainMerges(docsDf, "text", 3)
      .orderBy("ord").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(m(0) == ((1L, "##a", "##b", 3L, 3L, 5L)))
    assert(m(1) == ((2L, "a", "##ab", 3L, 5L, 3L)))
    assert(m(2) == ((3L, "a", "##b", 2L, 2L, 2L)))
  }

  test("trainMerges ends early when no pair is left to fuse") {
    // one distinct word "ab": round 1 fuses it whole; rounds 2-3 have
    // no adjacent pair — the trainer returns the single learned merge
    // instead of failing on an empty argmax
    val docsDf = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val m = WordPiece.trainMerges(docsDf, "text", 3).collect()
    assert(m.length == 1)
    assert(m(0).getString(1) == "a" && m(0).getString(2) == "##b")
    // fully ineligible corpus (every word carries '#') → zero merges
    assert(WordPiece.trainMerges(
      Seq((1L, "a#b c#d")).toDF("doc_id", "text"), "text", 2)
      .count() == 0L)
  }

  test("finalSymbols drops fully-fused characters (observed-symbol vocab)") {
    val docsDf = Seq((1L, "aab aab aab ab ab")).toDF("doc_id", "text")
    val merges = Seq(("##a", "##b"), ("a", "##ab"), ("a", "##b"))
    // after the three merges every word is one symbol: {aab, ab} —
    // the single chars and continuation forms no longer occur
    assert(WordPiece.finalSymbols(docsDf, "text", merges) ==
      Seq("aab", "ab"))
  }

  test("segmentWords: greedy longest-match, continuation forms, [UNK] collapse") {
    val vocab = Seq("a", "##a", "##b", "ab")
    val words = Seq("aab", "ab", "ba", "abx", "a").toDF("word")
    val got = WordPiece.segmentWords(words, "word", vocab)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "aab": initial longest is "a" ("aa" ∉ vocab), then ##a, ##b
    assert(got("aab") == (("a\u001f##a\u001f##b", 3L, 0L)))
    // "ab": whole-word piece wins over a+##b (longest-first)
    assert(got("ab") == (("ab", 1L, 0L)))
    // "ba": 'b' has no word-INITIAL form → whole word degrades
    assert(got("ba") == (("[UNK]", 1L, 1L)))
    // "abx": matches "ab" then dies at 'x' → all-or-nothing [UNK]
    assert(got("abx") == (("[UNK]", 1L, 1L)))
    assert(got("a") == (("a", 1L, 0L)))
  }

  test("greedy segmentation agrees with a reference walk on random words") {
    val rnd = new scala.util.Random(2026)
    val pieces = Seq("a", "b", "c", "ab", "bc", "abc",
      "##a", "##b", "##c", "##ab", "##ca")
    def ref(w: String): Seq[String] = {
      val init = pieces.filter(!_.startsWith("##")).toSet
      val cont = pieces.filter(_.startsWith("##")).map(_.drop(2)).toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val set = if (pos == 0) init else cont
        val len = (math.min(4, w.length - pos) to 1 by -1)
          .find(l => set.contains(w.substring(pos, pos + l)))
        len match {
          case None => return Seq("[UNK]")
          case Some(l) =>
            val p = w.substring(pos, pos + l)
            out += (if (pos == 0) p else "##" + p)
            pos += l
        }
      }
      out.toSeq
    }
    val words = (1 to 80).map(_ =>
      (1 to (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(4)).toChar)
        .mkString) // includes 'd' → exercises [UNK]
    val got = WordPiece
      .segmentWords(words.distinct.toDF("word"), "word", pieces)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    words.distinct.foreach { w =>
      assert(got(w) == ref(w).mkString("\u001f"), s"word $w")
    }
  }

  test("malformed vocabularies fail at analysis, not mid-job") {
    val df = Seq("abc").toDF("word")
    def run(vocab: String): Unit =
      df.selectExpr(s"graft_wordpiece_segment(word, $vocab)").collect()
    val bare = intercept[org.apache.spark.sql.AnalysisException](
      run("array('a', '##')"))
    assert(bare.getMessage.contains("##"))
    intercept[org.apache.spark.sql.AnalysisException](
      run("array('a', '')"))
    intercept[org.apache.spark.sql.AnalysisException](
      run("CAST(NULL AS ARRAY<STRING>)"))
    intercept[org.apache.spark.sql.AnalysisException](
      run("array(word)")) // non-foldable
  }

  test("x_wordpiece lanes return plausible shapes on sf0.001") {
    val train = SparkEntry.queries("x_wordpiece_train")(spark, sf0001)
    val rows = train.orderBy("ord").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L) // pair_count
      assert(r.getLong(4) >= r.getLong(3)) // lhs_count ≥ pair_count
      assert(r.getLong(5) >= r.getLong(3))
    }
    val apply = SparkEntry
      .queries("x_wordpiece_apply")(spark, sf0001).cache()
    try {
      assert(apply.count() > 0)
      // every non-UNK word reassembles from its pieces
      val bad = apply.where($"is_unk" === 0L &&
        translate(translate($"pieces", "\u001f", ""), "#", "")
          =!= translate($"word", "#", "")).count()
      assert(bad == 0L)
    } finally apply.unpersist()
  }
}
