package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.TextEval

class TextEvalSpec extends SparkSpec {
  import spark.implicits._

  test("rougeBleuReport matches a hand-computed pair") {
    // cand: the cat the cat sat (5 toks)  ref: the cat sat on the mat (6)
    // clip1 = min(2,2)+min(2,1)+min(1,1) = 4
    // bigrams: cand {the cat:2, cat the:1, cat sat:1}  ref: 5 distinct ×1
    // clip2 = min(2,1)["the cat"] + min(1,1)["cat sat"] = 2
    val pairs = Seq((1L, "the cat the cat sat", "the cat sat on the mat"))
      .toDF("id", "cand", "ref")
    val r = TextEval.rougeBleuReport(pairs, "id", "cand", "ref").head()
    assert(r.getLong(1) == 8000L)              // p1 = 4e4 div 5
    assert(r.getLong(2) == 6666L)              // r1 = 4e4 div 6
    assert(r.getLong(3) == 2L * 8000 * 6666 / (8000 + 6666)) // 7272
    assert(r.getLong(4) == 5000L)              // p2 = 2e4 div 4
    assert(r.getLong(5) == 4000L)              // r2 = 2e4 div 5
    assert(r.getLong(6) == 4444L)              // f2
    assert(r.getLong(7) == 8333L)              // brevity 5e4 div 6
    assert(r.getLong(8) == 8000L * 5000L)      // bleu2 squared
  }

  test("identical pair scores perfect; disjoint pair scores zero") {
    val pairs = Seq(
      (1L, "a b c d", "a b c d"),
      (2L, "x y z", "p q r s")).toDF("id", "cand", "ref")
    val rows = TextEval.rougeBleuReport(pairs, "id", "cand", "ref")
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 10000L && rows(0).getLong(3) == 10000L &&
      rows(0).getLong(6) == 10000L && rows(0).getLong(7) == 10000L)
    assert(rows(1).getLong(1) == 0L && rows(1).getLong(3) == 0L &&
      rows(1).getLong(6) == 0L)
  }

  test("single-token sides have zero bigrams, no nulls anywhere") {
    val pairs = Seq((1L, "word", "word"), (2L, "word", "other two"))
      .toDF("id", "cand", "ref")
    val rows = TextEval.rougeBleuReport(pairs, "id", "cand", "ref")
      .orderBy("id").collect()
    rows.foreach(r => (1 to 8).foreach(i => assert(!r.isNullAt(i))))
    assert(rows(0).getLong(1) == 10000L) // unigram perfect
    assert(rows(0).getLong(4) == 0L)     // p2: no bigrams → clip 0 div 1
  }

  test("wordGrams guards the short case (Spark sequence would descend)") {
    val df = Seq(("one two", "x")).toDF("a", "b")
    val r = df.select(TextFns.wordGrams(TextFns.words($"a"), 3).as("ga"),
      TextFns.wordGrams(TextFns.words($"b"), 2).as("gb")).head()
    assert(r.getSeq[String](0).isEmpty && r.getSeq[String](1).isEmpty)
  }

  test("repetitionReport: top bigram + no duplicated 5-grams") {
    val df = Seq((1L, "a b a b a b c")).toDF("doc_id", "text")
    val r = TextEval.repetitionReport(df, "text", "doc_id").head()
    assert(r.getString(1) == "a b" && r.getLong(2) == 3L)
    assert(r.getLong(3) == 3L * 2 * 10000 / 7)  // 8571
    assert(r.getLong(4) == 0L)                  // all 5-grams distinct
    assert(r.getLong(5) == 7L)
  }

  test("repetitionReport: overlapping duplicated 5-grams cover by UNION") {
    // 8 tokens; both 5-grams repeat with overlapping instances at
    // 1,2,3,4 → union [1,9) = all 8 tokens, not 4·5 = 20
    val df = Seq((1L, "x y x y x y x y")).toDF("doc_id", "text")
    val r = TextEval.repetitionReport(df, "text", "doc_id").head()
    assert(r.getLong(4) == 10000L)
    assert(r.getString(1) == "x y" && r.getLong(2) == 4L)
    assert(r.getLong(3) == 10000L)
  }

  test("repetitionReport: short docs produce zero metrics, not nulls") {
    val df = Seq((1L, "solo")).toDF("doc_id", "text")
    val r = TextEval.repetitionReport(df, "text", "doc_id").head()
    assert(r.getString(1) == "" && r.getLong(2) == 0L &&
      r.getLong(3) == 0L && r.getLong(4) == 0L && r.getLong(5) == 1L)
  }

  test("x_gopher_repetition lane: the planted 3x phrase registers everywhere") {
    val q = SparkEntry.queries("x_gopher_repetition")
    val df = q(spark, sf0001).cache()
    try {
      assert(df.count() == Tables.load(spark, sf0001, "documents").count())
      assert(df.filter($"dup5_cov_bp" === 0L).count() == 0)
      assert(df.filter($"top2_n" < 3L).count() == 0)
    } finally df.unpersist()
  }

  test("rougeBleuReportN maxN=4: identical pair is perfect everywhere") {
    val pairs = Seq((1L, "a b c d e", "a b c d e")).toDF("id", "cand", "ref")
    val r = TextEval.rougeBleuReportN(pairs, "id", "cand", "ref", 4).head()
    // p1..p4, r1..r4, f1..f4 all 10000; products are exact powers
    (1 to 12).foreach(i => assert(r.getLong(i) == 10000L, s"col $i"))
    assert(r.getLong(13) == 10000L)                    // brevity
    assert(r.getLong(14) == 10000L * 10000L)           // bleu2_sq
    assert(r.getLong(15) == 10000L * 10000L * 10000L)  // bleu3_cube
    assert(r.getLong(16) == 10000L * 10000L * 10000L * 10000L) // 10^16
  }

  test("rougeBleuReportN maxN=4 hand pair: the clip ladder decays to zero") {
    // cand: a b c d   ref: a b x c d
    // clip1=4 clip2=2 (ab, cd) clip3=0 clip4=0
    val pairs = Seq((1L, "a b c d", "a b x c d")).toDF("id", "cand", "ref")
    val r = TextEval.rougeBleuReportN(pairs, "id", "cand", "ref", 4)
      .head()
    val m = r.schema.fieldNames.zipWithIndex.toMap
    assert(r.getLong(m("p1_bp")) == 10000L)
    assert(r.getLong(m("r1_bp")) == 8000L)
    assert(r.getLong(m("p2_bp")) == 6666L)   // 2e4 div 3
    assert(r.getLong(m("r2_bp")) == 5000L)
    assert(r.getLong(m("p3_bp")) == 0L && r.getLong(m("f3_bp")) == 0L)
    assert(r.getLong(m("p4_bp")) == 0L && r.getLong(m("f4_bp")) == 0L)
    assert(r.getLong(m("brevity_bp")) == 8000L)
    assert(r.getLong(m("bleu4_pow4_bp4")) == 0L)
  }

  test("rougeLReport matches hand-computed LCS") {
    // cand: the cat the cat sat (5)  ref: the cat sat on the mat (6)
    // LCS = [the, cat, sat] (or [the, cat, the]) = 3
    val pairs = Seq(
      (1L, "the cat the cat sat", "the cat sat on the mat"),
      (2L, "a b c", "a b c"),
      (3L, "x y", "p q")).toDF("id", "cand", "ref")
    val rows = TextEval.rougeLReport(pairs, "id", "cand", "ref")
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 3L)
    assert(rows(0).getLong(4) == 6000L)   // 3e4 div 5
    assert(rows(0).getLong(5) == 5000L)   // 3e4 div 6
    assert(rows(0).getLong(6) == 2L * 6000 * 5000 / 11000) // 5454
    assert(rows(1).getLong(1) == 3L && rows(1).getLong(6) == 10000L)
    assert(rows(2).getLong(1) == 0L && rows(2).getLong(6) == 0L)
  }

  test("native LCS == textbook DP on random token arrays") {
    def ref(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(17)
    val cases = (1 to 120).map { i =>
      def arr() = Seq.fill(rnd.nextInt(10))("abc" (rnd.nextInt(3)).toString)
      val (a, b) = (arr(), arr())
      (i.toLong, a, b)
    }
    val df = cases.map { case (i, a, b) => (i, a.mkString(" "), b.mkString(" ")) }
      .toDF("id", "cand", "ref")
    val got = TextEval.rougeLReport(df, "id", "cand", "ref")
      .select($"id", $"lcs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (i, a, b) =>
      // the operator tokenizes the joined strings: empty arrays
      // re-tokenize to [""], so mirror that in the reference
      val at = if (a.isEmpty) Seq("") else a
      val bt = if (b.isEmpty) Seq("") else b
      assert(got(i) == ref(at, bt).toLong, s"a=$a b=$b")
    }
  }

  test("repetitionBattery: hand-computed line + gram battery") {
    // lines: "x y" x2 (dup) + "z z z z z z"; tokens: x y x y z*6 = 10
    val df = Seq((1L, "x y\nx y\nz z z z z z")).toDF("doc_id", "text")
    val r = TextEval.repetitionBattery(df, "text", "doc_id").head()
    val m = r.schema.fieldNames.zipWithIndex.toMap
    assert(r.getLong(m("n_tokens")) == 10L)
    assert(r.getLong(m("n_lines")) == 3L)
    assert(r.getLong(m("dup_line_bp")) == 2L * 10000 / 3)      // 6666
    assert(r.getLong(m("dup_line_char_bp")) == 6L * 10000 / 17) // 3529
    assert(r.getLong(m("top2_tok_bp")) == 10000L)  // "z z" x5 of 10
    assert(r.getLong(m("top3_tok_bp")) == 12000L)  // "z z z" x4
    assert(r.getLong(m("top4_tok_bp")) == 12000L)  // "z z z z" x3
    assert(r.getLong(m("dup5_cov_bp")) == 6000L)   // [5,11) of 10
  }

  test("repetitionReport plans exactly one gram explode (judge item: " +
    "the 5-gram stream used to explode twice)") {
    val df0 = Seq((1L, "a b a b a b c"), (2L, "x y x y z"))
      .toDF("doc_id", "text")
    val rep = TextEval.repetitionReport(df0, "text", "doc_id")
    val plan = rep.queryExecution.executedPlan.toString
    // the gram stream is a LINEAR window chain, not a diamond: a
    // branch per signal would re-run the explode under each consumer
    // (column pruning specializes the copies, so exchange reuse cannot
    // merge them). Exactly ONE Generate = one full-text explode.
    val generates = "Generate".r.findAllIn(plan).size
    assert(generates == 1, s"$generates generates:\n$plan")
  }

  test("chrFReport matches a hand-computed pair; identical is perfect") {
    // fold: 'a b' -> 'ab' vs 'abc'. n=1: clip 2/2/3 -> p=10000 r=6666
    // n=2: {ab} vs {ab,bc} -> p=10000 r=5000; n>=3: zero.
    // F2 terms: 5pr div (4p+r) = 7142, 5555, 0... -> chrf2 = 12697/6
    val pairs = Seq(
      (1L, "a b", "ABC"),
      (2L, "same text here", "same   text here")).toDF("id", "cand", "ref")
    val rows = graft.operators.TextEval
      .chrFReport(pairs, "id", "cand", "ref").orderBy("id").collect()
    val m = rows(0).schema.fieldNames.zipWithIndex.toMap
    assert(rows(0).getLong(m("p1_bp")) == 10000L)
    assert(rows(0).getLong(m("r1_bp")) == 6666L)
    assert(rows(0).getLong(m("p2_bp")) == 10000L)
    assert(rows(0).getLong(m("r2_bp")) == 5000L)
    assert(rows(0).getLong(m("p3_bp")) == 0L)
    assert(rows(0).getLong(m("chrf2_bp")) ==
      (5L * 10000 * 6666 / 46666 + 5L * 10000 * 5000 / 45000) / 6)
    // whitespace-agnostic: differing spacing folds identical -> perfect
    assert(rows(1).getLong(m("chrf2_bp")) == 10000L)
    (1 to 12).foreach(i => assert(rows(1).getLong(i) == 10000L))
  }

  test("tokenEditReport matches hand-computed distances") {
    // [kitten sat on mat] vs [sitting sat mat]:
    //   sub kitten→sitting + delete "on" = 2 edits
    val pairs = Seq(
      (1L, "kitten sat on mat", "sitting sat mat"),
      (2L, "a b c d", "a b c d"),
      (3L, "x y z", "p q")).toDF("id", "cand", "ref")
    val rows = TextEval.tokenEditReport(pairs, "id", "cand", "ref")
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 2L)     // edits
    assert(rows(0).getLong(2) == 4L && rows(0).getLong(3) == 3L)
    assert(rows(0).getLong(4) == 6666L)  // 2e4 div 3
    assert(rows(1).getLong(1) == 0L && rows(1).getLong(4) == 0L)
    assert(rows(2).getLong(1) == 3L)     // 2 subs + 1 delete
    assert(rows(2).getLong(4) == 15000L) // WER exceeds 10⁴, documented
  }

  test("graft_tok_edit agrees with a reference DP on random token arrays") {
    def ref(a: Seq[String], b: Seq[String]): Long = {
      var prev = (0 to b.length).toArray
      for (i <- a.indices) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i + 1
        for (j <- b.indices)
          cur(j + 1) = math.min(math.min(prev(j + 1) + 1, cur(j) + 1),
            prev(j) + (if (a(i) == b(j)) 0 else 1))
        prev = cur
      }
      prev(b.length).toLong
    }
    val rnd = new scala.util.Random(4711)
    val alphabet = Vector("aa", "bb", "cc", "dd")
    val cases = (1 to 60).map { i =>
      def arr() = Seq.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(4)))
      (i.toLong, arr(), arr())
    }
    val got = cases.toDF("id", "a", "b")
      .select($"id", graft.functions.native.NativeFns
        .tokenEdit($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, a, b) =>
      assert(got(id) == ref(a, b), s"case $id: $a vs $b")
    }
  }

  test("graft_tok_edit null semantics: null side → null, null token never matches") {
    val r = spark.sql(
      "SELECT graft_tok_edit(array('a', CAST(NULL AS STRING)), " +
        "array('a', 'b')) AS d, " +
        "graft_tok_edit(CAST(NULL AS ARRAY<STRING>), array('a')) AS n")
      .head()
    assert(r.getLong(0) == 1L) // null vs 'b' costs one substitution
    assert(r.isNullAt(1))
  }

  test("x_token_edit lane: sorted-prefix reference varies per doc") {
    val q = SparkEntry.queries("x_token_edit")
    val df = q(spark, sf0001).cache()
    try {
      assert(df.count() == Tables.load(spark, sf0001, "documents").count())
      // cand and ref are permutations of the same multiset, so the
      // distance is bounded by the token count and never negative
      assert(df.filter($"edits" > $"n_ref").count() == 0)
      assert(df.select(countDistinct($"edits")).head().getLong(0) >= 2)
    } finally df.unpersist()
  }

  test("x_rouge_bleu lane: near-dup candidate keeps recall below precision") {
    val q = SparkEntry.queries("x_rouge_bleu")
    val df = q(spark, sf0001).cache()
    try {
      assert(df.count() == Tables.load(spark, sf0001, "documents").count())
      // cand = ref minus its first chars → never more tokens than ref,
      // so recall ≤ precision and brevity ≤ 10000 on every pair
      assert(df.filter($"r1_bp" > $"p1_bp").count() == 0)
      assert(df.filter($"brevity_bp" > 10000L).count() == 0)
      assert(df.filter($"f1_bp" > 0L).count() > 0)
    } finally df.unpersist()
  }
}
