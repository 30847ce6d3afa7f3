package graft

import org.apache.spark.sql.functions._

import graft.functions.native.{AhoAutomaton, NativeFns}
import graft.operators.Blocklist

class BlocklistSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force all-occurrences count: #{i : s.substring(i).startsWith(t)}. */
  private def brute(text: String, terms: Seq[String]): Seq[Long] =
    terms.map { t =>
      (0 to text.length - t.length)
        .count(i => text.regionMatches(i, t, 0, t.length)).toLong
    }

  test("automaton counts overlapping and nested matches") {
    val terms = Seq("ana", "nana", "a", "banana")
    val counts = new Array[Long](terms.size)
    AhoAutomaton.build(terms).scan("banana bananana", counts)
    // banana: ana@2,4  nana@3          bananana: ana@2,4,6  nana@3,5
    // and "banana" itself prefixes "bananana" — nested full-term hit
    assert(counts.toSeq == brute("banana bananana", terms))
    assert(counts.toSeq == Seq(5L, 3L, 7L, 2L))
  }

  test("automaton == brute force on adversarial small-alphabet strings") {
    val terms = Seq("a", "aa", "ab", "aba", "bab", "abab", "bb")
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(30))("ab" (rnd.nextInt(2))).mkString
      val counts = new Array[Long](terms.size)
      AhoAutomaton.build(terms).scan(s, counts)
      assert(counts.toSeq == brute(s, terms), s"text=$s")
    }
  }

  test("automaton == brute force under RANDOM dictionaries (failure-link " +
    "edges: shared prefixes, nested terms, suffix overlaps)") {
    val rnd = new scala.util.Random(23)
    def randTerm() =
      Seq.fill(1 + rnd.nextInt(4))("ab" (rnd.nextInt(2))).mkString
    (1 to 120).foreach { _ =>
      val terms = Seq.fill(2 + rnd.nextInt(6))(randTerm()).distinct
      val auto = AhoAutomaton.build(terms)
      val text = Seq.fill(rnd.nextInt(40))("ab" (rnd.nextInt(2))).mkString
      val counts = new Array[Long](terms.size)
      auto.scan(text, counts)
      assert(counts.toSeq == brute(text, terms),
        s"terms=$terms text=$text")
      // and the scrub walk agrees with the regex walk for the same dict
      val pattern = terms.sortBy(t => (-t.length, t)).mkString("|")
      val (masked, _) = auto.maskLeftmostLongest(
        text, terms.map(_.length).toArray, "_")
      assert(masked == text.replaceAll(pattern, "_"),
        s"terms=$terms text=$text")
    }
  }

  test("expression scans unicode text on UTF-16 code units, null-safe") {
    val df = Seq(Some("中文中文中"), Some(""), None).toDF("t")
    val r = df.select(
      NativeFns.ahoCounts($"t", Seq("中文", "文中", "量")).as("c"))
      .collect()
    assert(r(0).getSeq[Long](0) == Seq(2L, 2L, 0L))
    assert(r(1).getSeq[Long](0) == Seq(0L, 0L, 0L))
    assert(r(2).isNullAt(0))
  }

  test("non-foldable dictionary is a clean analysis failure") {
    val df = Seq(("x", Seq("x"))).toDF("t", "d")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function(NativeFns.AhoCountsName, $"t", $"d")).collect()
    }
    assert(ex.getMessage.contains("foldable"))
  }

  test("scanCounts emits only hit terms with ids and names") {
    val docs = Seq((1L, "merge the scan scan"), (2L, "nothing here"))
      .toDF("doc_id", "text")
    val r = Blocklist.scanCounts(docs, "text", "doc_id",
        Seq("merge", "scan", "qzx"))
      .orderBy("doc_id", "term_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getString(2),
      x.getLong(3))).toSeq ==
      Seq((1L, 0L, "merge", 1L), (1L, 1L, "scan", 2L)))
  }

  test("policyReport thresholds and single-scan shape") {
    val docs = Seq((1L, "bad bad bad bad"), (2L, "bad bad"), (3L, "ok"))
      .toDF("doc_id", "text")
    val rep = Blocklist.policyReport(docs, "text", "doc_id",
      Seq("bad"), reviewAt = 2L, blockAt = 4L)
    val r = rep.orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getString(3))).toSeq
    assert(r == Seq((1L, 1L, 4L, "block"), (2L, 1L, 2L, "review"),
      (3L, 0L, 0L, "pass")))
  }

  test("policy lane scans each document once (no re-inlined automaton)") {
    // the automaton projection must survive as its own project (one
    // scan per row), referenced — not re-inlined thrice — downstream;
    // parquet-backed input so ConvertToLocalRelation can't fold it
    val plan = SparkEntry.queries("x_blocklist_policy")(
      spark, sf0001).queryExecution.optimizedPlan.toString
    assert("graft_aho_counts".r.findAllIn(plan).size == 1, plan)
  }

  test("both blocklist lanes are zero-exchange row-local plans") {
    Seq(
      SparkEntry.queries("x_blocklist_scan"),
      SparkEntry.queries("x_blocklist_policy")
    ).foreach { q =>
      val df = q(spark, sf0001)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), physical)
      assert(df.count() > 0)
    }
  }

  test("scrub masks leftmost-longest non-overlapping, like the regex walk") {
    val terms = Seq("merge", "scan", "batch stream", "ana", "nana", "qzx")
    val df = Seq("banana bananana").toDF("text")
    val r = Blocklist.scrub(df, "text", terms, "<B>").head().getString(0)
    // banana: leftmost 'ana'@1 wins (not later 'nana'); bananana:
    // 'ana'@1 then the now-leftmost 'nana'@4
    assert(r == "b<B>na b<B><B>")
  }

  test("scrub == java-regex replaceAll with a length-desc alternation") {
    val terms = Seq("a", "ab", "aba", "bab", "nana", "ana", "b")
    val pattern = terms.sortBy(t => (-t.length, t)).mkString("|")
    val auto = AhoAutomaton.build(terms)
    val lens = terms.map(_.length).toArray
    val rnd = new scala.util.Random(11)
    (1 to 300).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(24))("abn" (rnd.nextInt(3))).mkString
      val (masked, _) = auto.maskLeftmostLongest(s, lens, "_X_")
      assert(masked == s.replaceAll(pattern, "_X_"), s"text=$s")
    }
  }

  test("x_blocklist_scrub masks the planted tail in every document") {
    val q = SparkEntry.queries("x_blocklist_scrub")
    val df = q(spark, sf0001)
    // ' banana bananana' always yields ana + (ana, nana) = 3 spans
    assert(df.filter($"n_masked" < 3).count() == 0)
    assert(df.filter(!$"clean_text".contains("<BLOCKED>")).count() == 0)
  }

  test("x_blocklist_scan finds the planted overlapping terms in every doc") {
    val q = SparkEntry.queries("x_blocklist_scan")
    val nDocs = Tables.load(spark, sf0001, "documents").count()
    val planted = q(spark, sf0001)
      .filter($"term" === "ana" && $"cnt" === 5L).count()
    assert(planted == nDocs) // ' banana bananana' → ana×5 everywhere
  }

  // ------------------------------------------------- analysis-time guards

  test("malformed literal dictionaries fail at ANALYSIS, not mid-job") {
    import graft.functions.native.NativeFns.{AhoCountsName, AhoScrubName}
    val df = Seq("x").toDF("t")
    def analysisMsg(c: org.apache.spark.sql.Column): String =
      intercept[org.apache.spark.sql.AnalysisException] {
        df.select(c).collect()
      }.getMessage
    // null dictionary (foldable null cast to the right type)
    assert(analysisMsg(call_function(AhoCountsName, $"t",
      lit(null).cast("array<string>"))).contains("must not be null"))
    // null element inside the literal array
    assert(analysisMsg(call_function(AhoCountsName, $"t",
      array(lit("ok"), lit(null).cast("string"))))
      .contains("element 1 must not be null"))
    // empty-string term (previously a lazy per-task require)
    assert(analysisMsg(call_function(AhoCountsName, $"t",
      array(lit("ok"), lit(""))))
      .contains("element 1 must not be the empty string"))
    // empty dictionary
    assert(analysisMsg(call_function(AhoCountsName, $"t",
      array().cast("array<string>"))).contains("must not be empty"))
    // scrub: null replacement is an analysis failure too
    assert(analysisMsg(call_function(AhoScrubName, $"t",
      array(lit("ok")), lit(null).cast("string")))
      .contains("replacement must not be null"))
    // operator-level guard: empty term refused at call time
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Blocklist.scanCounts(docs, "text", "doc_id", Seq("ok", ""))
    }
    assert(e.getMessage.contains("non-empty"))
  }

  // ------------------------------------------------- case/NFC folding

  test("CaseFold: case + decomposed accents fold onto composed lowercase") {
    import graft.functions.native.CaseFold
    assert(CaseFold.fold("BaNaNa") == "banana")
    assert(CaseFold.fold("CAFE\u0301") == "caf\u00e9")   // decomposed upper
    assert(CaseFold.fold("cafe\u0301") == "caf\u00e9")   // decomposed lower
    assert(CaseFold.fold("caf\u00c9") == "caf\u00e9")    // composed upper
    assert(CaseFold.fold("caf\u00e9") == "caf\u00e9")    // already folded
    // offset map: folded char i carries its original segment span
    val (f, os, oe) = CaseFold.foldWithMap("A cafe\u0301!")
    assert(f == "a caf\u00e9!")
    assert(f.length == os.length && f.length == oe.length)
    assert(os(0) == 0 && oe(0) == 1)       // 'A' -> [0,1)
    assert(os(5) == 5 && oe(5) == 7)       // folded e-acute -> "e" + mark
    assert(os(6) == 7 && oe(6) == 8)       // '!'
  }

  test("folded counts hit mixed case and both normal forms") {
    val docs = Seq((1L, "VIAGRA viagra ViAgRa plain")).toDF("doc_id", "text")
    val r = Blocklist.scanCounts(docs, "text", "doc_id",
      Seq("viagra"), fold = true).collect()
    assert(r.length == 1 && r(0).getLong(3) == 3L)
    // and the unfolded path still misses them (the round's point)
    val u = Blocklist.scanCounts(docs, "text", "doc_id",
      Seq("viagra"), fold = false).collect()
    assert(u.length == 1 && u(0).getLong(3) == 1L)
  }

  test("fold-scrub masks original-text spans, case and accents intact " +
    "elsewhere") {
    val docs = Seq("Say BANANA and Cafe\u0301 Loud").toDF("text")
    val r = Blocklist.scrub(docs, "text", Seq("banana", "caf\u00e9"),
      "<B>", fold = true).head().getString(0)
    assert(r == "Say <B> and <B> Loud", r)
  }

  test("fold-scrub == regex walk over the FOLDED text (random case/form)") {
    import graft.functions.native.CaseFold
    val terms = Seq("a", "ab", "aba", "bab", "nana", "ana", "b",
      "caf\u00e9")
    val pattern = terms.sortBy(t => (-t.length, t)).mkString("|")
    val auto = AhoAutomaton.build(terms.map(CaseFold.fold))
    val lens = terms.map(CaseFold.fold(_).length).toArray
    val rnd = new scala.util.Random(31)
    // alphabet: mixed-case letters + composed/decomposed e-acute — the
    // 1:1-fold regime where fold(scrub_fold(s)) == regex(fold(s))
    val alpha = Array("a", "A", "b", "B", "n", "N", "caf\u00e9",
      "CAFE\u0301", "cafe\u0301", " ")
    (1 to 300).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(16))(alpha(rnd.nextInt(alpha.length)))
        .mkString
      val folded = CaseFold.fold(s)
      val (fm, om) = CaseFold.foldWithMap(s) match {
        case (f, a, b) => (f, (a, b))
      }
      assert(fm == folded)
      val (masked, _) = auto.maskLeftmostLongestMapped(
        s, folded, om._1, om._2, lens, "_X_")
      assert(CaseFold.fold(masked) == folded.replaceAll(pattern, "_x_"),
        s"text=$s folded=$folded masked=$masked")
      // counts agree with brute force over the folded text
      val counts = new Array[Long](terms.size)
      auto.scan(folded, counts)
      assert(counts.toSeq == brute(folded, terms.map(CaseFold.fold)),
        s"text=$s")
    }
  }

  test("x_blocklist_fold: every planted form registers in every doc") {
    val q = SparkEntry.queries("x_blocklist_fold")
    val nDocs = Tables.load(spark, sf0001, "documents").count()
    val df = q(spark, sf0001).cache()
    try {
      // ' BaNaNa CAFE\u0301 cafe\u0301 caf\u00e9 NANA' plants: banana>=1,
      // cafe(3 forms)>=3, nana>=2 (inside BaNaNa + the NANA)
      assert(df.filter($"term" === "banana" && $"cnt" >= 1L).count() == nDocs)
      assert(df.filter($"term" === "caf\u00e9" && $"cnt" >= 3L).count() == nDocs)
      assert(df.filter($"term" === "nana" && $"cnt" >= 2L).count() == nDocs)
    } finally df.unpersist()
  }

  // ------------------------------------------------- term-table path

  test("scanCountsTable == literal path, one automaton build per partition") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", concat($"text", lit(" banana bananana")).as("text"))
      .repartition(4)
    val terms = Seq("merge", "scan", "ana", "nana")
    val termsDf = terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("term_id", "term")
    val viaLiteral = Blocklist.scanCounts(docs, "text", "doc_id", terms)
      .orderBy("doc_id", "term_id").collect().toSeq
    val before = AhoAutomaton.builds.get()
    val viaTable = Blocklist
      .scanCountsTable(docs, "text", "doc_id", termsDf)
      .orderBy("doc_id", "term_id").collect().toSeq
    val delta = AhoAutomaton.builds.get() - before
    assert(viaTable == viaLiteral)
    // one build per non-empty partition (4), not one per row (500+);
    // the forked test JVM runs suites sequentially, so the global
    // counter is not racing another suite
    assert(delta <= 8L, s"automaton built $delta times")
    // table-path plan introduces no exchange of its own: the plan
    // prints top-down, so everything ABOVE the MapPartitions seam
    // (the operator's own nodes) must be exchange-free — the only
    // Exchange is the fixture's explicit repartition below it
    val physical = Blocklist
      .scanCountsTable(docs, "text", "doc_id", termsDf)
      .queryExecution.executedPlan.toString
    val seam = physical.indexOf("MapPartitions")
    assert(seam >= 0, physical)
    assert(!physical.substring(0, seam).contains("Exchange"), physical)
  }

  test("scanCountsTable validates the term table") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val dup = Seq((0L, "a"), (0L, "b")).toDF("term_id", "term")
    assert(intercept[IllegalArgumentException] {
      Blocklist.scanCountsTable(docs, "text", "doc_id", dup)
    }.getMessage.contains("unique"))
    val empty = Seq.empty[(Long, String)].toDF("term_id", "term")
    assert(intercept[IllegalArgumentException] {
      Blocklist.scanCountsTable(docs, "text", "doc_id", empty)
    }.getMessage.contains("empty"))
  }
}
