package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.functions.native.NativeFns
import graft.operators.Dedup

/** Bit-parity of the r12 native expressions against the expression
  * chains they replaced — the same contract every earlier native
  * expression carries (the unchanged oracles are the system-level
  * pin; these are the direct ones).
  */
class NativeParitySpec extends SparkSpec {
  import spark.implicits._

  test("graft_cm_cells == hash32 chain, cell for cell") {
    val keys = Seq("", "a", "hello", "héllo wörld", "中文字符串",
      "cm0:prefix-collision", "  spaced  ", "\ttab\nnewline",
      "0123456789abcdef") ++
      (0 until 500).map(i => s"gram$i")
    val (depth, width) = (3, 2048)
    val df = keys.toDF("k")
    val chain = array((0 until depth).map(d =>
      TextFns.hash32(concat(lit(s"cm$d:"), col("k"))) % width): _*)
    val bad = df.select(col("k"),
        NativeFns.cmCells(col("k"), depth, width).as("native"),
        chain.as("chain"))
      .where(not(col("native") === col("chain")))
    assert(bad.count() == 0,
      bad.collect().take(3).mkString("cells diverged: ", " | ", ""))
  }

  test("graft_cm_cells on a null key keeps the chain's depth null " +
    "cells (grouped rows must not vanish)") {
    val df = Seq[Option[String]](Some("x"), None).toDF("k")
    val n = df.select(posexplode(NativeFns.cmCells(col("k"), 3, 64)))
      .count()
    assert(n == 6, s"expected 3 cells per row incl. the null key, got $n")
  }

  /** Native vocab hits vs the chain over `texts`, asserted equal row
    * by row; returns the native hits keyed by (non-null) text. */
  private def vocabHitsVsChain(vocab: Seq[String],
                               texts: Seq[String]): Map[String, Seq[String]] = {
    val chain = array_sort(array_intersect(
      array_distinct(split(lower(trim(col("text"))), "\\s+")),
      typedLit(vocab)))
    val got = texts.toDF("text").select(col("text"),
        NativeFns.vocabHits(col("text"), vocab).as("native"),
        chain.as("chain"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null-ness diverged: $r")
      if (!r.isNullAt(1))
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"hits diverged: $r")
    }
    got.filterNot(_.isNullAt(0))
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
  }

  test("graft_vocab_hits == array_sort(array_intersect(array_distinct(" +
    "split(lower(trim(text)))))) chain") {
    vocabHitsVsChain(Seq("apple", "pear", "zebra", "Ärger", "中文", "a"),
      Seq("apple pear apple", "  APPLE\tzebra  ", "", "   ",
        "nothing matches here", "a a a pear", "ärger ÄRGER",
        "中文 words 中文", "pear\napplezebra", null))
  }

  test("graft_vocab_hits matches the chain on tab-led text, an empty " +
    "vocab entry and uppercase non-ASCII tokens") {
    // trim() strips only spaces: a tab/newline at either end (or an
    // all-space text) makes the chain's split emit "" — a hit when the
    // vocabulary holds ""; lower() case-maps non-ASCII like Spark does
    val native = vocabHitsVsChain(
      Seq("", "apple", "pear", "ärger", "straße", "σοφος", "i\u0307stanbul"),
      Seq("\tapple pear", "apple\n", "\n", "", "   ", " \t ",
        "apple pear", "ÄRGER Straße", "ΣΟΦΟΣ", "İSTANBUL\t", null))
    assert(native("\tapple pear") == Seq("", "apple", "pear"))
    assert(native("apple pear") == Seq("apple", "pear"))
    assert(native("ÄRGER Straße") == Seq("straße", "ärger"))
  }

  test("TextFns.words + wordGrams == each call site's pasted n-gram " +
    "chain, null text included") {
    // the shared corpus plus the edges: tab/newline-led and all-space
    // text (trim strips spaces only), non-BMP and uppercase non-ASCII
    // tokens, empty and null text
    val edges = Seq[String]("\tapple pear", "apple pear\n", "\n", "",
      "   ", " \t ", "a b a b a b", "𝒜𝒷 😀 w 😀 w 𝒜𝒷", "ÄRGER Straße ΣΟΦΟΣ İSTANBUL", null)
    val texts = Tables.load(spark, sf0001, "documents").select(col("text"))
      .union(edges.toDF("text"))
    val t = col("text")
    val w = TextFns.words(t)
    val near = substring(t, 11, 1 << 20) // the pair site's second side
    def evalOld(n: Int) =
      HofReference.textEvalGrams(HofReference.textEvalToks(t), n)
    // (site, pasted chain, new form) for n = 1..4 and for an n above
    // every text's token count
    val sites = Seq(1, 2, 3, 4, 100000).flatMap { n => Seq(
      (s"Dedup gram sets n=$n", HofReference.distinctWordGrams(t, n),
        Dedup.distinctGrams(t, n)),
      (s"Dedup.ngramJaccard n=$n", HofReference.ngramJaccard(t, near, n),
        Dedup.ngramJaccard(t, near, n)),
      (s"gramBuckets/tfidfPostings n=$n", HofReference.wordGrams(t, n),
        TextFns.wordGrams(w, n)),
      (s"repetitionRatio n=$n", HofReference.repetitionRatio(t, n),
        TextFns.repetitionRatio(t, n)),
      // rougeBleuReportN flattens the grams of 1..maxN: the unigrams
      // (the tokens) null the list on null text, old and new alike
      (s"TextEval overlap 1,n=$n", flatten(array(Seq(1, n).distinct.map(
          evalOld): _*)), flatten(array(Seq(1, n).distinct.map(k =>
          if (k == 1) w else TextFns.wordGrams(w, k)): _*))),
      // repetitionCore explodes its grams: null and [] both give no rows
      (s"TextEval repetition n=$n",
        coalesce(evalOld(n), array().cast("array<string>")),
        TextFns.wordGrams(w, n)))
    }
    val diverged = texts
      .select(t, filter(array(sites.map { case (site, old, now) =>
        when(!(old <=> now), lit(site)) }: _*), _.isNotNull).as("sites"))
      .where(size(col("sites")) > 0)
    assert(diverged.count() == 0,
      diverged.collect().take(3).mkString("diverged: ", " | ", ""))
    assert(texts.count() > edges.size, "the shared corpus must be read")
  }
}
