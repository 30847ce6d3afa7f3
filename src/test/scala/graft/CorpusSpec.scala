package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Corpus, Dedup}
import graft.ops.Sampling
import graft.sources.MaintainedIndex

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("topKVocab ranks by count desc then token asc") {
    val docs = Seq(
      (1L, "b b b a a c"), (2L, "a d d"), (3L, "  ")).toDF("doc_id", "text")
    val out = Corpus.topKVocab(docs, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // counts: a=3 b=3 d=2 c=1; top-3 with token tie-break a<b
    assert(out.toSeq == Seq(("a", 3L, 1L), ("b", 3L, 2L), ("d", 2L, 3L)))
  }

  test("topKVocab plans TakeOrderedAndProject, not a global sort") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Corpus.topKVocab(docs, "text", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("chunkDocs windows overlap by window-stride and cover every token") {
    // 8 tokens, window 4, stride 3 → starts 0,3,6 (ceil((8-4)/3)=2)
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(docs, "text", "doc_id", window = 4, stride = 3)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, "t0 t1 t2 t3", 4L),
      (1L, "t3 t4 t5 t6", 4L),
      (2L, "t6 t7", 2L)))
  }

  test("chunkDocs yields exactly one chunk for short and empty docs") {
    val docs = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(docs, "text", "doc_id", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 2)
    assert(out.toSet == Set((1L, 0L, "a b"), (2L, 0L, "")))
  }

  test("languageStats aggregates per language") {
    val docs = Seq(
      (1L, "one two three", "en"), (2L, "uno dos", "es"),
      (3L, "four five six seven", "en")).toDF("doc_id", "text", "lang")
    val en = Corpus.languageStats(docs, "text", "lang")
      .where($"lang" === "en").collect().head
    assert(en.getLong(1) == 2L)                       // n_docs
    assert(en.getLong(2) == 13L + 19L)                // sum_chars
    assert(en.getDouble(3) == 3.5)                    // avg tokens (3+4)/2
    assert(en.getLong(4) == 0L)                       // none pass the bar
  }

  test("repetitionRatio: all-same bigrams ~ repeated, distinct text = 0") {
    val df = Seq(("a a a a", "w x y z")).toDF("rep", "uniq")
    val r = df.select(
      TextFns.repetitionRatio($"rep", 2),
      TextFns.repetitionRatio($"uniq", 2),
      TextFns.repetitionRatio(lit("short"), 2)).collect().head
    assert(r.getDouble(0) == 0.6667) // 3 grams, 1 distinct -> 1 - 1/3
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 0.0)    // fewer than n tokens
  }

  test("stripHtml removes tags and collapses whitespace") {
    val df = Seq("<p class=\"x\">Hello  <b>big</b>\n world</p><br/>")
      .toDF("html")
    assert(df.select(TextFns.stripHtml($"html")).collect().head.getString(0)
      == "Hello big world")
  }

  test("deterministic sample is partition-invariant and repeatable") {
    val docs = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def pick(df: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(df, $"doc_id", lit(2500L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = pick(docs)
    assert(a == pick(docs.repartition(7))) // layout never changes the pick
    assert(a.size > 60 && a.size < 140) // ~100 of 400
  }

  test("stratifiedSample honors per-stratum rates") {
    val docs = (1L to 300L)
      .map(i => (i, if (i % 3 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val out = Sampling.stratifiedSample(
        docs, $"lang", $"doc_id", Map("en" -> 1.0), defaultRate = 0.0)
      .collect()
    assert(out.length == 100)       // every en row, no zh row
    assert(out.forall(_.getString(1) == "en"))
  }

  test("contaminationReport flags verbatim benchmark overlap") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark 8-gram verbatim plus its own tail
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "totally different words that never overlap the benchmark " +
        "text at all in any gram"),
      (3L, "short doc")) // < 8 tokens -> zero grams
      .toDF("doc_id", "text")
    val out = Dedup.contaminationReport(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (3L, 1L, 0.3333)) // one of three 8-grams shared
    assert(out(2L) == (7L, 0L, 0.0))
    assert(out(3L) == (0L, 0L, 0.0))
  }

  test("vocabCoverage reports per-doc OOV against a vocab, zero-token safe") {
    val docs = Seq(
      (1L, "the cat and the dog"),
      (2L, "quantum flux capacitor"),
      (3L, "   ")
    ).toDF("doc_id", "text")
    val vocab = Seq("the", "cat", "dog", "and").toDF("token")
    val out = graft.operators.Corpus
      .vocabCoverage(docs, "text", "doc_id", vocab)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((5L, 0L, 0.0)))
    assert(out(2L) === ((3L, 3L, 1.0)))
    assert(out(3L) === ((0L, 0L, 0.0))) // whitespace-only doc still present
  }

  test("removeBoilerplateLines drops frequent lines, keeps order, counts") {
    val docs = Seq(
      (1L, "BANNER\nalpha\nbeta\nFOOTER"),
      (2L, "BANNER\ngamma\nFOOTER"),
      (3L, "BANNER\nFOOTER"),
      (4L, "BANNER\ndelta\nalpha\nFOOTER")
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus
      .removeBoilerplateLines(docs, "text", "doc_id", 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // BANNER and FOOTER occur 4x (> 2) -> dropped; "alpha" occurs 2x -> kept
    assert(out(1L) === (("alpha\nbeta", 2L, 2L)))
    assert(out(2L) === (("gamma", 1L, 2L)))
    assert(out(3L) === (("", 0L, 2L))) // fully-boilerplate doc survives empty
    assert(out(4L) === (("delta\nalpha", 2L, 2L))) // original order preserved
  }

  test("c4LineClean charges each dropped line to the first killing rule") {
    val docs = Seq(
      (1L, "the quick brown fox runs home.\n" + // kept
        "no terminal punctuation here\n" +      // no_terminal
        "too short.\n" +                        // too_short (2 words)
        "click this javascript link now.\n" +   // blacklist
        "lorem ipsum is short"),                // no_terminal wins over both
      (2L, "Is this kept? \"Yes it is!\"")      // quote after terminal: kept
    ).toDF("doc_id", "text")
    val out = Corpus.c4LineClean(docs, "text", "doc_id", minWords = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out(1L) === (("the quick brown fox runs home.",
      1L, 2L, 1L, 1L)))
    assert(out(2L) === (("Is this kept? \"Yes it is!\"", 1L, 0L, 0L, 0L)))
  }

  test("c4LineClean counters always sum to the dropped-line total") {
    val docs = Seq(
      (1L, "a.\nb b b b b\nthis one is long enough.\n{bad} code here."),
      (2L, ""), (3L, "single good sentence stands alone."))
      .toDF("doc_id", "text")
    val rows = Corpus.c4LineClean(docs, "text", "doc_id", minWords = 3)
      .collect()
    rows.foreach { r =>
      val total = r.getString(1)
        .split("\n", -1).count(_.nonEmpty) // kept lines, blank-free here
      assert(r.getLong(2) === total.toLong)
    }
    val m = rows.map(r => r.getLong(0) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // doc 1: 4 lines — "a." too_short, "b b b b b" no_terminal,
    // long sentence kept, "{bad} code here." blacklisted
    assert(m(1L) === ((1L, 1L, 1L, 1L)))
    // empty text splits to one empty line: no_terminal
    assert(m(2L) === ((0L, 1L, 0L, 0L)))
    assert(m(3L) === ((1L, 0L, 0L, 0L)))
  }

  test("dedupLinesKeepFirst keeps the lowest (doc,pos) copy and blanks") {
    val docs = Seq(
      (1L, "header\nalpha\n\nbeta"),
      (2L, "header\ngamma\n\nalpha"),
      (3L, "beta\nheader\ndelta")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupLinesKeepFirst(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // header survives only in doc 1; alpha in doc 1; beta in doc 1
    // (pos 3 of doc 1 beats pos 0 of doc 3 on doc order); blank lines
    // survive everywhere
    assert(out(1L) === (("header\nalpha\n\nbeta", 4L, 0L)))
    assert(out(2L) === (("gamma\n", 2L, 2L)))
    assert(out(3L) === (("delta", 1L, 2L)))
  }

  test("dedupLinesKeepFirst prefers the earlier position within a doc") {
    val docs = Seq((7L, "x\ny\nx")).toDF("doc_id", "text")
    val out = Corpus.dedupLinesKeepFirst(docs, "text", "doc_id")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("x\ny", 2L, 1L)))
  }

  test("dedupLinesKeepFirst handles a corpus-wide hot line: one planted " +
    "boilerplate copy per document, exactly one survives") {
    // The hot-key scale shape: a line present in EVERY document (the
    // cookie banner of a crawl corpus). The winner election is a
    // partial-combined aggregate, so the hot line never concentrates
    // on one reducer; semantically exactly the (doc 1, pos 0) copy
    // must survive, plus each doc's unique line and its blank.
    val hot = "accept all cookies to continue"
    val docs = (1L to 200L)
      .map(i => (i, s"$hot\n\nunique line $i"))
      .toDF("doc_id", "text")
    val out = Corpus.dedupLinesKeepFirst(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 200)
    assert(out(1L) === ((s"$hot\n\nunique line 1", 3L, 0L)))
    (2L to 200L).foreach { i =>
      assert(out(i) === ((s"\nunique line $i", 2L, 1L)),
        s"doc $i must lose only its hot-line copy")
    }
  }

  test("dedupLinesIncremental screens seen lines, first-wins in batch") {
    val history = Seq((1L, "header\nalpha")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "header\nfresh\n\nrepeat"),
      (11L, "repeat\nalpha\nfresh")
    ).toDF("doc_id", "text")
    val seen = Corpus.seenLinesTable(history, "text")
    val out = Corpus.dedupLinesIncremental(batch, seen, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // header/alpha already seen → dropped everywhere in the batch;
    // fresh and repeat keep their first (doc,pos); blanks survive
    assert(out(10L) === (("fresh\n\nrepeat", 3L, 1L)))
    assert(out(11L) === (("", 0L, 3L)))
  }

  test("dedupLinesIncremental equals the batch slice of the global pass " +
       "when history orders first") {
    // deterministic pseudo-random corpus: 12 docs × 4 lines drawn from
    // a 9-line pool (heavy collisions), history ids 0-5 < batch ids 6-11
    val pool = (0 until 9).map(i => s"line$i")
    val docsAll = (0L until 12L).map { d =>
      val ls = (0 until 4).map(p => pool(((d * 31 + p * 7) % 9).toInt))
      (d, ls.mkString("\n"))
    }.toDF("doc_id", "text")
    val history = docsAll.where(col("doc_id") < 6)
    val batch = docsAll.where(col("doc_id") >= 6)
    val global = Corpus.dedupLinesKeepFirst(docsAll, "text", "doc_id")
      .where(col("doc_id") >= 6)
    val incr = Corpus.dedupLinesIncremental(batch,
      Corpus.seenLinesTable(history, "text"), "text", "doc_id")
    assert(incr.exceptAll(global).count() === 0L)
    assert(global.exceptAll(incr).count() === 0L)
  }

  test("removeBoilerplateLines holds kept+dropped=total on null text") {
    val docs = Seq((1L, Some("a\nb")), (2L, None), (3L, Some("a")))
      .toDF("doc_id", "text")
    val out = graft.operators.Corpus
      .removeBoilerplateLines(docs, "text", "doc_id", 1L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "a" occurs twice (> 1) -> dropped everywhere; the null-text doc
    // must report 0 kept AND 0 dropped — not a null n_dropped
    assert(out(1L) === (("b", 1L, 1L)))
    assert(out(2L) === (("", 0L, 0L)))
    assert(out(3L) === (("", 0L, 1L)))
  }

  test("removeBoilerplateLines anti-join side is the broadcast boilerplate set") {
    val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val plan = graft.operators.Corpus
      .removeBoilerplateLines(docs, "text", "doc_id", 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti join, got:\n$plan")
  }

  test("incrementalDedup keeps only batch-novel fingerprints, min id wins") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Seen  Before"),   // dup of corpus (normalized)
      (11L, "brand new"),      // novel
      (12L, "brand  NEW"))     // within-batch dup of 11
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus, "text", "doc_id")
      .collect().map(r => r.getLong(1))
    assert(out.toSeq == Seq(11L))
  }

  test("winnowing matches a driver-side replay of window minima") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "shrt")) // under one full window -> no fingerprints
      .toDF("doc_id", "text")
    val got = Corpus.winnowingFingerprints(docs, "text", "doc_id",
        k = 5, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    def poly(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    val ref = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, text) =>
        val t = text.trim.toLowerCase
        val hs = (0 to math.max(t.length - 5, 0))
          .map(i => poly(t.substring(i, math.min(i + 5, t.length))))
        (0 to hs.length - 4).map { p =>
          val win = (p until p + 4).map(q => (hs(q), q.toLong))
          val (h, pos) = win.min
          (id, pos, h)
        }
      }.toSet
    assert(got == ref)
  }

  test("winnowing coverage guarantee: shared >=8-char substrings share a fingerprint") {
    // k=5, window=4: any common substring of length k+window-1=8 must
    // contribute at least one SELECTED fingerprint hash to both docs
    val shared = "zqxjkvbw" // 8 chars, planted mid-document
    val docs = Seq(
      (1L, s"aaaa bbbb $shared cccc dddd"),
      (2L, s"eeee $shared ffff gggg hhhh iiii"))
      .toDF("doc_id", "text")
    val fps = Corpus.winnowingFingerprints(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val h1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert(h1.intersect(h2).nonEmpty,
      "planted 8-char substring selected no common fingerprint")
  }

  test("winnowingCandidates surfaces the planted shared substring and " +
    "counts shared fingerprints") {
    val shared = "zqxjkvbwmmpp" // 12 chars: multiple selected fingerprints
    val docs = Seq(
      (1L, s"aaaa bbbb $shared cccc dddd"),
      (2L, s"eeee $shared ffff gggg hhhh iiii"),
      (3L, "totally unrelated content here"))
      .toDF("doc_id", "text")
    val out = Corpus.winnowingCandidates(docs, "text", "doc_id",
        minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.contains((1L, 2L)), s"planted pair missing: $out")
    assert(out((1L, 2L)) >= 1L)
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("winnowingContainment reads 10000 bp for a verbatim excerpt " +
    "regardless of size ratio (the tiny-quote regime LSH misses)") {
    // doc 2 is a SHORT verbatim quote of a much larger doc 1: its
    // Jaccard vs the source is tiny (size ratio drags the union), so
    // the banded MinHash containment screen structurally misses it —
    // winnowing containment must read exactly 10^4 bp because every
    // excerpt-selected fingerprint is source-selected too (the packed
    // window-minimum argmin is shift-invariant). doc 3 is unrelated.
    val src = (1 to 40).map(i => s"sentence number $i with filler words")
      .mkString(" ")
    val quote = src.substring(100, 170)
    val docs = Seq(
      (1L, src), (2L, quote), (3L, "totally different material here"))
      .toDF("doc_id", "text")
    val fps = Corpus.winnowingFingerprints(docs, "text", "doc_id")
    val out = Corpus.winnowingContainment(fps, maxDf = 50,
        minContainmentBp = 0L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    assert(out.get((2L, 1L)).contains(10000L),
      s"excerpt must be fully contained in its source: $out")
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L },
      s"unrelated doc must not pair: $out")
    // the threshold keeps the planted pair and drops sub-threshold ones
    val gated = Corpus.winnowingContainment(fps, maxDf = 50,
      minContainmentBp = 9000L).collect()
    assert(gated.forall(_.getLong(5) >= 9000L))
  }

  test("winnowingContainment survives multi-megabyte documents: a quote " +
    "planted past the 2^21 character mark still reads 10000 bp") {
    // Regression for the 21-bit pos packing: the old packed key
    // h * 2^21 + pos let any pos >= 2,097,152 bleed into the hash
    // field, silently corrupting fingerprints for exactly the long-tail
    // book/page documents a crawl corpus contains — and the DuckDB
    // oracle replayed the identical packing, so the gate could not see
    // it. The 2^31 multiplier is exact for any JVM string (h < 2^30,
    // pos < 2^31). This fixture plants a verbatim quote entirely
    // BEYOND position 2^21 of a >2.1M-char source; containment must
    // still read exactly 10^4 bp.
    val src = (1 to 100000)
      .map(i => f"body segment $i%07d text")
      .mkString(" ") // 24 chars/segment -> ~2.4M chars
    assert(src.length > (1 << 21) + 100000,
      s"fixture must exceed 2^21 chars, got ${src.length}")
    val quote = src.substring((1 << 21) + 1000, (1 << 21) + 1200)
    val docs = Seq((1L, src), (2L, quote)).toDF("doc_id", "text")
    val fps = Corpus.winnowingFingerprints(docs, "text", "doc_id")
    val out = Corpus.winnowingContainment(fps, maxDf = 50,
        minContainmentBp = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5))
      .toMap
    assert(out.get((2L, 1L)).contains(10000L),
      s"deep quote must be fully contained in its source: $out")
    // and the selected positions really do exceed the old 21-bit bound
    val maxPos = fps.where($"id" === 1L)
      .agg(max($"pos")).collect()(0).getLong(0)
    assert(maxPos >= (1L << 21),
      s"fixture must select fingerprints past 2^21, max pos $maxPos")
  }

  test("winnowingContainment invariants: bp bounded by 10^4, shared " +
    "bounded by the smaller set, orientation total") {
    // a mixed corpus: self-similar repeats, partial overlaps, and
    // unrelated docs — every output row must satisfy the score's
    // arithmetic invariants regardless of pairing
    val docs = (1L to 12L).map { i =>
      val core = s"shared core segment number ${i % 4} with padding"
      (i, s"doc $i prefix $core suffix ${"filler " * (i % 5).toInt}$i")
    }.toDF("doc_id", "text")
    val fps = Corpus.winnowingFingerprints(docs, "text", "doc_id")
    val rows = Corpus.winnowingContainment(fps, maxDf = 50,
      minContainmentBp = 0L).collect()
    assert(rows.nonEmpty, "overlapping fixture must produce pairs")
    rows.foreach { r =>
      val (small, large) = (r.getLong(0), r.getLong(1))
      val (nS, nL, shared, bp) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(small != large)
      assert(nS <= nL, s"orientation broken: $r")
      assert(shared >= 1 && shared <= nS,
        s"shared must be within the smaller set: $r")
      assert(bp >= 0 && bp <= 10000, s"bp out of range: $r")
      assert(bp == shared * 10000 / nS, s"bp arithmetic: $r")
      // tie on set size must orient to the LOWER id as small
      if (nS == nL) assert(small < large, s"tie orientation: $r")
    }
  }

  test("winnowing recall contract: the (k, window) guarantee threshold " +
    "k+window-1 is tight — shorter shared runs may vanish, threshold-" +
    "length runs never do") {
    // The machine-checkable form of the scaladoc guarantee: for every
    // geometry in the table, a planted shared substring of EXACTLY
    // k+window-1 chars must select at least one common fingerprint
    // (coverage), while one of k+window-2 chars has at least one
    // fixture where no fingerprint is shared (tightness) — so the
    // minimum reliably-detectable quote length IS k+window-1, and a
    // df cap only ever REMOVES evidence (monotonicity, third block).
    val geometries = Seq((5, 4), (5, 8), (3, 4), (8, 4))
    // distinct-alphabet filler so the planted run is the only overlap
    for ((k, w) <- geometries) {
      val t = k + w - 1
      val run = ("zqxjvw" * ((t + 5) / 6)).take(t)
      val docs = Seq(
        (1L, s"aaaa bbbb cccc $run dddd eeee ffff"),
        (2L, s"gggg hhhh $run iiii jjjj kkkk llll"))
        .toDF("doc_id", "text")
      val fps = Corpus.winnowingFingerprints(docs, "text", "doc_id", k, w)
        .collect().map(r => r.getLong(0) -> r.getLong(2))
      val shared = fps.filter(_._1 == 1L).map(_._2).toSet
        .intersect(fps.filter(_._1 == 2L).map(_._2).toSet)
      assert(shared.nonEmpty,
        s"(k=$k, window=$w): a ${t}-char shared run selected no common " +
          "fingerprint — the coverage guarantee is broken")
    }
    // tightness at the default geometry: a 7-char run (= k+window-2)
    // CAN fall between both docs' selections. Constructed miss: 5-char
    // lowercase shingle hashes never wrap the modulus (h < 123·31⁴ <
    // 1e9+7), so hash order is lexicographic-ish — a run of 'z's flanked
    // by distinct sub-'z' letters loses every window argmin to a
    // boundary/context shingle, and those are doc-specific. The longest
    // common substring between the docs is exactly the 7-char run.
    val short = Seq(
      (1L, "meadow river azzzzzzzb forest lake"),
      (2L, "copper wing czzzzzzzd ember quilt hollow"))
      .toDF("doc_id", "text")
    val fp7 = Corpus.winnowingFingerprints(short, "text", "doc_id", 5, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val shared7 = fp7.filter(_._1 == 1L).map(_._2).toSet
      .intersect(fp7.filter(_._1 == 2L).map(_._2).toSet)
    assert(shared7.isEmpty,
      "fixture drift: the sub-threshold run was detected — the " +
        "tightness claim is untested")
    // df-cap monotonicity: candidates at maxDf=m are a subset of
    // candidates at any larger cap (the cap only removes evidence)
    val corpus = (1L to 8L)
      .map(i => (i, s"shared zqxjvw core text here unique token $i"))
      .toDF("doc_id", "text")
    def pairsAt(cap: Long) =
      Corpus.winnowingCandidates(corpus, "text", "doc_id",
          maxDf = cap, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = pairsAt(4)
    val loose = pairsAt(50)
    assert(tight.subsetOf(loose),
      "a smaller df cap must never CREATE a candidate pair")
  }

  test("winnowingCandidates df cap drops ubiquitous fingerprints") {
    // every doc shares the boilerplate prefix; with maxDf below the
    // corpus size those fingerprints leave the index and no pair
    // survives, with a generous cap the pairs appear
    val docs = (1L to 6L)
      .map(i => (i, s"common boilerplate prefix here unique$i"))
      .toDF("doc_id", "text")
    val capped = Corpus.winnowingCandidates(docs, "text", "doc_id",
      maxDf = 2, minShared = 1)
    val open = Corpus.winnowingCandidates(docs, "text", "doc_id",
      maxDf = 100, minShared = 1)
    assert(capped.count() == 0)
    assert(open.count() == 15) // all C(6,2) pairs share the prefix
  }

  test("winnowing density is ~2/(window+1) of the hash stream") {
    val docs = Tables.load(spark, sf0001, "documents")
    val n = Corpus.winnowingFingerprints(docs, "text", "doc_id").count()
    val stream = docs.select(
      sum(greatest(length(lower(trim($"text"))) - 4, lit(1)))).head.getLong(0)
    // paper's expected density 2/(w+1) = 0.4; allow a generous band
    assert(n > stream / 10 && n < stream * 6 / 10,
      s"selected $n of $stream hashes - outside the winnowing band")
  }

  test("incremental winnowing equals the full screen filtered to the " +
    "batch (stored base + fresh batch fingerprints)") {
    val d = Tables.load(spark, sf0001, "documents")
    val isNew = col("doc_id") % 10 === 0
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .where(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = pairSet(
      Corpus.winnowingCandidates(d, "text", "doc_id", minShared = 2))
    val base = Corpus.winnowingFingerprints(d.filter(!isNew),
      "text", "doc_id")
    val fresh = Corpus.winnowingFingerprints(d.filter(isNew),
      "text", "doc_id")
    val incr = pairSet(Corpus.winnowingCandidatesFrom(
      base.unionByName(fresh), minShared = 2))
    assert(incr == full)
    assert(incr.nonEmpty, "fixture produced no batch-involving pairs")
  }

  /** Remove a scratch tree. */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  // S1 lands in THREE corpus docs (two appends), so its hashes sit
  // exactly AT maxDf=3 — rare without the batch; the batch's own copy
  // pushes them over the cap (the crossing case the screen must
  // re-judge from stored d + batch d, never from a corpus
  // re-aggregation)
  private val s1 = "the quick brown fox jumps over the lazy dog repeatedly"
  private val u1 = "an utterly unique passage about winnowing fingerprints"

  /** The same three-document corpus written into `root` in both of the
    * quote screen's regimes — under the default conf it is a few files
    * (the bulk regime); with a one-byte file target it spreads over more
    * than two task waves of files (the file-pruned path) — and a
    * two-document batch whose fingerprints cross S1's hashes past
    * maxDf=3 (doc 10) and quote doc 1's unique passage (doc 11).
    * Returns (bulk table, pruned table, batch, batch fingerprints). */
  private def winnowRegimes(root: java.io.File): (String, String,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val appendA = Seq(
      (1L, s"$s1 and then document one continues with $u1 for a while"),
      (2L, s"prefix for doc two $s1 and some trailing tokens here")
    ).toDF("doc_id", "text")
    val appendB = Seq(
      (3L, s"third document also contains $s1 plus its own ending")
    ).toDF("doc_id", "text")
    def writeTable(name: String): String = {
      val table = new java.io.File(root, name).toString
      Corpus.writeWinnowTable(appendA, "text", "doc_id", table)
      Corpus.appendToWinnowTable(appendB, "text", "doc_id", table)
      table
    }
    val bulk = writeTable("bulk")
    val pruned = withSQLConf("spark.sql.shuffle.partitions" -> "16",
      "graft.append.targetFileBytes" -> "1") { writeTable("pruned") }
    assertRegimes(bulk, pruned)
    val batch = Seq((10L, s1), (11L, u1)).toDF("doc_id", "text")
    (bulk, pruned, batch,
      Corpus.winnowingFingerprints(batch, "text", "doc_id"))
  }

  private def assertRegimes(bulk: String, pruned: String): Unit = {
    val smallTable = 2 * spark.sessionState.conf.numShufflePartitions
    assert(MaintainedIndex.dataFileCount(spark, bulk) <= smallTable)
    assert(MaintainedIndex.dataFileCount(spark, pruned) > smallTable)
  }

  /** The caps and containment floors the winnow-state cases screen at. */
  private val screenCaps = Seq((3L, 0L), (50L, 0L), (50L, 8000L))

  private def screenRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  test("maintained winnow screen equals the one-shot screen across " +
    "appends, including batch-induced cap crossings") {
    val root = Scratch.dir("spec-winnow_state")
    try {
      val (bulk, pruned, _, fpB) = winnowRegimes(root)
      for (table <- Seq(bulk, pruned)) {
        def screen(maxDf: Long, minBp: Long) =
          Corpus.winnowingContainmentScreen(fpB, table,
            maxDf = maxDf, minContainmentBp = minBp).df
        for ((maxDf, minBp) <- screenCaps) {
          val reference = screenRows(ScreenReference.oneShot(
            fpB, spark.read.parquet(table), maxDf, minBp))
          assert(screenRows(screen(maxDf, minBp)) == reference,
            s"screen diverged at maxDf=$maxDf minBp=$minBp on $table")
        }
        // the quote of u1 must surface (proves the fixture is
        // non-vacuous)
        val hit = screen(50L, 8000L)
          .where(col("batch_id") === 11L && col("corpus_id") === 1L)
        assert(hit.count() == 1, s"planted quote pair missing on $table")
        // and at maxDf=3 the S1-only pair (10, any) must NOT appear —
        // the batch's own copy crossed S1's hashes over the cap
        val crossed = screen(3L, 0L).where(col("batch_id") === 10L)
        assert(crossed.count() == 0,
          s"cap-crossing hashes still produced containment evidence on $table")
      }
    } finally rmTree(root)
  }

  test("replay exactness: after a batch's own fingerprints, projection " +
    "rows and df delta land, its replay screens as before they landed") {
    val root = Scratch.dir("spec-winnow_replay")
    try {
      val (bulk, pruned, batch, fpB) = winnowRegimes(root)
      val batchId = 7L
      val replay = Some((batch.select(col("doc_id").as("id")), batchId))
      def screens(table: String, replay: Option[(
          org.apache.spark.sql.DataFrame, Long)]) = screenCaps.map {
        case (maxDf, minBp) => screenRows(Corpus.winnowingContainmentScreen(
          fpB, table, replay, maxDf, minBp).df)
      }
      val before = Seq(bulk, pruned).map(t => t -> screens(t, None)).toMap
      assert(before(bulk).exists(_.nonEmpty), "fixture screens nothing")
      // land the batch the way a curate batch does: the three artifacts
      // under batch-named prefixes, the df delta stamped with its id
      for (table <- Seq(bulk, pruned)) {
        MaintainedIndex.clusteredIdempotentAppend(fpB, table,
          s"b${batchId}_fp_", "h")
        MaintainedIndex.clusteredIdempotentAppend(
          fpB.select(col("id"), col("h")).distinct(),
          Corpus.winnowByIdPath(table), s"b${batchId}_byid_", "id")
        MaintainedIndex.clusteredIdempotentAppend(
          Corpus.winnowDfDelta(fpB, batchId),
          Corpus.winnowDfStatePath(table), s"b${batchId}_", "h")
      }
      assertRegimes(bulk, pruned)
      for (table <- Seq(bulk, pruned)) {
        // landed, an unexcluded screen sees the batch's own copies
        assert(screens(table, None) != before(table),
          s"the landing did not reach the screen on $table")
        assert(screens(table, replay) == before(table),
          s"replay screened against its own landed rows on $table")
      }
    } finally rmTree(root)
  }

  test("winnow df sidecar folds to the fingerprint table's exact " +
    "document frequencies across write + append") {
    val root = Scratch.dir("spec-winnow_fold")
    val table = new java.io.File(root, "fps").toString
    try {
      val d = Tables.load(spark, sf0001, "documents")
        .select(col("doc_id"), col("text"))
      Corpus.writeWinnowTable(d.where(col("doc_id") % 3 =!= 0),
        "text", "doc_id", table)
      Corpus.appendToWinnowTable(d.where(col("doc_id") % 3 === 0),
        "text", "doc_id", table)
      val folded = spark.read.parquet(Corpus.winnowDfStatePath(table))
        .groupBy(col("h")).agg(sum(col("d")).as("df"))
      val recount = spark.read.parquet(table)
        .select(col("id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
      assert(folded.join(recount, Seq("h", "df")).count() == recount.count()
        && folded.count() == recount.count(),
        "sidecar fold diverged from the fingerprint-table recount")
    } finally rmTree(root)
  }

  test("burstiness: spread terms score 10000, concentrated terms cf/df") {
    val docs = Seq(
      (1L, "the cat cat cat"),
      (2L, "the dog"),
      (3L, "the bird")
    ).toDF("doc_id", "text")
    val r = Corpus.burstiness(docs, "text", "doc_id", 10)
      .collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r("the") == (3L, 3L, 10000L)) // one per doc: perfectly spread
    assert(r("cat") == (3L, 1L, 30000L)) // all three in one doc
    assert(r("dog") == (1L, 1L, 10000L))
    assert(r.size == 4)
  }

  test("burstiness top-k keeps the highest-cf terms with the " +
    "(cf desc, token) tie rule") {
    val docs = Seq((1L, "b b a a c")).toDF("doc_id", "text")
    val top = Corpus.burstiness(docs, "text", "doc_id", 2)
      .collect().map(_.getString(0)).toSet
    assert(top == Set("a", "b")) // c (cf=1) falls off; a/b tie at cf=2
  }
}
