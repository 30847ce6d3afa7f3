package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup groups identical normalized texts") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "something else"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "text", "doc_id").collect()
    assert(out.length == 2)
    val byKeeper = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeeper(1L) == 2L) // docs 1+2 collapse, keeper is min id
    assert(byKeeper(3L) == 1L)
  }

  test("minhash near-dup pairs find planted near-duplicates") {
    val base = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through the wide green field towards the river bank"
    val docs = Seq(
      (1L, base),
      (2L, base + " today"),          // near-dup of 1
      (3L, "completely different content about databases and queries " +
        "with nothing shared at all in any shingle of text"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 5, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalNearDup pairs batch near-copies with their corpus " +
    "source and passes novel docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different corpus text about spark physical plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and MORE"),
      (11L, "totally novel batch content that matches nothing at all here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDup(batch, corpus, "text", "doc_id",
      k = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)), "near-copy must pair with its source")
    assert(!pairs.exists(_._1 == 11L), "novel doc must pass the screen")
    assert(!pairs.exists(p => p._1 == 1L || p._1 == 2L),
      "corpus docs never appear on the batch side")
  }

  test("ngramJaccard: identical texts = 1.0, disjoint texts = 0.0") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.ngramJaccard($"t1", $"t2", 2),
      Dedup.ngramJaccard($"t1", $"t3", 2)).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("ngramJaccard: texts shorter than n yield empty gram sets, sim 0.0") {
    // round-2 advice: a <n-token side must contribute an EMPTY set (and
    // never a partial-slice gram), with 0.0 when the union is empty —
    // the DuckDB oracle guards identically (CASE WHEN len >= n)
    val df = Seq(("solo", "solo", "a b c", "")).toDF("t1", "t2", "t3", "t4")
    val r = df.select(
      Dedup.ngramJaccard($"t1", $"t2", 2), // both short → 0/0 → 0.0
      Dedup.ngramJaccard($"t1", $"t3", 2), // one short → 0/2 → 0.0
      Dedup.ngramJaccard($"t4", $"t3", 2)) // empty string side
      .head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0 &&
      r.getDouble(2) == 0.0)
  }

  test("simhash: identical texts hash equal; near texts within hamming 16") {
    val base = "spark catalyst optimizer rewrites logical plans into " +
      "physical plans using cost based and rule based passes"
    val df = Seq((1L, base), (2L, base), (3L, base + " quickly"))
      .toDF("doc_id", "text")
    val out = Dedup.withSimhash(df, "text")
      .select($"doc_id", $"simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    val ham = java.lang.Long.bitCount(out(1L) ^ out(3L))
    assert(ham <= 16, s"hamming distance $ham too large for near-dup")
  }

  test("minhash signature is permutation-stable (same text → same sig)") {
    val df1 = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val df2 = Seq((9L, "abcdefghij")).toDF("doc_id", "text")
    val s1 = Dedup.withMinhashSignature(df1, "text")
      .select((0 until 16).map(j => col(s"m$j")): _*).head().toSeq
    val s2 = Dedup.withMinhashSignature(df2, "text")
      .select((0 until 16).map(j => col(s"m$j")): _*).head().toSeq
    assert(s1 == s2)
  }

  test("connectedComponents labels chains and keeps components separate") {
    // chain 1-2-3 plus pair 10-11: components {1,2,3} rep 1, {10,11} rep 10
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("CC iteration width floors at iterPartitions but widens for a " +
    "huge pair graph (capped at the session's shuffle parallelism)") {
    val tiny = Seq((2L, 1L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(Dedup.ccIterWidth(tiny, 8) == 8,
      "a tiny graph must iterate at the floor")
    // ~3.2 GB by the optimizer's estimate (200M rows × 16 B): at the
    // 64 MB advisory partition size this wants ~49 partitions
    val huge = spark.range(200000000L)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    withSQLConf("spark.sql.shuffle.partitions" -> "64") {
      val w = Dedup.ccIterWidth(huge, 8)
      assert(w > 8 && w <= 64, s"huge graph width $w should widen past " +
        "the floor and stay within shuffle parallelism")
    }
    // fleet cap: a session tuned to 4-wide shuffles never iterates wider
    // than max(floor, 4) even for the huge graph
    assert(Dedup.ccIterWidth(huge, 8) == 8)
  }

  test("small-graph CC fast path is label-equal to the iterative path") {
    // chains, a merge, singletons-via-self-pair, and out-of-order ids —
    // default call takes the union-find fold (edge count far below the
    // ceiling); smallGraphMaxEdges = 0 forces the pointer-doubling
    // rounds; both must produce the identical assignment
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (9L, 4L), (10L, 11L),
      (7L, 7L), (100L, 5L)).toDF("doc_a", "doc_b")
    def run(maxEdges: Long) =
      Dedup.connectedComponents(pairs, "doc_a", "doc_b",
          smallGraphMaxEdges = maxEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = run(Dedup.SmallGraphMaxEdges)
    // the iterative rounds release every block they pinned
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val iter = run(0L)
    assert(sc.getPersistentRDDs.keySet == before,
      "iterative CC left round state persisted")
    assert(fast === iter)
    assert(fast(4L) === 1L && fast(9L) === 1L, "merged chain takes min rep")
    assert(fast(7L) === 7L && fast(100L) === 5L)
  }

  test("connectedComponents refuses non-integral ids, naming the column") {
    // a string chain n00-n01-…-n12: neither the union-find fold nor the
    // label-sum witness has a meaning for string ids
    val pairs = (0 until 12).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    }
    assert(e.getMessage.contains("doc_a") && e.getMessage.contains("string"),
      e.getMessage)
  }

  test("simhash banded pairs find exact copies at hamming 0") {
    val base = "spark catalyst optimizer rewrites logical plans into " +
      "physical plans using cost based and rule based passes"
    val docs = Seq(
      (1L, base), (2L, base), // exact copy → hamming 0, must pair
      (3L, "utterly unrelated text with other words entirely different " +
        "subject matter no overlap in any token at all"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashNearDupPairs(docs, "text", "doc_id", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.get((1L, 2L)).contains(0L))
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalClusters equals from-scratch clustering on the union") {
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val existing = Dedup.connectedComponents(old, "a", "b")
    // one bridge merges the two old components (multi-hop relabel of
    // 10/11 down to rep 1); one pair introduces brand-new nodes
    val newPairs = Seq((3L, 10L), (20L, 21L)).toDF("a", "b")
    val incr = Dedup.incrementalClusters(existing, newPairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(old.union(newPairs), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr === full)
    assert(incr(11L) === 1L && incr(21L) === 20L)
  }

  test("langId picks zh on CJK text and en on English text") {
    val df = Seq((1L, "这是一个中文文档 测试"), (2L, "the cat and the dog in the house"))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id", TextFns.langId($"text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "zh" && out(2L) == "en")
  }

  test("noveltyReport: first-occurrence attribution in basis points") {
    val corpus = Seq(
      (1L, "a b c"),   // grams "a b","b c" — both first seen here
      (2L, "a b d"),   // "a b" owned by doc 1, "b d" novel
      (3L, "a b c"),   // exact later copy: nothing novel
      (4L, "x")        // < 2 tokens: no grams, no row
    ).toDF("doc_id", "text")
    val r = Dedup.noveltyReport(corpus, "text", "doc_id", n = 2)
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r == Map(
      1L -> (2L, 2L, 10000L),
      2L -> (2L, 1L, 5000L),
      3L -> (2L, 0L, 0L)))
  }

  test("noveltyReport: repeated grams inside one doc count once, and " +
    "the report is partition-invariant") {
    val corpus = Seq(
      (5L, "p q p q p q"),  // distinct grams: "p q","q p" — both novel
      (6L, "p q r")         // "p q" seen, "q r" novel
    ).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.noveltyReport(d, "text", "doc_id", n = 2)
        .collect()
        .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(3))).toMap
    val a = run(corpus)
    assert(a(5L) == (2L, 10000L) && a(6L) == (2L, 5000L))
    assert(a === run(corpus.repartition(7)))
  }
}
