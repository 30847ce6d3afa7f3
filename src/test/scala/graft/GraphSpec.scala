package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangleCounts on K4: four triangles, every node in three") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    assert(Graph.triangles(e, "a", "b").count() == 4)
    val counts = Graph.triangleCounts(e, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("pageRank matches the hand-computed fixed-point iteration on a star") {
    val e = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val r = Graph.pageRank(e, "a", "b", iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // r1(1)=150000+(17*2e6)div 20=1850000; r1(leaf)=150000+(17*(1e6 div 2))div 20=575000
    // r2(1)=150000+(17*(575000*2))div 20=1127500
    // r2(leaf)=150000+(17*(1850000 div 2))div 20=936250
    assert(r == Map(1L -> 1127500L, 2L -> 936250L, 3L -> 936250L))
  }

  test("pageRankWarm seeded with the uniform vector reproduces pageRank " +
    "exactly; new-in-delta nodes seed at 1000000") {
    val e = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey % 97 AS a", "o_orderkey % 89 AS b")
      .where($"a" =!= $"b")
    val uniform = e.selectExpr("a AS node").union(e.selectExpr("b"))
      .distinct().selectExpr("node", "CAST(1000000 AS LONG) AS rank")
    val cold = Graph.pageRank(e, "a", "b", iters = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val warm = Graph.pageRankWarm(e, "a", "b", uniform, "node", "rank",
      iters = 4).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(cold == warm, "identical recurrence from the uniform start")
    // star 1-{2,3} warmed one round from prev where node 3 is NEW:
    // r0 = (1->2e6, 2->4e5, 3->1e6 default);
    // r1(1) = 150000 + 17*(4e5 + 1e6) div 20 = 1340000
    // r1(2) = r1(3) = 150000 + 17*(2e6 div 2) div 20 = 1000000
    val star = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val prev = Seq((1L, 2000000L), (2L, 400000L)).toDF("node", "rank")
    val r = Graph.pageRankWarm(star, "a", "b", prev, "node", "rank",
      iters = 1).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1340000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("pageRankWarm after a delta lands nearer the new fixed point " +
    "than the same round count from cold (the refresh thesis)") {
    val old = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey % 61 AS a", "o_orderkey % 53 AS b")
      .where($"a" =!= $"b")
    val delta = Seq((0L, 1L), (0L, 2L), (60L, 52L)).toDF("a", "b")
    val all = old.union(delta)
    val fixed = Graph.pageRank(all, "a", "b", iters = 12)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val stored = Graph.pageRank(old, "a", "b", iters = 10)
    def dist(m: Map[Long, Long]) =
      fixed.map { case (n, r) => math.abs(m.getOrElse(n, 1000000L) - r) }.sum
    val warm = Graph.pageRankWarm(all, "a", "b", stored, "node", "rank",
      iters = 2).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val cold2 = Graph.pageRank(all, "a", "b", iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(dist(warm) < dist(cold2),
      s"warm 2 rounds (${dist(warm)}) must beat cold 2 rounds " +
        s"(${dist(cold2)}) toward the 12-round fixed point")
  }

  test("pageRankWarmWitness equals the manual diff of the last two " +
    "warm rounds, and a deep delta with too few rounds is NOT converged") {
    val old = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey % 61 AS a", "o_orderkey % 53 AS b")
      .where($"a" =!= $"b")
    // DEEP delta: a new hub wired into many nodes shifts rank mass far
    // from the stored fixed point — one warm round cannot settle it
    val hub = (0L until 40L).map(i => (1000L, i)).toDF("a", "b")
    val all = old.union(hub)
    val stored = Graph.pageRank(old, "a", "b", iters = 10)
    // manual: |warm2 - warm1| max over nodes
    def ranks(it: Int) = Graph.pageRankWarm(all, "a", "b", stored,
      "node", "rank", iters = it)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val r1 = ranks(1); val r2 = ranks(2)
    val manual = r2.map { case (n, r) => math.abs(r - r1(n)) }.max
    val w = Graph.pageRankWarmWitness(all, "a", "b", stored, "node",
      "rank", iters = 2, tolMicro = 50L).collect().head
    assert(w.getLong(0) == manual,
      s"witness delta ${w.getLong(0)} != manual $manual")
    assert(!w.getBoolean(1),
      s"deep delta at 2 rounds must NOT read converged (delta $manual)")
    // a generous tolerance reads converged — the flag is the
    // comparison, engine-exact either way
    val ok = Graph.pageRankWarmWitness(all, "a", "b", stored, "node",
      "rank", iters = 2, tolMicro = Long.MaxValue).collect().head
    assert(ok.getBoolean(1))
    // and with enough warm rounds the SAME delta settles under a real
    // tolerance: the witness is what tells a refresh its round count
    // sufficed
    val settled = Graph.pageRankWarmWitness(all, "a", "b", stored,
      "node", "rank", iters = 12, tolMicro = manual)
      .collect().head
    assert(settled.getLong(0) < manual,
      "more rounds must shrink the round-over-round movement")
  }

  test("pageRank is bit-identical under repartitioning (integer lanes)") {
    val e = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey % 97 AS a", "o_orderkey % 89 AS b")
      .where($"a" =!= $"b")
    val r1 = Graph.pageRank(e, "a", "b", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val r2 = Graph.pageRank(e.repartition(13), "a", "b", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 == r2)
  }

  test("triangleCountsIncremental equals from-scratch counts on the " +
       "combined graph (multi-new-edge triangles deduped)") {
    // old: square 1-2-3-4-1; new: both diagonals — every triangle of K4
    // contains >= 1 new edge, and each contains exactly one diagonal
    val old = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val nw = Seq((1L, 3L), (2L, 4L)).toDF("a", "b")
    val incr = Graph.triangleCountsIncremental(
      Graph.triangleCounts(old, "a", "b"), old, nw, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Graph.triangleCounts(old.unionByName(nw), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == scratch && incr == Map(1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 3L))
  }

  test("triangleCountsIncremental on a random split matches from-scratch") {
    val all = (for {
      i <- 0L until 15L; j <- (i + 1) until 15L
      if (i + j) % 4 != 0
    } yield (i, j)).toDF("a", "b")
    val old = all.where(($"a" * 31 + $"b") % 3 =!= 0)
    val nw = all.where(($"a" * 31 + $"b") % 3 === 0)
    val incr = Graph.triangleCountsIncremental(
      Graph.triangleCounts(old, "a", "b"), old, nw, "a", "b")
      .where($"n_tri" > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Graph.triangleCounts(all, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == scratch && scratch.nonEmpty)
  }

  test("personalizedPageRank on a path decays with distance from the seed") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("doc_id")
    val r = Graph.personalizedPageRank(e, "a", "b", seeds, "doc_id",
      iters = 2).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // N=3, |S|=1: base(1)=450000. r0=base.
    // r1 = (450000, 382500, 0); r2(1)=450000+(17*191250)div20=612562,
    // r2(2)=382500, r2(3)=162562 — monotone in hop distance
    assert(r == Map(1L -> 612562L, 2L -> 382500L, 3L -> 162562L))
  }

  test("personalizedPageRank ignores seeds absent from the graph") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val s1 = Seq(Tuple1(1L)).toDF("doc_id")
    val s2 = Seq(1L, 99L, 1L).map(Tuple1(_)).toDF("doc_id")
    val r1 = Graph.personalizedPageRank(e, "a", "b", s1, "doc_id", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val r2 = Graph.personalizedPageRank(e, "a", "b", s2, "doc_id", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 == r2)
  }

  test("personalizedPageRank is bit-identical under repartitioning") {
    val e = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey % 97 AS a", "o_orderkey % 89 AS b")
      .where($"a" =!= $"b")
    val seeds = Seq(0L, 1L, 2L).map(Tuple1(_)).toDF("doc_id")
    val r1 = Graph.personalizedPageRank(e, "a", "b", seeds, "doc_id", 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val r2 = Graph.personalizedPageRank(e.repartition(13), "a", "b",
      seeds, "doc_id", 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("a chain has no triangles; reversed/duplicate edges canonicalize") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.triangles(chain, "a", "b").count() == 0)
    // same triangle expressed with reversed and repeated edges: still 1
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (3L, 2L))
      .toDF("a", "b")
    val t = Graph.triangles(messy, "a", "b").collect()
    assert(t.length == 1)
    assert((t(0).getLong(0), t(0).getLong(1), t(0).getLong(2)) == (1L, 2L, 3L))
  }

  private def lpMap(e: org.apache.spark.sql.DataFrame) =
    Graph.linkPrediction(e, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

  test("linkPrediction on a path: the two-hop pair, RA = 1e6 div deg") {
    // 1-2-3: only candidate is (1,3) via 2, deg(2)=2
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(lpMap(e) == Map((1L, 3L) -> (1L, 500000L)))
  }

  test("linkPrediction on a star: leaf pairs share the hub's score") {
    // hub 1 with leaves 2,3,4: every leaf pair via 1, deg(1)=3
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    assert(lpMap(e) == Map(
      (2L, 3L) -> (1L, 333333L),
      (2L, 4L) -> (1L, 333333L),
      (3L, 4L) -> (1L, 333333L)))
  }

  test("linkPrediction excludes existing edges and sums shared neighbors") {
    // square 1-2-3-4-1 plus diagonal 1-3: (2,4) has common neighbors
    // {1,3} (deg 3 each) and is NOT an edge → n_common=2,
    // ra = 2*(1e6 div 3); (1,3) also has two common neighbors but IS
    // an edge → excluded
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("a", "b")
    assert(lpMap(e) == Map((2L, 4L) -> (2L, 666666L)))
  }

  test("linkPrediction is invariant under edge order and direction") {
    val e1 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val e2 = Seq((4L, 3L), (2L, 1L), (3L, 2L), (2L, 3L)).toDF("a", "b")
    assert(lpMap(e1) == lpMap(e2))
  }

  private def communities(e: org.apache.spark.sql.DataFrame, iters: Int = 4) =
    Graph.labelPropagation(e, "a", "b", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation splits two cliques that a bridge edge connects") {
    // triangles {1,2,3} and {4,5,6} joined by (3,4): connected
    // components would merge everything; LPA keeps two communities
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    assert(communities(e) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("labelPropagation min-label tie-break on a single edge") {
    // both endpoints see votes {1, 2} in round 1 → both pick 1
    val e = Seq((2L, 1L)).toDF("a", "b")
    assert(communities(e) === Map(1L -> 1L, 2L -> 1L))
  }

  test("labelPropagation is invariant to partitioning and edge direction") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 5L),
      (6L, 7L), (7L, 8L), (6L, 8L), (5L, 6L))
    val e1 = edges.toDF("a", "b")
    val e2 = edges.reverse.map { case (a, b) => (b, a) }
      .toDF("a", "b").repartition(7)
    assert(communities(e1) === communities(e2))
  }

  test("labelPropagation matches a driver-side sync-rounds reference") {
    val rng = new scala.util.Random(777L)
    for (trial <- 0 until 3) {
      val n = 14
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rng.nextDouble() < 0.22
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val got = communities(edges.toDF("a", "b"), iters = 4)

        // reference: identical synchronous rounds, serially
        val adj = (edges.map { case (a, b) => a -> b } ++
          edges.map { case (a, b) => b -> a })
          .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
        var lbl = adj.keys.map(v => v -> v).toMap
        for (_ <- 1 to 4) {
          lbl = adj.map { case (v, ns) =>
            val votes = (ns.map(lbl) :+ lbl(v))
              .groupBy(identity).map { case (l, o) => l -> o.size }
            v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }
        assert(got === lbl, s"trial $trial mismatch")
      }
    }
  }

  private def coreMap(e: org.apache.spark.sql.DataFrame, k: Int,
                      maxRounds: Int = 8) =
    Graph.kCore(e, "a", "b", k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: a chain has an empty 2-core") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(coreMap(e, k = 2).isEmpty)
  }

  test("kCore: triangle with a tail keeps only the triangle") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    assert(coreMap(e, k = 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: a path needs one peel round per depth level") {
    // 1-2-3-4-5 under k=2: round 1 drops the endpoints, round 2 drops
    // 2 and 4 (their degree just fell), round 3 drops 3 — the
    // multi-round cascade a single-pass degree filter would get wrong
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(coreMap(e, k = 2).isEmpty)
    // a too-small round budget stops mid-cascade, by construction
    assert(coreMap(e, k = 2, maxRounds = 1) == Map(2L -> 1L, 3L -> 2L,
      4L -> 1L))
  }

  test("kCore converged early is a fixed point: extra rounds change nothing") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    assert(coreMap(e, k = 2, maxRounds = 3) ==
      coreMap(e, k = 2, maxRounds = 50))
  }

  test("kCore matches a driver-side peel reference on random graphs") {
    val rng = new scala.util.Random(4242L)
    for (trial <- 0 until 3) {
      val n = 16
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rng.nextDouble() < 0.25
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val got = coreMap(edges.toDF("a", "b"), k = 3, maxRounds = 16)

        // reference: peel to the fixed point, serially
        var es = edges.toSet
        var changed = true
        while (changed) {
          val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
          val keep = deg.filter(_._2 >= 3).keySet
          val next = es.filter(e => keep(e._1) && keep(e._2))
          changed = next != es
          es = next
        }
        val ref = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
        assert(got === ref, s"trial $trial mismatch")
      }
    }
  }

  // ----------------------------------------------------------- HITS

  private def hitsMap(e: org.apache.spark.sql.DataFrame, iters: Int) =
    Graph.hits(e, "a", "b", iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("hits: on an out-star the center is the only hub, leaves the " +
    "only authorities") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val h = hitsMap(e, iters = 4)
    assert(h(1L) == (1000000L, 0L))
    assert(h(2L) == (0L, 1000000L))
    assert(h(3L) == (0L, 1000000L))
    assert(h(4L) == (0L, 1000000L))
  }

  test("hits matches a driver-side integer replay on random DAGs") {
    val rng = new scala.util.Random(777L)
    for (trial <- 0 until 3) {
      val n = 14
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rng.nextDouble() < 0.3
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val got = hitsMap(edges.toDF("a", "b"), iters = 4)
        // reference: the same integer half-rounds, serially
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        var hub = nodes.map(_ -> 1000000L).toMap
        var auth = nodes.map(_ -> 1000000L).toMap
        def renorm(m: Map[Long, Long]) = {
          val mx = m.values.max
          m.map { case (v, s) => v -> s * 1000000L / mx }
        }
        for (_ <- 1 to 4) {
          hub = renorm(nodes.map(v =>
            v -> edges.filter(_._1 == v).map(e => auth(e._2)).sum).toMap)
          auth = renorm(nodes.map(v =>
            v -> edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap)
        }
        val ref = nodes.map(v => v -> (hub(v), auth(v))).toMap
        assert(got === ref, s"trial $trial mismatch")
      }
    }
  }

  test("modularityReport matches the hand-computed Newman decomposition") {
    // triangle {1,2,3} + edge 4-5, bridged by 3-4; communities
    // A={1,2,3}, B={4,5}. m=5, e_A=3 d_A=7, e_B=1 d_B=3:
    // contrib = 4*5*3-49 = 11 and 4*5*1-9 = 11, Q = 22/100 = 0.22
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (3L, 4L))
      .toDF("a", "b")
    val asg = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("node", "comm")
    val r = Graph.modularityReport(e, "a", "b", asg, "node", "comm")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r == Map(
      "A" -> ((3L, 3L, 7L, 11L)),
      "B" -> ((2L, 1L, 3L, 11L))))
  }

  test("modularityReport: zero-intra communities and unassigned nodes") {
    // single edge 1-2 split across communities: both get e_c=0 and a
    // NEGATIVE numerator (4*1*0 - 1); node 3's edge 2-3 is ignored
    // because 3 has no assignment, but it still adds to m and degrees
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val asg = Seq((1L, "a"), (2L, "b")).toDF("node", "comm")
    val r = Graph.modularityReport(e, "a", "b", asg, "node", "comm")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // m=2; deg(1)=1 deg(2)=2; a: 4*2*0-1 = -1; b: 4*2*0-4 = -4
    assert(r == Map(
      "a" -> ((1L, 0L, 1L, -1L)),
      "b" -> ((1L, 0L, 2L, -4L))))
  }

  test("hits is bit-identical under repartitioning and edge " +
    "duplication (canonical directed edges)") {
    val e = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_custkey % 53 AS a", "o_orderkey % 47 AS b")
      .where($"a" =!= $"b")
    val r1 = hitsMap(e, iters = 3)
    val r2 = hitsMap(e.union(e).repartition(11), iters = 3)
    assert(r1 == r2)
  }

  test("degree-ordered orientation: a planted hub centers ZERO wedges " +
    "(id-ordered would center C(d,2)); triangles still exact") {
    // star K1,50 with the hub at the SMALLEST id — the worst case for
    // id-ordered orientation, which would enumerate 50*49/2 = 1225
    // wedges at the hub; (degree, id) orientation points every star
    // edge leaf→hub, so the hub centers nothing and the graph has no
    // wedges at all
    val star = (2L to 51L).map(i => (1L, i)).toDF("a", "b")
    val eStar = Graph.canonicalEdges(star, "a", "b")
    assert(Graph.orientedWedges(Graph.orientedEdges(eStar)).count() == 0)
    assert(Graph.triangles(star, "a", "b").count() == 0)
    // plant one triangle through the hub: exactly ONE wedge survives
    // (centered at the lowest-degree triangle vertex), and the triple
    // comes back id-sorted
    val withTri = star.union(Seq((2L, 3L)).toDF("a", "b"))
    val eTri = Graph.canonicalEdges(withTri, "a", "b")
    assert(Graph.orientedWedges(Graph.orientedEdges(eTri)).count() == 1)
    val t = Graph.triangles(withTri, "a", "b").collect()
    assert(t.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 2L, 3L)))
  }

  test("linkPrediction maxDegree purges hub-centered evidence and the " +
    "dropped-hubs audit reports exactly the purged hub") {
    // hub 1 (deg 3) over leaves 2,3,4 plus path 2-5-3 (deg(5)=2).
    // maxDegree=2 drops hub 1 as a wedge CENTER: (2,4)/(3,4) vanish,
    // (2,3) keeps only its via-5 evidence, and (1,5) — centered at the
    // degree-2 leaves — is untouched.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (5L, 3L))
      .toDF("a", "b")
    val guarded = Graph.linkPrediction(e, "a", "b", maxDegree = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(guarded == Map(
      (1L, 5L) -> ((2L, 1000000L)),   // via 2 and 3, deg 2 each
      (2L, 3L) -> ((1L, 500000L))))   // via 5 only; hub evidence purged
    val dropped = Graph.linkPredictionDroppedHubs(e, "a", "b", 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dropped == Map(1L -> 3L))
    // default cap keeps every hub: the unguarded result still has the
    // hub-backed pairs
    val full = lpMap(e)
    assert(full((2L, 4L)) == ((1L, 333333L)) &&
      full((2L, 3L)) == ((2L, 833333L)))
  }

  test("triangleDelta hub-append: low-degree-endpoint probe keeps exact " +
    "equality when new edges touch a planted hub") {
    // old = star K1,40; appended edges close triangles THROUGH the hub
    // (2-3 with hub edges), attach a new spoke, and bridge it back —
    // the delta must probe each new edge from its low-degree side and
    // still enumerate exactly the new triangles
    val old = (2L to 41L).map(i => (1L, i)).toDF("a", "b")
    val nw = Seq((2L, 3L), (1L, 42L), (42L, 2L), (3L, 4L)).toDF("a", "b")
    val incr = Graph.triangleCountsIncremental(
      Graph.triangleCounts(old, "a", "b"), old, nw, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Graph.triangleCounts(old.unionByName(nw), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == scratch && incr.nonEmpty)
  }

  test("clusteringCoefficients: exact basis points on the square+diagonal; " +
    "star hub and leaves report zero") {
    // square 1-2-3-4-1 + diagonal 1-3: triangles (1,2,3) and (1,3,4);
    // deg 1,3 = 3 and 2,4 = 2; cc_bp = 2*20000 div 6 = 6666 for the
    // diagonal endpoints, 1*20000 div 2 = 10000 for the corners
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("a", "b")
    val r = Graph.clusteringCoefficients(e, "a", "b").collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      1L -> ((3L, 2L, 6666L)), 2L -> ((2L, 1L, 10000L)),
      3L -> ((3L, 2L, 6666L)), 4L -> ((2L, 1L, 10000L))))
    // star: the hub's neighborhood has no internal edge (cc 0), leaves
    // have degree 1 (cc 0 by convention)
    val star = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val s = Graph.clusteringCoefficients(star, "a", "b").collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(s.size == 6 && s.values.forall(_ == 0L))
  }

  test("edgeSupport: K4 edges support 2, chain edges support 0, " +
    "square+diagonal splits 1/2") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val s4 = Graph.edgeSupport(k4, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s4.size == 6 && s4.values.forall(_ == 2L))
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.edgeSupport(chain, "a", "b").collect()
      .forall(_.getLong(2) == 0L))
    // square 1-2-3-4-1 + diagonal 1-3: the diagonal sits in BOTH
    // triangles, every side in exactly one
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("a", "b")
    val s5 = Graph.edgeSupport(sq, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s5 == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (3L, 4L) -> 1L,
      (1L, 4L) -> 1L, (1L, 3L) -> 2L))
  }

  test("edgeSupportIncremental equals from-scratch support on the " +
    "combined graph (old, new and mixed triangles all fold)") {
    // old: square 1-2-3-4-1 (no triangles, all supports 0);
    // new: both diagonals — every K4 triangle has >= 1 new edge
    val old = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val nw = Seq((1L, 3L), (2L, 4L)).toDF("a", "b")
    val incr = Graph.edgeSupportIncremental(
      Graph.edgeSupport(old, "a", "b"), old, nw, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val scratch = Graph.edgeSupport(old.unionByName(nw), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(incr == scratch && incr.size == 6 &&
      incr.values.forall(_ == 2L))
    // mixed case: old triangle {1,2,3} + new edge closing {1,3,4}
    // (old edges 1-3... make old = triangle + pendant, new = closer)
    val old2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val nw2 = Seq((1L, 4L)).toDF("a", "b")
    val incr2 = Graph.edgeSupportIncremental(
      Graph.edgeSupport(old2, "a", "b"), old2, nw2, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val scratch2 = Graph.edgeSupport(old2.unionByName(nw2), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(incr2 == scratch2 && incr2((1L, 3L)) == 2L)
  }

  test("kTruss keeps triangle-certified edges, peels cascade across " +
    "rounds, and reports fixed-point support") {
    // K4 + pendant path 4-5-6: K4 survives the 3-truss with support 2
    // per edge; the path edges sit in no triangle and peel in round 1
    val g1 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val t1 = Graph.kTruss(g1, "a", "b", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t1.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(t1.values.forall(_ == 2L))
    // bowtie (two triangles sharing only node 3): 3-truss keeps both
    // triangles; 4-truss (support >= 2) peels everything
    val g2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L)).toDF("a", "b")
    val t2 = Graph.kTruss(g2, "a", "b", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t2.size == 6 && t2.values.forall(_ == 1L))
    assert(Graph.kTruss(g2, "a", "b", k = 4).count() == 0)
    // CASCADE: triangle strip T{1,2,3}, T{2,3,4}, T{3,4,5} — at k=4
    // only the shared edges (2,3) and (3,4) have support 2 in round 1,
    // but once the rim peels they lose their triangles and die in
    // round 2. One round is NOT enough; the fixed point is empty.
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("a", "b")
    assert(Graph.kTruss(strip, "a", "b", k = 4, maxRounds = 1)
      .count() == 2, "round 1 must keep the two spine edges")
    assert(Graph.kTruss(strip, "a", "b", k = 4).count() == 0,
      "the peel must cascade to empty at the fixed point")
    // k=4 on K4 itself: survives whole
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    assert(Graph.kTruss(k4, "a", "b", k = 4).count() == 6)
  }

  test("kTrussWitnessed reports non-convergence on a deep peel cascade " +
    "and the fixed point once rounds suffice") {
    // DEEP synchronous cascade (peel depth 11 > the default maxRounds
    // 5): a spine x_1..x_20 of chained triangles whose interior edges
    // each have support exactly 2 — one triangle through the PREVIOUS
    // spine edge, one through the NEXT — so each round can only erode
    // one spine edge from each end (support drops to 1 only when a
    // neighbor died the round before). Chords (x_{t-1}, x_{t+1}) and
    // the x-to-core wing edges are parity-wired into a K8 core so they
    // keep support >= 2 FOREVER (same-parity spine vertices share a
    // core pair; adjacent ones don't, so spine edges get no core
    // help): the only erosion channel is the spine cascade itself.
    // Verified against an independent reference peel: 105 edges,
    // fixed point at 86 after 11 rounds.
    val T = 20
    val core = for {
      i <- 0 until 8; j <- (i + 1) until 8
    } yield (i.toLong, j.toLong)
    val wings = for {
      t <- 1 to T
      z <- if (t % 2 == 0) Seq(0L, 1L) else Seq(2L, 3L)
    } yield (z, (100 + t).toLong)
    val spine = (1 until T).map(t => ((100 + t).toLong, (101 + t).toLong))
    val chords = (2 until T).map(t => ((99 + t).toLong, (101 + t).toLong))
    val g = (core ++ wings ++ spine ++ chords).toDF("a", "b")
    val partial = Graph.kTrussWitnessed(g, "a", "b", k = 4)
    assert(!partial.converged,
      "maxRounds=5 must be insufficient on an 11-deep cascade")
    assert(partial.rounds == 5)
    // the partial result is an honest SUPERSET: edges with support
    // below k-2 remain because the peel was cut short
    assert(partial.edges.where($"support" < 2).count() > 0)
    val full = Graph.kTrussWitnessed(g, "a", "b", k = 4, maxRounds = 40)
    assert(full.converged && full.rounds == 11)
    val edges = full.edges.collect()
    assert(edges.length == 86)
    // fixed point: every surviving edge truss-certified
    assert(edges.forall(_.getLong(2) >= 2L))
  }

  test("kCoreWitnessed reports non-convergence on a long-path cascade") {
    // k=2 core of a 14-node path: each synchronous round peels only
    // the two current endpoints, so the peel empties in 7 rounds and
    // the no-op confirming round makes 8 — maxRounds=3 must return a
    // SUPERSET with converged=false
    val path = (1L until 14L).map(i => (i, i + 1)).toDF("a", "b")
    val partial = Graph.kCoreWitnessed(path, "a", "b", k = 2,
      maxRounds = 3)
    assert(!partial.converged && partial.rounds == 3)
    assert(partial.nodes.count() > 0,
      "cut-short peel must keep interior nodes")
    val full = Graph.kCoreWitnessed(path, "a", "b", k = 2,
      maxRounds = 20)
    assert(full.converged && full.rounds == 8)
    assert(full.nodes.count() == 0, "a path has no 2-core")
  }

  test("clusteringCoefficientsIncremental equals from-scratch on the " +
    "combined graph (counts and degrees both folded)") {
    val old = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val nw = Seq((1L, 3L), (2L, 4L), (4L, 5L)).toDF("a", "b")
    val degOld = Graph.canonicalEdges(old, "a", "b")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array($"a", $"b")).as("node"))
      .groupBy("node").count().withColumnRenamed("count", "degree")
    val incr = Graph.clusteringCoefficientsIncremental(
      Graph.triangleCounts(old, "a", "b"), degOld, old, nw, "a", "b")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val scratch = Graph.clusteringCoefficients(
      old.unionByName(nw), "a", "b")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(incr == scratch && incr(5L) == ((1L, 0L, 0L)))
  }

  test("linkPrediction minCommon pushdown returns exactly the " +
    "post-filtered unpushed result on a random graph") {
    val e = (for {
      i <- 0L until 20L; j <- (i + 1) until 20L
      if (i + j) % 3 == 0
    } yield (i, j)).toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val pushed = asMap(Graph.linkPrediction(e, "a", "b", minCommon = 3L))
    val post = asMap(Graph.linkPrediction(e, "a", "b")
      .where($"n_common" >= 3))
    assert(pushed == post && pushed.nonEmpty)
  }
}
