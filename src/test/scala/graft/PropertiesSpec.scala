package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.EtlOps

/** Property tests promised in SURVEY.md §5.3: dedup idempotence,
  * merge row-count bounds, full-outer key coverage, audit non-null.
  * Generators build small keyed tables with colliding keys and order
  * values so windows actually have to break ties. Raw ScalaCheck
  * generators with fixed seeds (the scalatest bridge isn't on the
  * offline classpath); 10 deterministic samples per property.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(40, for {
      k <- Gen.choose(1L, 8L)       // few keys → many collisions
      t <- Gen.choose(1L, 5L)       // few order values → real ties
      v <- Gen.identifier.map(_.take(6))
    } yield (k, t, v)).map(_.distinct)

  private def samples(n: Int): Seq[List[(Long, Long, String)]] =
    (0 until n).map(i =>
      rowsGen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("dedupLatest is idempotent and emits one row per distinct key") {
    samples(10).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("k", "t", "v")
      val once = EtlOps.dedupLatest(df, Seq("k"), Seq($"t".desc, $"v".desc))
      val twice = EtlOps.dedupLatest(once, Seq("k"), Seq($"t".desc, $"v".desc))
      val a = once.collect().map(_.toSeq).toSet
      assert(a == twice.collect().map(_.toSeq).toSet, s"not idempotent: $rows")
      assert(a.size == rows.map(_._1).distinct.size, s"wrong key count: $rows")
    }
  }

  test("coalesceMerge covers exactly keys(L) ∪ keys(R), no null keys") {
    samples(10).sliding(2).foreach { case Seq(l, r) =>
      val lk = l.map(x => (x._1, x._3)).distinctBy(_._1)
      val rk = r.map(x => (x._1 + 4, x._3)).distinctBy(_._1) // partial overlap
      if (lk.nonEmpty && rk.nonEmpty) {
        val out = EtlOps.coalesceMerge(
          lk.toDF("k", "v"), rk.toDF("k", "v"), "k")
        val keys = out.select($"k").collect().map(_.getLong(0)).toSet
        assert(keys == (lk.map(_._1) ++ rk.map(_._1)).toSet, s"keys: $lk / $rk")
        assert(out.where($"k".isNull).count() == 0)
      }
    }
  }

  test("bucketed range join == naive theta join on random timestamps") {
    val W = 100L // window
    val gen: Gen[List[(Long, Long, Long)]] =
      Gen.listOfN(60, for {
        k <- Gen.choose(1L, 4L)
        id <- Gen.choose(1L, 100000L)
        t <- Gen.choose(0L, 1000L) // many bucket-boundary collisions
      } yield (k, id, t)).map(_.distinctBy(_._2))
    (0 until 8).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(7L + i))
      if (rows.nonEmpty) {
        val left = rows.toDF("k", "id", "ts")
        val right = rows.map(r => (r._1, r._3 + (r._2 % 7) - 3))
          .toDF("k", "ts")
        val got = graft.operators.RangeJoin.countInWindow(
          left, right, Seq("k"), "ts", "ts", "id", W)
          .select($"id", $"n_in_window")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val exp = rows.map { case (k, id, t) =>
          id -> rows.map(r => (r._1, r._3 + (r._2 % 7) - 3))
            .count(c => c._1 == k && c._2 >= t - W && c._2 < t).toLong
        }.toMap
        assert(got == exp, s"range join mismatch on sample $i")
      }
    }
  }

  test("native shingle/simhash expressions == HOF forms on random unicode") {
    val textGen: Gen[String] = Gen.listOfN(30, Gen.frequency(
      5 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 1 -> Gen.const('中'),
      1 -> Gen.const('\t'), 1 -> Gen.oneOf('é', 'ß', '.', '!')))
      .map(_.mkString)
    val texts = (0 until 40).map(i =>
      textGen.pureApply(Gen.Parameters.default, Seed(11L + i)))
    val df = texts.toDF("text")
    import graft.functions.native.NativeFns
    val mism = df
      .withColumn("__th", HofReference.tokenHashes48(col("text")))
      .select(
        (array_sort(NativeFns.shingleHashes($"text", 5)) =!=
          array_sort(HofReference.shingleHashes($"text", 5))).as("d1"),
        (NativeFns.simhashNative($"text") =!=
          HofReference.simhash48("__th")).as("d2"))
      .where($"d1" || $"d2").count()
    assert(mism == 0)
  }

  test("connectedComponents rep = min of component on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(25, for {
        a <- Gen.choose(1L, 15L)
        b <- Gen.choose(1L, 15L)
        if a != b
      } yield (a, b)).map(_.distinct)
    (0 until 6).foreach { i =>
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(23L + i))
      if (edges.nonEmpty) {
        // reference union-find on the driver
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val byRoot = nodes.groupBy(find)
        val expected = byRoot.flatMap { case (_, members) =>
          val rep = members.min
          members.map(_ -> rep)
        }
        // both execution paths must produce the identical assignment:
        // the default (single-stage union-find for graphs this small)
        // and the forced pointer-doubling iteration
        val fast = graft.operators.Dedup.connectedComponents(
          edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val iter = graft.operators.Dedup.connectedComponents(
          edges.toDF("a", "b"), "a", "b", smallGraphMaxEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(fast == expected, s"fast-path cc mismatch on sample $i: $edges")
        assert(iter == expected, s"iterative cc mismatch on sample $i: $edges")
      }
    }
  }

  test("WAV codec round-trip: decode(planted) == planted for random " +
    "(samples, rate)") {
    val gen: Gen[(Int, Int)] = for {
      n <- Gen.choose(1, 5000)
      r <- Gen.oneOf(8000, 11025, 16000, 22050, 44100)
    } yield (n, r)
    (0 until 12).foreach { i =>
      val (n, r) = gen.pureApply(Gen.Parameters.default, Seed(77L + i))
      val m = graft.multimodal.Multimodal
        .decodeWav(graft.multimodal.Multimodal.syntheticWav(n, r, i)).get
      assert(m.channels == 1 && m.bits == 16, s"sample $i")
      assert(m.sampleRate == r && m.nSamples == n, s"sample $i: $m")
      assert(m.durationMs == n.toLong * 1000L / r, s"sample $i: $m")
    }
  }

  test("block-occupancy guard == driver-computed within-kept-block " +
    "pairs on random skews") {
    val gen: Gen[List[(Long, String)]] =
      Gen.listOfN(80, for {
        id <- Gen.choose(1L, 10000L)
        k <- Gen.frequency((6, Gen.const("hot")),
          (4, Gen.oneOf("a", "b", "c", "d", "e", "f")))
      } yield (id, k)).map(_.distinctBy(_._1))
    (0 until 8).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(99L + i))
      val cap = 12
      val kept = rows.groupBy(_._2).filter(_._2.size <= cap)
      val expected = kept.values.flatMap { members =>
        val ids = members.map(_._1)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      val got = graft.operators.EntityResolution.blockedPairs(
          rows.toDF("id", "k"), "id", col("k"), maxBlockSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"sample $i: cap=$cap sizes=" +
        rows.groupBy(_._2).view.mapValues(_.size).toMap)
    }
  }

  test("fleissKappa == driver-computed exact-integer reference on " +
    "random equal-n annotation tables") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gen: Gen[(Int, Int, List[String])] = for {
      nItems <- Gen.choose(2, 12)
      nAnn <- Gen.choose(2, 4)
      labs <- Gen.listOfN(nItems * nAnn, Gen.oneOf("A", "B", "C"))
    } yield (nItems, nAnn, labs)
    (0 until 10).foreach { i =>
      val (nItems, nAnn, labs) =
        gen.pureApply(Gen.Parameters.default, Seed(1234L + i))
      val rows = labs.zipWithIndex.map { case (l, j) =>
        ((j / nAnn).toLong, l)
      }
      // driver reference: the same integer terms, the same final
      // double division and HALF_UP rounding as the operator
      val cells = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val s = cells.values.map { ls =>
        ls.groupBy(identity).values.map(g => g.size.toLong * g.size).sum -
          nAnn.toLong
      }.sum
      val t = nItems.toLong * nAnn * (nAnn - 1)
      val catTotals = rows.map(_._2).groupBy(identity).values
        .map(_.size.toLong).toList
      val u = catTotals.map(c => c * c).sum
      val tot = catTotals.sum
      val v = tot * tot
      val expKappa =
        if (v == u) None
        else Some(round6((s * v - u * t).toDouble / (t * (v - u)).toDouble))
      val out = graft.ops.Labels
        .fleissKappa(rows.toDF("item", "label"), "item", "label").head()
      assert(out.getLong(0) == nItems.toLong &&
        out.getLong(1) == nAnn.toLong, s"sample $i shape")
      assert(out.getDouble(2) == round6(s.toDouble / t), s"sample $i p_bar")
      assert(out.getDouble(3) == round6(u.toDouble / v), s"sample $i p_exp")
      val gotKappa = if (out.isNullAt(4)) None else Some(out.getDouble(4))
      assert(gotKappa == expKappa,
        s"sample $i kappa: got $gotKappa want $expKappa " +
          s"(N=$nItems n=$nAnn s=$s t=$t u=$u v=$v)")
    }
  }

  test("stored-index search (pruned literal probe scan) == from-scratch " +
    "ivfSqTopK on random integer-grid embeddings") {
    val dir = Scratch.dir("spec-propidx")
    try {
      val gen: Gen[List[Seq[Double]]] = Gen.listOfN(36,
        Gen.listOfN(6, Gen.choose(-8, 8).map(_.toDouble)).map(_.toSeq))
        // a zero vector has no cosine direction; keep the grid away from it
        .map(_.map(v => if (v.forall(_ == 0.0)) Seq(1.0, 0, 0, 0, 0, 0) else v))
      (0 until 3).foreach { i =>
        val vecs = gen.pureApply(Gen.Parameters.default, Seed(55L + i))
          .zipWithIndex.map { case (v, j) => (j.toLong, v) }
        val emb = vecs.toDF("vec_id", "embedding")
        val path = new java.io.File(dir, s"idx$i").toString
        graft.operators.Similarity.writeIvfSqIndex(
          emb, "vec_id", "embedding", path, nlist = 4, iters = 1)
        val q = emb.filter(col("vec_id") < 6)
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getLong(3))).sortBy(x => (x._1, x._4)).toSeq
        val stored = canon(graft.operators.Similarity.ivfSqTopKFromIndex(
          q, "vec_id", "embedding", path, k = 3, nprobe = 2))
        val scratch = canon(graft.operators.Similarity.ivfSqTopK(
          q, emb, "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2,
          iters = 1))
        assert(stored == scratch,
          s"sample $i: stored-index search diverged from from-scratch")
        assert(stored.nonEmpty, s"sample $i: degenerate fixture")
      }
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(dir)
    }
  }

  test("gapFilledCounts preserves totals and emits exactly the spans") {
    val evGen = Gen.listOfN(30, for {
      k <- Gen.choose(1L, 5L)
      ts <- Gen.choose(-100L, 100L).map(_ * 1000000000L) // ±100s, incl. <0
      v <- Gen.choose(1, 9).map(_.toDouble)
    } yield (k, ts, v)).map(_.distinctBy(x => (x._1, x._2)))
    (0 until 10).foreach { i =>
      val rows = evGen.pureApply(Gen.Parameters.default, Seed(7L + i))
      if (rows.nonEmpty) {
        val df = rows.toDF("user_id", "ts", "value")
        val out = graft.operators.TimeSeries
          .gapFilledCounts(df, "user_id", "ts", "value", 10L).collect()
        // row totals survive the resample exactly
        assert(out.map(_.getLong(2)).sum == rows.size)
        // per key: buckets form the contiguous floor-div span
        def fdiv(ts: Long) = Math.floorDiv(ts, 10000000000L)
        rows.groupBy(_._1).foreach { case (k, evs) =>
          val bks = out.filter(_.getLong(0) == k).map(_.getLong(1)).sorted
          val (lo, hi) = (evs.map(e => fdiv(e._2)).min, evs.map(e => fdiv(e._2)).max)
          assert(bks.toSeq == (lo to hi).toSeq, s"key $k span")
        }
      }
    }
  }

  test("stratifiedSample picks are stable under permutation and union") {
    val gen = Gen.listOfN(60, for {
      k <- Gen.choose(1L, 1000L)
      s <- Gen.oneOf("a", "b", "c")
    } yield (k, s)).map(_.distinct)
    (0 until 10).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(99L + i))
      val df = rows.toDF("k", "s")
      val rates = Map("a" -> 0.5, "b" -> 0.1)
      def pick(d: org.apache.spark.sql.DataFrame) =
        graft.ops.Sampling.stratifiedSample(d, $"s", $"k", rates, 0.25)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val base = pick(df)
      // permutation / partitioning invariance
      assert(pick(df.orderBy($"k".desc).repartition(5)) == base)
      // decision is row-local: a union picks the union of the picks
      val half = rows.take(rows.size / 2)
      assert(pick(half.toDF("k", "s"))
        .union(pick(rows.drop(rows.size / 2).toDF("k", "s"))) == base)
    }
  }

  test("incrementalDedup(batch, corpus) ∩ corpus fingerprints = ∅ and " +
    "covers every novel fingerprint once") {
    val gen = Gen.listOfN(40, for {
      id <- Gen.choose(1L, 500L)
      t <- Gen.oneOf("x", "y", "z", "w", "q").map(c => s"doc $c body")
    } yield (id, t)).map(_.distinctBy(_._1))
    (0 until 10).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(123L + i))
      val (c, b) = rows.splitAt(rows.size / 2)
      if (c.nonEmpty && b.nonEmpty) {
        val corpus = c.toDF("doc_id", "text")
        val batch = b.toDF("doc_id", "text")
        val out = graft.operators.Dedup
          .incrementalDedup(batch, corpus, "text", "doc_id")
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val corpusFps = c.map(_._2).toSet
        val novel = b.filterNot(x => corpusFps.contains(x._2))
        // one row per novel distinct text, keeper is the min batch id
        assert(out.map(_._1).distinct.length == out.length)
        assert(out.length == novel.map(_._2).distinct.size)
        novel.groupBy(_._2).foreach { case (_, docs) =>
          assert(out.exists(_._2 == docs.map(_._1).min))
        }
      }
    }
  }

  test("incrementalClusters == from-scratch clustering on random graphs") {
    import graft.operators.Dedup
    val pairGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(25, for {
        a <- Gen.choose(1L, 20L)
        b <- Gen.choose(1L, 20L) if a != b
      } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
    (0 until 5).foreach { i =>
      val all = pairGen.pureApply(Gen.Parameters.default, Seed(7L + i))
      if (all.size >= 4) {
        val (old, fresh) = all.splitAt(all.size / 2)
        val existing = Dedup.connectedComponents(old.toDF("a", "b"), "a", "b")
        val incr = Dedup.incrementalClusters(
            existing, fresh.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = Dedup.connectedComponents(
            (old ++ fresh).toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(incr === full, s"sample $i diverged")
      }
    }
  }

  test("majorityVote: votes <= n_annotations, agreement in (0,1], " +
    "winner has max count") {
    import graft.ops.Labels
    val annGen: Gen[List[(Long, String)]] =
      Gen.listOfN(60, for {
        item <- Gen.choose(1L, 10L)
        lab <- Gen.oneOf("a", "b", "c")
      } yield (item, lab))
    (0 until 5).foreach { i =>
      val ann = annGen.pureApply(Gen.Parameters.default, Seed(11L + i))
        .zipWithIndex.map { case ((item, lab), j) => (item, j.toLong, lab) }
      val df = ann.toDF("item", "annotator", "label")
      val out = Labels.majorityVote(df, "item", "label").collect()
      val counts = ann.groupBy(_._1).view.mapValues(_.groupBy(_._3)
        .view.mapValues(_.size).toMap).toMap
      out.foreach { r =>
        val (item, label, votes, n, agr) =
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getDouble(4))
        assert(votes <= n && agr > 0.0 && agr <= 1.0)
        assert(counts(item).values.max === votes.toInt,
          s"item $item: $label not a max-count label")
      }
      assert(out.length === counts.size) // one adjudication per item
    }
  }

  test("removeBoilerplateLines: kept+dropped = total lines; " +
    "clean_text is a subsequence of the original") {
    import graft.operators.Corpus
    val docGen: Gen[List[(Long, String)]] =
      Gen.listOfN(12, for {
        id <- Gen.choose(1L, 1000L)
        lines <- Gen.listOfN(5, Gen.oneOf("x", "y", "z", "unique", "w"))
      } yield (id, lines.mkString("\n"))).map(_.distinctBy(_._1))
    (0 until 5).foreach { i =>
      val docs = docGen.pureApply(Gen.Parameters.default, Seed(23L + i))
      val df = docs.toDF("doc_id", "text")
      val out = Corpus.removeBoilerplateLines(df, "text", "doc_id", 3L)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      docs.foreach { case (id, text) =>
        val orig = text.split("\n", -1)
        val (clean, kept, dropped) = out(id)
        assert(kept + dropped === orig.length)
        // kept lines appear in original order (subsequence check)
        val cleanLines = if (clean.isEmpty) Array.empty[String]
          else clean.split("\n", -1)
        var j = 0
        cleanLines.foreach { l =>
          while (j < orig.length && orig(j) != l) j += 1
          assert(j < orig.length, s"doc $id: '$l' out of order")
          j += 1
        }
      }
    }
  }

  test("mergeIntervals == driver sort-sweep merge on random intervals") {
    val gen: Gen[List[(Long, Long, Long)]] =
      Gen.listOfN(50, for {
        k <- Gen.choose(1L, 5L)
        s <- Gen.choose(0L, 100L)
        len <- Gen.choose(0L, 30L)
      } yield (k, s, s + len))
    (0 until 8).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(900L + i))
        .zipWithIndex.map { case ((k, s, e), id) => (k, id.toLong, s, e) }
      // driver reference: per key, sort by start and sweep with a
      // running max end; touching intervals merge (strict > splits)
      val expected = rows.groupBy(_._1).flatMap { case (k, ivs) =>
        val sorted = ivs.map(x => (x._3, x._4)).sortBy(identity)
        val islands = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long)] // (start, maxEnd, n)
        sorted.foreach { case (s, e) =>
          if (islands.nonEmpty && s <= islands.last._2) {
            val (is, ie, n) = islands.last
            islands(islands.length - 1) = (is, math.max(ie, e), n + 1)
          } else islands += ((s, e, 1L))
        }
        islands.zipWithIndex.map { case ((s, e, n), idx) =>
          (k, idx + 1L) -> ((s, e, n))
        }
      }
      val got = graft.operators.TimeSeries
        .mergeIntervals(rows.toDF("k", "id", "s", "e"), "k", "s", "e", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == expected, s"sample $i diverged")
    }
  }

  test("linkPrediction == driver brute-force common-neighbor scoring " +
    "on random graphs") {
    val gen: Gen[List[(Long, Long)]] =
      Gen.listOfN(40, for {
        a <- Gen.choose(1L, 12L)
        b <- Gen.choose(1L, 12L)
      } yield (a, b)).map(_.filter(e => e._1 != e._2))
    (0 until 8).foreach { i =>
      val raw = gen.pureApply(Gen.Parameters.default, Seed(1300L + i))
      val edges = raw.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      if (edges.nonEmpty) {
        val adj = edges.flatMap(e => Seq(e, e.swap))
          .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
        val nodes = adj.keys.toSeq.sorted
        val expected = (for {
          a <- nodes; b <- nodes if a < b && !adj(a).contains(b)
          common = adj(a).intersect(adj(b)) if common.nonEmpty
        } yield (a, b) -> ((common.size.toLong,
          common.toSeq.map(v => 1000000L / adj(v).size).sum))).toMap
        val got = graft.operators.Graph
          .linkPrediction(raw.toDF("a", "b"), "a", "b")
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3)))).toMap
        assert(got == expected, s"sample $i diverged")
      }
    }
  }

  test("suppressBelowK: rows preserved, surviving groups all >= k, " +
    "suppression matches the driver's group census") {
    samples(8).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("k", "t", "v")
      val k = 3L
      val out = graft.ops.Privacy.suppressBelowK(df, Seq("k", "t"), k)
        .collect()
      assert(out.length == rows.length, "row count changed")
      val census = rows.groupBy(x => (x._1, x._2)).map {
        case (g, rs) => g -> rs.size
      }
      // a surviving (non-null) quasi tuple must come from a group >= k,
      // and exactly the >= k rows survive
      val survivors = out.filter(!_.isNullAt(0))
      survivors.foreach { r =>
        assert(census((r.getLong(0), r.getLong(1))) >= k)
      }
      val expectSurvive = rows.count(x => census((x._1, x._2)) >= k)
      assert(survivors.length == expectSurvive)
    }
  }

  test("scdMerge output keys = keys(ods) ∪ keys(dwd); audit never null") {
    samples(10).sliding(2).foreach { case Seq(o, d) =>
      if (o.nonEmpty && d.nonEmpty) {
        val ods = o.toDF("k", "t", "v")
        val dwd = EtlOps.withAudit(d.map(x => (x._1 + 3, x._2, x._3))
          .distinctBy(_._1).toDF("k", "t", "v"))
        val out = EtlOps.scdMerge(ods, dwd, Seq("k"), "t", Seq($"v".desc))
        val keys = out.select($"k").collect().map(_.getLong(0)).toSet
        assert(keys == (o.map(_._1) ++ d.map(_._1 + 3)).toSet)
        assert(out.where($"dwd_insert_time".isNull ||
          $"dwd_modify_time".isNull || $"dwd_insert_user".isNull).count() == 0)
      }
    }
  }
}
