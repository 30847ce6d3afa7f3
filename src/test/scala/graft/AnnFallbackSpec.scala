package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The large-codebook ANN assignment fallback (broadcast +
  * graft_argmax_long), pinned (r11 verdict item 4: every bench lane
  * keeps ≤ 128 centroids, so only the literal row-local path ran —
  * the 100 TB auto-nlist path was verified by spec only):
  *
  *  1. plan shape — the fallback assignment runs as a HashAggregate
  *     with MAP-SIDE PARTIAL aggregation of graft_argmax_long, never a
  *     SortAggregate demotion or a Window sort;
  *  2. row selection — bit-equal to the crossJoin + row_number()=1
  *     window formulation it replaced, ties and NaN included;
  *  3. end to end — a >128-centroid index build takes the fallback and
  *     a conf-forced fallback build of a SMALL index equals the
  *     literal-path build artifact for artifact (lists, search and an
  *     append), as do the other assignment sites (trained IVF search,
  *     IVF assignments, IVF∘PQ search, semantic dedup); conf-forced
  *     k-means training and PQ encoding equal their literal paths,
  *     each run's plan showing the broadcast + argmax shape.
  */
class AnnFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long): Seq[Double] =
    (0 until 6).map(d => (((i + 1) * (d + 3) * 2654435761L) % 997L + 1L)
      .toDouble / 998.0)

  /** The broadcast + graft_argmax_long assignment shape. */
  private def isArgmaxFallback(plan: String): Boolean =
    plan.contains("graft_argmax_long") && plan.contains("BroadcastExchange")

  test("argmax fallback plans as partial HashAggregate, no " +
    "SortAggregate, no Window") {
    val sims = (0L until 200L).flatMap(n =>
      (0L until 150L).map(c =>
        (n, c, ((n * 7 + c * 13) % 101).toDouble / 101.0)))
      .toDF("n_id", "c_id", "c_sim")
    val picked = Similarity.argmaxPick(sims, Seq("n_id"), "c_sim", "c_id")
    val plan = picked.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"argmax must run in HashAggregateExec:\n$plan")
    assert(plan.contains("partial_graft_argmax_long"),
      s"argmax must aggregate map-side (partial):\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"argmax demoted to SortAggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"argmax fell back to a window:\n$plan")
  }

  test("argmax fallback selects the window formulation's rows " +
    "bit-identically (ties and NaN included)") {
    val base = (0L until 120L).flatMap(n =>
      (0L until 150L).map(c =>
        (n, c, ((n + c) % 13).toDouble / 13.0)))
    // planted ties (two c_ids at the max sim) and NaN rows (NaN sorts
    // LARGEST in Spark's double order, so a NaN row wins its group)
    val rows = base ++ Seq((500L, 9L, 0.5), (500L, 4L, 0.5),
      (501L, 7L, Double.NaN), (501L, 2L, 1.0))
    val sims = rows.toDF("n_id", "c_id", "c_sim")
    val viaAgg = Similarity.argmaxPick(sims, Seq("n_id"), "c_sim", "c_id")
      .select("n_id", "c_id")
      .collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy(col("n_id"))
      .orderBy(col("c_sim").desc, col("c_id"))
    val viaWin = sims.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).select("n_id", "c_id")
      .collect().map(_.toString).sorted.toSeq
    assert(viaAgg == viaWin)
  }

  test("a >128-centroid IVF-SQ index build takes the fallback and " +
    "stays consistent") {
    val corpus = (0L until 400L).map(i => (i, vec(i)))
      .toDF("id", "emb")
    val path = Scratch.dir("spec-ann_fb").toString + "/idx"
    Similarity.writeIvfSqIndex(corpus, "id", "emb", path,
      nlist = 150, iters = 1)
    val lists = spark.read.parquet(s"$path/codes")
      .select("n_id", "list_id")
    assert(lists.count() == 400)
    val nLists = lists.select("list_id").distinct().count()
    assert(nLists > 1 && nLists <= 150)
  }

  test("conf-forced fallback build equals the literal-path build, " +
    "artifact for artifact") {
    val corpus = (0L until 300L).map(i => (i, vec(i))).toDF("id", "emb")
    val queries = (0L until 20L).map(i => (i + 9000L, vec(i * 3 + 1)))
      .toDF("id", "emb")
    val root = Scratch.dir("spec-ann_eq").toString
    val pLit = s"$root/lit"
    val pFb = s"$root/fb"
    Similarity.writeIvfSqIndex(corpus, "id", "emb", pLit,
      nlist = 12, iters = 2)
    withSQLConf("graft.ann.maxLiteralCents" -> "0") {
      Similarity.writeIvfSqIndex(corpus, "id", "emb", pFb,
        nlist = 12, iters = 2)
    }
    def listsOf(p: String) = spark.read.parquet(s"$p/codes")
      .select("n_id", "list_id")
      .collect().map(_.toString).sorted.toSeq
    assert(listsOf(pLit) == listsOf(pFb),
      "fallback assignment diverged from the literal path")
    def searchOf(p: String) = Similarity.ivfSqTopKFromIndex(
      queries, "id", "emb", p, k = 5, nprobe = 3)
      .collect().map(_.toString).sorted.toSeq
    val sLit = searchOf(pLit)
    val sFb = withSQLConf("graft.ann.maxLiteralCents" -> "0") {
      searchOf(pFb)
    }
    assert(sLit.nonEmpty && sLit == sFb,
      "fallback search diverged from the literal path")
    // an append under the frozen quantizer assigns like the build
    val batch = (300L until 340L).map(i => (i, vec(i))).toDF("id", "emb")
    Similarity.appendToIvfSqIndex(batch, "id", "emb", pLit)
    withPlans(withSQLConf("graft.ann.maxLiteralCents" -> "0") {
      Similarity.appendToIvfSqIndex(batch, "id", "emb", pFb)
    }) { plans =>
      assert(plans.exists(isArgmaxFallback),
        "forced append never ran the broadcast + argmax assignment")
    }
    assert(listsOf(pLit).size == 340 && listsOf(pLit) == listsOf(pFb),
      "fallback append diverged from the literal path")
    // every other nearest-centroid assignment site, on the same data
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val searches = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ivfTopKTrained" -> (() => Similarity.ivfTopKTrained(queries, corpus,
        "id", "emb", k = 5, nlist = 12, nprobe = 3)),
      "ivfAssignments" -> (() => Similarity.ivfAssignments(corpus, "id",
        "emb", nlist = 12)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(queries, corpus, "id",
        "emb", k = 5, nlist = 12, nprobe = 3, m = 2, ksub = 8)))
    searches.foreach { case (name, run) =>
      val viaLit = run()
      val forced = withSQLConf("graft.ann.maxLiteralCents" -> "0")(run())
      val fbPlan = forced.queryExecution.executedPlan.toString
      assert(isArgmaxFallback(fbPlan),
        s"forced $name did not take the broadcast + argmax path:\n$fbPlan")
      val litRows = rows(viaLit)
      assert(litRows.nonEmpty && litRows == rows(forced),
        s"fallback $name diverged from the literal path")
    }
    // semanticDedup returns its spilled result: its plans come from a
    // query listener
    def semDedup() = rows(Similarity.semanticDedup(corpus, "id", "emb",
      threshold = 0.99, nlist = 12))
    val dLit = semDedup()
    val dFb = withPlans(
      withSQLConf("graft.ann.maxLiteralCents" -> "0")(semDedup())) { plans =>
      assert(plans.exists(isArgmaxFallback),
        "forced semanticDedup never ran the broadcast + argmax assignment")
    }
    assert(dLit.size == 300 && dLit == dFb,
      "fallback semanticDedup diverged from the literal path")
  }

  test("conf-forced fallback k-means training equals the literal path, " +
    "and its plans take the broadcast + argmax shape") {
    val corpus = (0L until 300L).map(i => (i, vec(i))).toDF("id", "emb")
    def train() = Similarity.kmeansQuantized(corpus, "id", "emb",
        nlist = 12, iters = 2)
      .map { case (cid, csum, cnt) => (cid, csum.toSeq, cnt) }
    val viaLit = train()
    // training returns centroids, not a frame: its plans are read from
    // a query listener
    val forced = withPlans(
      withSQLConf("graft.ann.maxLiteralCents" -> "0")(train())) { plans =>
      assert(plans.exists(isArgmaxFallback),
        "forced training never ran the broadcast + argmax assignment")
    }
    assert(viaLit == forced,
      "fallback training diverged from the literal path")
  }

  test("conf-forced fallback PQ encode equals the literal path, and its " +
    "plan takes the broadcast + argmax shape") {
    val corpus = (0L until 300L).map(i => (i, vec(i))).toDF("id", "emb")
    val books = Similarity.pqCodebooks(corpus, "id", "emb", m = 2,
      ksub = 8, iters = 2)
    val viaLit = Similarity.pqEncode(corpus, "id", "emb", books, m = 2)
    val forced = withSQLConf("graft.ann.maxLiteralCents" -> "0") {
      Similarity.pqEncode(corpus, "id", "emb", books, m = 2)
    }
    val fbPlan = forced.queryExecution.executedPlan.toString
    assert(isArgmaxFallback(fbPlan),
      s"forced encode did not take the broadcast + argmax path:\n$fbPlan")
    assert(!viaLit.queryExecution.executedPlan.toString
      .contains("graft_argmax_long"), "literal encode must fold row-locally")
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val litCodes = codes(viaLit)
    assert(litCodes.size == 600)
    assert(litCodes == codes(forced),
      "fallback encode diverged from the literal path")
  }
}
