package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.MaintainedIndex

/** Embedding similarity search over an ArrayType(FloatType) column:
  * brute-force cosine top-k as the exact baseline, and a deterministic
  * random-hyperplane LSH bucketing as the 100 TB scale path.
  *
  * All dot products run through zip_with + aggregate in DOUBLE — native
  * codegen'd higher-order functions, no UDFs — and fold in array index
  * order, which is exactly how the DuckDB oracle computes them.
  *
  * Scale design: brute-force is O(|queries| × |corpus|) with the query
  * side broadcast — correct approach when |queries| is small; the LSH
  * variant buckets both sides on a 16-bit hyperplane signature so
  * candidate generation is a hash join on the bucket id, turning the
  * cross product into O(collisions). Recall is tested against the exact
  * baseline in SimilaritySpec.
  */
object Similarity {

  /** embedding array<float> → array<double> (exact widening). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd dot product (graft.functions.native.DotProductExpr);
    * resolves in any session built with [[graft.GraftExtensions]]. Same
    * ascending-index fold as DuckDB list_dot_product (DotProductSpec
    * pins bit-equality with a pure higher-order-function fold). */
  def dot(a: Column, b: Column): Column =
    graft.functions.native.NativeFns.dotNative(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Deterministic per-key argmax WITHOUT a window: one row per `keys`
    * — the `tieCol` (bigint) of the row with the largest `ordCol`
    * (double), ties toward the smallest tie — via the native
    * primitive-buffer aggregate
    * [[graft.functions.native.ArgMaxLongAgg]]. Replaces the
    * crossJoin(broadcast)+row_number()=1 idiom in every assignment
    * path: the centroid fan-out collapses MAP-SIDE (nlist/ksub
    * candidate rows per key → 1 before the exchange) inside a
    * HashAggregate, and the window's per-partition sort disappears.
    * Row selection is identical (NaN-largest double order, smallest
    * tie on equality — see the aggregate's doc). Output: keys, tie.
    * Wide payload columns (vectors, codes) are re-attached by a thin
    * post-argmax key join — an array in an aggregation buffer would
    * demote the plan to SortAggregate (measured slower than the
    * window this replaces).
    */
  private[graft] def argmaxPick(df: DataFrame, keys: Seq[String],
                                ordCol: String, tieCol: String): DataFrame = {
    // the aggregate's caller contract (non-null ord/tie) made
    // STRUCTURAL: a group whose every ord is null would otherwise
    // evaluate to the initial buffer (Long.MaxValue) and emit a garbage
    // tie value. Every current caller computes ord from non-null
    // inputs, so this filter drops nothing in practice.
    df.where(col(ordCol).isNotNull && col(tieCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.native.NativeFns
        .argmaxLong(col(ordCol), col(tieCol)).as(tieCol))
  }

  /** Bounded-centroid fast path: how many centroids a nearest-centroid
    * assignment will fold ROW-LOCALLY against a collected literal
    * codebook before falling back to the broadcast-join + argmax
    * aggregation — the one bound for IVF assignment, k-means training
    * and PQ encoding. Small codebooks (every fixed-nlist ANN lane; FAISS
    * keeps them in registers for the same reason) assign with ZERO
    * exchanges — the argmax fuses into the scan; large trained
    * codebooks (auto-nlist at 100 TB) keep the broadcast shape.
    * Conf-overridable (`graft.ann.maxLiteralCents`) so each fallback is
    * equality-pinned against the literal path on the SAME data
    * (AnnFallbackSpec — every bench lane stays ≤ 128, leaving the
    * 100 TB path verified by spec only). */
  private def maxLiteralCents(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.ann.maxLiteralCents")
      .map(_.toInt).getOrElse(128)

  /** Collect a centroid table `(c_id, c_v, c_norm)` when it is small
    * enough for the literal fast path; None ⇒ caller takes the
    * broadcast fallback. The collect evaluates the SAME plan the
    * broadcast would have shipped, so c_norm doubles are bit-identical
    * to the in-plan norm the join formulation compared. */
  private def centsLocal(cents: DataFrame)
      : Option[Seq[(Long, Seq[Double], Double)]] = {
    val bound = maxLiteralCents(cents.sparkSession)
    val rows = cents.select(col("c_id"), col("c_v"), col("c_norm"))
      .limit(bound + 1).collect()
    // empty ⇒ broadcast fallback: nearestCidExpr over zero candidates
    // would build array() of no structs (array<void>) and fail
    // analysis, where the join formulation just yields an empty result
    if (rows.isEmpty || rows.length > bound) None
    else Some(rows.map(r =>
      (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq)
  }

  /** Row-local nearest-centroid id over a LITERAL codebook: the c_id
    * maximizing dot(v, c_v)/(vNorm·c_norm), ties to the smallest c_id
    * — exactly the row the window / argmax formulations select
    * (array_max compares struct(s, -c_id) under the same NaN-largest
    * double order), with the similarity computed by the SAME dot/÷
    * expression tree, so the chosen ids are bit-identical. */
  private def nearestCidExpr(v: Column, vNorm: Column,
      cents: Seq[(Long, Seq[Double], Double)]): Column = {
    val cands = cents.sortBy(_._1).map { case (cid, cv, cn) =>
      struct((dot(v, typedLit(cv)) / (vNorm * lit(cn))).as("s"),
        lit(-cid).as("nc"))
    }
    -array_max(array(cands: _*)).getField("nc")
  }

  /** `(p_id, p_v: array<double>, p_norm)` for prefix `p`: the vector
    * projection every search side starts from. */
  private def vecs(df: DataFrame, idCol: String, vecCol: String,
                   p: String): DataFrame =
    df.select(col(idCol).as(s"${p}_id"), asDouble(col(vecCol)).as(s"${p}_v"))
      .withColumn(s"${p}_norm", norm(col(s"${p}_v")))

  /** Nearest-centroid assignment `(c_id, id, carry…)` of every row:
    * the c_id maximizing dot(v, c_v)/(norm·c_norm), ties to the
    * smallest c_id. Bounded codebooks assign row-locally (zero
    * exchange, argmax fused into the scan); large ones take the
    * broadcast + thin argmax shape, re-attaching the `carry` columns by
    * id only when there are any (an id-only caller gains no join). */
  private def assignNearest(rows: DataFrame, id: String, v: String,
                            vNorm: String, cents: DataFrame,
                            carry: Seq[String]): DataFrame = {
    val out = (Seq("c_id", id) ++ carry).map(col)
    centsLocal(cents) match {
      case Some(cl) =>
        rows.withColumn("c_id", nearestCidExpr(col(v), col(vNorm), cl))
          .select(out: _*)
      case None =>
        val picked = argmaxPick(
          rows.crossJoin(broadcast(cents))
            .withColumn("c_sim",
              dot(col(v), col("c_v")) / (col(vNorm) * col("c_norm")))
            .select(col(id), col("c_id"), col("c_sim")),
          Seq(id), "c_sim", "c_id")
        (if (carry.isEmpty) picked
         else picked.join(rows.select((id +: carry).map(col): _*), id))
          .select(out: _*)
    }
  }

  /** Probe selection: each query's `nprobe` nearest centroids by
    * (cosine desc, c_id) as `(q_id, q_v, q_norm, c_id)` — queries
    * `(q_id, q_v, q_norm)` × the broadcast centroid table, no corpus
    * input. */
  private def probes(q: DataFrame, cents: DataFrame,
                     nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("c_id"))
    q.crossJoin(broadcast(cents))
      .withColumn("c_sim",
        dot(col("q_v"), col("c_v")) / (col("q_norm") * col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nprobe)
      .select(col("q_id"), col("q_v"), col("q_norm"), col("c_id"))
  }

  /** Exact rerank of candidate `pairs` carrying `(q_id, q_v, q_norm,
    * n_id, nv, nn)`: sim = round(cos, 4), ranked per query on
    * (sim desc, n_id) — a total, oracle-stable order — and cut at `k`.
    * Output: `(q_id, n_id, sim, rank: long)`. */
  private def rankTopK(pairs: DataFrame, nv: String, nn: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    pairs
      .withColumn("sim", round(
        dot(col("q_v"), col(nv)) / (col("q_norm") * col(nn)), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Exact cosine top-k: for each query row (small side, broadcast), the
    * k nearest corpus rows by cosine, ranked on (round(sim,4) desc, id)
    * so ordering is total and oracle-stable.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = vecs(queries, idCol, vecCol, "q")
    val c = vecs(corpus, idCol, vecCol, "n")
    rankTopK(broadcast(q).join(c, col("q_id") =!= col("n_id")),
      "n_v", "n_norm", k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    * of two top-k rankings over the same id space — the
    * hybrid-retrieval combiner (dense + sparse, exact + compressed,
    * old index + new index) every serving stack ends up needing.
    * Each list contributes `10⁶ div (kc + rank)` to a document's
    * fused score — exact integers, so the fused ORDER is
    * engine-identical with no float compare; ties break on n_id.
    * Inputs are any two of this library's `(q_id, n_id, …, rank)`
    * rankings. Pure relational compose: one full-outer join on
    * (q_id, n_id) — both sides already ≤ k rows per query, so the
    * join is bounded by the rankings, never the corpus — and one
    * per-query rank window.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              kc: Long = 60L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kc >= 1, s"kc must be >= 1, got $kc")
    def scored(r: DataFrame, out: String) =
      r.select(col("q_id"), col("n_id"),
        expr(s"1000000 div ($kc + rank)").as(out))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("fscore").desc, col("n_id"))
    scored(a, "sa")
      .join(scored(b, "sb"), Seq("q_id", "n_id"), "full_outer")
      .select(col("q_id"), col("n_id"),
        (coalesce(col("sa"), lit(0L)) + coalesce(col("sb"), lit(0L)))
          .as("fscore"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Per-query recall of an approximate top-k ranking against the
    * exact one — the index-quality AUDIT a production ANN deployment
    * runs before trusting (and after rebuilding) an index: sample
    * queries, search both ways, gate the deploy on recall@k. Both
    * inputs are `(q_id, n_id, ...)` rankings (any of this library's
    * topK operators); output is `(q_id, n_exact, n_hit, recall)` with
    * recall rounded to 4 decimals. Pure relational compose — one
    * semi-join on the id pairs plus two per-query counts; at 100 TB
    * the audit costs one brute-force search over the SAMPLED query
    * set (bounded by construction), never over the corpus pair space.
    */
  def recallReport(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("q_id"), col("n_id"))
    val hits = e.join(approx.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double"), 4).as("recall"))
  }

  /** All pairs (a < b) with cosine >= threshold — exact, for near-dup
    * detection on a bounded corpus slice (the oracle-checkable form;
    * use `lshBuckets` + bucket join for unbounded corpora).
    *
    * Norms are precomputed per row BEFORE the pair join (n ops instead
    * of n² — 3× less per-pair work), numerically identical to computing
    * them per pair.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val c1 = corpus.select(col(idCol).as("id_a"),
      asDouble(col(vecCol)).as("v_a"))
      .withColumn("norm_a", norm(col("v_a")))
    val c2 = corpus.select(col(idCol).as("id_b"),
      asDouble(col(vecCol)).as("v_b"))
      .withColumn("norm_b", norm(col("v_b")))
    c1.join(c2, col("id_a") < col("id_b"))
      .withColumn("sim", round(
        dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 4))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Multi-table random-hyperplane LSH: `tables` independent signatures
    * of `bits` planes each. A row lands in one bucket per table; rows
    * colliding in ANY table become candidates (standard L-tables LSH —
    * more tables raise recall, more bits cut candidates). Output is one
    * row per (id, table) with that table's bucket id.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 tables: Int = 16, bits: Int = 6): DataFrame = {
    val v = asDouble(col(vecCol))
    // all tables×bits plane projections in one native pass over the
    // vector (graft.functions.native.LshBucketsExpr), then one bucket
    // row per table via posexplode (pos == table index)
    val buckets = graft.functions.native.NativeFns
      .lshBucketArr(v, tables, bits)
    df.select(col(idCol).as("id"), v.as("v"),
        posexplode(buckets).as(Seq("tbl", "bucket")))
  }

  /** The IVF search phase over a given centroid table
    * `(c_id, c_v: array<double>, c_norm)`.
    */
  private def ivfSearch(queries: DataFrame, corpus: DataFrame,
                        cents: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int): DataFrame = {
    val assigned = assignNearest(vecs(corpus, idCol, vecCol, "n"), "n_id",
      "n_v", "n_norm", cents, Seq("n_v", "n_norm"))
    val probed = probes(vecs(queries, idCol, vecCol, "q"), cents, nprobe)
    rankTopK(probed.join(assigned, Seq("c_id"))
      .where(col("q_id") =!= col("n_id")), "n_v", "n_norm", k)
  }

  /** Fixed-point quantization scale for k-means: 2^20 per unit. */
  val KmeansScale: Long = 1L << 20

  /** Deterministic Lloyd k-means over an embedding column, in EXACT
    * fixed-point arithmetic — returns the trained centroids as integer
    * SUM-vectors `(c_id, csum: Array[Long], cnt)`.
    *
    * Why integer sums: for cosine assignment the member count divides
    * out (`cos(v, csum/cnt) == cos(v, csum)`), so the centroid never
    * needs a floating-point division at all. Every cross-row reduction
    * in training (centroid component sums, member counts) is integer
    * and therefore ORDER-INDEPENDENT: the result is bit-identical run
    * to run, across task retries and partitionings (a double-summing
    * k-means is not — FP addition is non-associative, so a retried
    * partial re-aggregated in a different order changes centroids), and
    * reproducible by any other engine — the DuckDB oracle replays
    * training exactly (x_ann_ivf).
    *
    * Mechanics per iteration (all exact):
    *  - vectors quantized once: `qv[i] = floor(v[i] * 2^20)` (row-local);
    *  - assignment: cos(qv, csum) with the integer dot product and norms
    *    accumulated in decimal(38,0) (no 64-bit overflow), converted to
    *    double only for the final scalar compare; ties break on c_id;
    *  - update: per-(c_id, pos) integer sums + counts — one explode+agg;
    *    the nlist×dim result is collected to the driver (tiny) and
    *    re-broadcast as the next round's literal centroid table;
    *  - a cluster that loses all members keeps its previous centroid.
    *
    * Init: the `nlist` vectors with the smallest (hash32(id), id) — a
    * deterministic pseudo-random spread (hash32 is the md5-fold already
    * oracle-pinned by x_dataset_split).
    *
    * `trainSample` > 0 trains on the DETERMINISTIC SAMPLE of that many
    * rows — the ones with the smallest (hash32("smp:"+id), id), the
    * same hash-ordered-limit device as the init pick, so the oracle
    * replays the sample exactly. This decouples training cost from
    * corpus size (the FAISS practice: Lloyd on a bounded sample, then
    * one assignment pass over everything); 0 trains on the full corpus
    * (the pre-r5 behavior, kept for the trained-IVF oracles).
    *
    * Scale: each iteration is one broadcast-join pass + one explode+agg
    * shuffle over (sample × dim) thin rows — with `trainSample` set the
    * whole training phase is O(sample), and assignment stays a full
    * map-side pass either way.
    */
  def kmeansQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int,
                      trainSample: Int = 0): Seq[(Long, Array[Long], Long)] = {
    import graft.functions.TextFns
    require(trainSample == 0 || trainSample >= nlist,
      s"trainSample ($trainSample) must be 0 (train on full corpus) " +
        s"or >= nlist ($nlist)")
    val spark = corpus.sparkSession
    val dec = "decimal(38,0)"
    def sumSqDec(arr: Column): Column =
      aggregate(transform(arr, x => x.cast(dec) * x.cast(dec)),
        lit(0).cast(dec), (acc, x) => acc + x)
    def dotDec(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast(dec) * y.cast(dec)),
        lit(0).cast(dec), (acc, x) => acc + x)
    val base = corpus.select(col(idCol).as("n_id"),
        transform(asDouble(col(vecCol)),
          x => floor(x * KmeansScale)).as("qv"))
      .withColumn("qn2", sumSqDec(col("qv")).cast("double"))
    // With a sample, ONLY the sample is ever materialized: one
    // distributed top-N pass over the corpus pins O(trainSample) rows,
    // and no full-corpus checkpoint exists anywhere in training.
    val trainSrc =
      if (trainSample == 0) base
      else base
        .withColumn("hs", TextFns.hash32(
          concat(lit("smp:"), col("n_id").cast("string"))))
        .orderBy(col("hs"), col("n_id")).limit(trainSample)
        .drop("hs")
    val mat = graft.ops.Materialize(trainSrc, graft.ops.MatStrategy.Local)
    try {
      val init = mat.df
        .withColumn("h", TextFns.hash32(col("n_id").cast("string")))
        .orderBy(col("h"), col("n_id")).limit(nlist)
        .select(col("qv")).collect()
        .zipWithIndex.map { case (r, i) =>
          (i.toLong, r.getSeq[Long](0).toArray, 1L)
        }.toSeq
      var cents = init
      for (_ <- 1 to iters) {
        val centDf = spark.createDataFrame(cents)
          .toDF("c_id", "csum", "cnt")
          .withColumn("cn2", sumSqDec(col("csum")).cast("double"))
        // bounded codebooks fold row-locally against the literal
        // centroid sums (zero exchange — the assignment fuses into
        // the update scan); the cn2 doubles come from collecting the
        // same centDf expression the broadcast shipped, so every
        // compared similarity is bit-identical. Large auto-nlist
        // codebooks keep the broadcast + thin argmax shape.
        val assigned =
          if (cents.size <= maxLiteralCents(spark)) {
            val cl = centDf.select(col("c_id"), col("csum"), col("cn2"))
              .collect()
              .map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2)))
              .sortBy(_._1)
            val cands = cl.map { case (cid, csum, cn2) =>
              struct((dotDec(col("qv"), typedLit(csum)).cast("double") /
                (sqrt(col("qn2")) * sqrt(lit(cn2)))).as("s"),
                lit(-cid).as("nc"))
            }
            mat.df.select(
              (-array_max(array(cands.toSeq: _*)).getField("nc"))
                .as("c_id"),
              col("qv"))
          } else argmaxPick(
              mat.df.crossJoin(broadcast(centDf))
                .withColumn("c_sim",
                  dotDec(col("qv"), col("csum")).cast("double") /
                    (sqrt(col("qn2")) * sqrt(col("cn2"))))
                .select(col("n_id"), col("c_id"), col("c_sim")),
              Seq("n_id"), "c_sim", "c_id")
              .join(mat.df.select(col("n_id"), col("qv")), "n_id")
              .select(col("c_id"), col("qv"))
        val updated = assigned
          .select(col("c_id"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy(col("c_id"), col("pos"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            val arr = new Array[Long](rows.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
            cid -> ((arr, rows.head.getLong(3)))
          }
        // empty clusters keep their previous centroid
        cents = cents.map { case (cid, csum, cnt) =>
          updated.get(cid).map { case (s, c) => (cid, s, c) }
            .getOrElse((cid, csum, cnt))
        }
      }
      cents
    } finally mat.release()
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into
    * `nlist` inverted lists; a query probes only its `nprobe` nearest
    * lists and brute-forces within them — the standard scale path when
    * queries are many (LSH) or lists can be pre-partitioned on disk
    * ([[writeIvfSqIndex]]).
    *
    * The quantizer is k-means-trained ([[kmeansQuantized]]). The
    * centroid direction handed to the search phase is the integer
    * sum-vector scaled back to doubles (`csum/cnt/2^20` — row-local,
    * deterministic); cosine against it equals cosine against the mean.
    * All rankings are total: assignment breaks cosine ties on c_id,
    * probing on c_id, final ranking on (round(sim,4) desc, n_id).
    */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nlist: Int = 16, nprobe: Int = 4,
                     iters: Int = 2, trainSample: Int = 0): DataFrame = {
    val cents = trainedCentroidTable(corpus, idCol, vecCol, nlist, iters,
      trainSample)
    ivfSearch(queries, corpus, cents, idCol, vecCol, k, nprobe)
  }

  /** Per-vector trained-quantizer assignment table `(idCol, c_id)`:
    * each vector's nearest [[kmeansQuantized]] centroid by the same
    * broadcast argmax the search path uses — one scan, no shuffle
    * beyond the assignment window's per-row rank. This is the
    * EVALUATION feed: join it with a ground-truth label column for
    * cluster purity / balance audits, or with cost columns for
    * per-cluster capacity planning. (The ingest feed for the persisted
    * index is [[writeIvfSqIndex]], which assigns identically.)
    */
  def ivfAssignments(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int = 16, iters: Int = 2,
                     trainSample: Int = 0): DataFrame = {
    val cents = trainedCentroidTable(corpus, idCol, vecCol, nlist, iters,
      trainSample)
    assignNearest(vecs(corpus, idCol, vecCol, "n"), "n_id", "n_v", "n_norm",
        cents, Nil)
      .select(col("n_id").as(idCol), col("c_id"))
  }

  /** Product-quantization codebooks (Jégou, Douze, Schmid 2011): the
    * embedding splits into `m` contiguous `dim/m`-wide subspaces and
    * each gets an INDEPENDENT [[kmeansQuantized]] codebook of `ksub`
    * codewords over its sub-vectors — every corpus vector then stores
    * as `m` small codeword ids (`m·log2(ksub)` bits, vs `32·dim` for
    * the raw floats; at m=4/ksub=16 that is 2 BYTES per 64-dim vector,
    * a 128× compression, coarser than SQ8's 64× but with the lookup
    * structure ADC search wants). Training inherits every determinism
    * guarantee of the underlying quantizer (integer sums, hash-ordered
    * init/sample), so the DuckDB oracle replays all `m` codebooks
    * bit-exact (x_ann_pq).
    *
    * Returns the driver-side codebook (the documented O(KB) centroid
    * pattern — m·ksub·(dim/m) doubles): (s, c_id, c_v) per codeword.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int,
                  trainSample: Int = 0): Seq[(Int, Long, Seq[Double])] = {
    require(m >= 1, s"m must be >= 1, got $m")
    val sub = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
    (0 until m).flatMap { s =>
      val sliced = sub.select(col(idCol),
        expr(s"slice(__v, $s * (size(__v) div $m) + 1, " +
          s"size(__v) div $m)").as("__sv"))
      kmeansQuantized(sliced, idCol, "__sv", ksub, iters, trainSample)
        .map { case (cid, csum, cnt) =>
          (s, cid, csum.map(x => x.toDouble / cnt / KmeansScale).toSeq)
        }
    }
  }

  /** PQ encoding: `(n_id, s, code)` — per-subspace nearest-codeword
    * assignment, the same broadcast cosine-argmax pass as the IVF
    * assignment, over subspace-exploded thin rows. The full vector
    * never shuffles: slicing is row-local (one `posexplode` of the m
    * slices) and the codebook is a broadcast literal-sized table.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[(Int, Long, Seq[Double])],
               m: Int): DataFrame = {
    val spark = corpus.sparkSession
    val cb = spark.createDataFrame(codebooks).toDF("s", "c_id", "c_v")
      .withColumn("c_norm", norm(col("c_v")))
    val exploded = corpus
      .select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      .select(col("n_id"), posexplode(
        expr(s"transform(sequence(0, $m - 1), s -> " +
          s"slice(n_v, s * (size(n_v) div $m) + 1, size(n_v) div $m))"))
        .as(Seq("s", "sub_v")))
      .withColumn("sub_norm", norm(col("sub_v")))
    // bounded sub-codebooks encode ROW-LOCALLY: per exploded slice the
    // argmax folds over its subspace's literal codewords (zero
    // exchange beyond the explode's own narrow shape); the codeword
    // norms come from collecting the same cb expression the broadcast
    // shipped, so compared similarities are bit-identical. Oversized
    // codebooks keep the broadcast + argmax aggregation.
    // the guard is the MAX PER-SUBSPACE codebook size (not the distinct
    // c_id count across subspaces, which under-counts when subspaces
    // reuse ids), and slices whose subspace has no codewords are
    // FILTERED — the broadcast fallback's inner join on "s" drops those
    // rows, and the literal path must not resurrect them as null codes
    val ksub = codebooks.groupBy(_._1).values
      .foldLeft(0)((mx, g) => math.max(mx, g.size))
    if (ksub <= maxLiteralCents(spark)) {
      val rows = cb.select(col("s"), col("c_id"), col("c_v"),
          col("c_norm")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2),
          r.getDouble(3)))
      val bySub = rows.groupBy(_._1)
      val codeExpr = (0 until m).foldRight(lit(null).cast("long")) {
        case (si, acc) =>
          val cl = bySub.getOrElse(si, Array.empty).toSeq
            .map { case (_, cid, cv, cn) => (cid, cv, cn) }
          if (cl.isEmpty) acc
          else when(col("s") === si,
            nearestCidExpr(col("sub_v"), col("sub_norm"), cl))
            .otherwise(acc)
      }
      exploded
        .where(col("s").isInCollection(
          bySub.keys.toSeq.sorted.map(Integer.valueOf)))
        .select(col("n_id"), col("s"), codeExpr.as("code"))
    } else argmaxPick(
      exploded.join(broadcast(cb), "s")
        .withColumn("c_sim",
          dot(col("sub_v"), col("c_v")) / (col("sub_norm") * col("c_norm"))),
      Seq("n_id", "s"), "c_sim", "c_id")
      .select(col("n_id"), col("s"), col("c_id").as("code"))
  }

  /** PQ top-k search against the RECONSTRUCTION: each corpus row's
    * stored m codes rebuild the concatenated codeword vector
    * row-locally from the broadcast literal codebook (no join carries
    * a wide array), and queries score `round(cos(q, recon), 4)` —
    * exactly the quantity the oracle recomputes from its replayed
    * codebooks, summed in the same full-vector ascending-index fold
    * so the two engines agree bit-for-bit.
    *
    * Scale shape: after encoding, the corpus representation IS the
    * code table (2 bytes/vector at the defaults) — the scan side of
    * the search carries thin rows only, with reconstruction and
    * scoring fused row-local into the scan. Like the brute baseline
    * this variant visits every row per query (that is ADC's contract);
    * compose with the IVF probe pruning ([[ivfTopKTrained]] /
    * [[ivfSqTopKFromIndex]]) when sublinear reads are needed.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, ksub: Int = 16,
             iters: Int = 2, trainSample: Int = 0): DataFrame = {
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ksub, iters,
      trainSample)
    val recon = pqReconTable(corpus, idCol, vecCol, cbs, m)
    val q = vecs(queries, idCol, vecCol, "q")
    rankTopK(recon.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("n_id")), "r_v", "r_norm", k)
  }

  /** PQ reconstruction table `(n_id, r_v, r_norm)`: every corpus row's
    * m stored codes rebuild the concatenated codeword vector
    * row-locally from the broadcast literal codebook — no join carries
    * a wide array. Shared by [[pqTopK]] (exhaustive ADC) and
    * [[ivfPqTopK]] (probe-pruned ADC). */
  private def pqReconTable(corpus: DataFrame, idCol: String,
                           vecCol: String,
                           cbs: Seq[(Int, Long, Seq[Double])],
                           m: Int): DataFrame = {
    // nested literal codebook indexed [s][c_id] — m·ksub·(dim/m)
    // doubles folded into the plan as a constant
    val nested: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      val bySub = cbs.filter(_._1 == s).sortBy(_._2)
      bySub.map(_._3)
    }
    val cbLit = typedLit(nested)
    pqEncode(corpus, idCol, vecCol, cbs, m)
      .groupBy("n_id")
      .agg(array_sort(collect_list(struct(col("s"), col("code"))))
        .as("cs"))
      .withColumn("r_v", flatten(transform(col("cs"),
        c => element_at(
          element_at(cbLit, c.getField("s") + 1),
          (c.getField("code") + 1).cast("int")))))
      .withColumn("r_norm", norm(col("r_v")))
      .select(col("n_id"), col("r_v"), col("r_norm"))
  }

  /** IVF∘PQ: the coarse trained-IVF probe pruning composed with
    * PQ-code reconstruction scoring — the IVFPQ layout (Jégou, Douze,
    * Schmid 2011, §IV) as relational operators. The coarse quantizer
    * bounds READS (candidates come only from the `nprobe` probed
    * inverted lists — sublinear like [[ivfTopKTrained]]); the product
    * quantizer bounds BYTES (ranking touches nothing but the 2-byte
    * codes reconstructed row-locally from the broadcast codebook —
    * 128× smaller than raw floats at the defaults). Both quantizers
    * are the same deterministic integer k-means, so the DuckDB oracle
    * replays coarse + all m sub-codebooks bit-exact in one statement
    * (x_ann_ivf_pq).
    *
    * Plan: coarse assignment and probe selection are broadcast
    * argmaxes (id-only candidates through the probe join), the PQ
    * recon table joins by id AFTER pruning, so unprobed lists are
    * never reconstructed — the same decode-after-prune rule the stored
    * SQ8 index follows ([[ivfSqTopKFromIndex]]).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int = 16,
                nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
                iters: Int = 2, trainSample: Int = 0): DataFrame = {
    val cents = trainedCentroidTable(corpus, idCol, vecCol, nlist, iters,
      trainSample)
    val assigned = assignNearest(vecs(corpus, idCol, vecCol, "n"), "n_id",
      "n_v", "n_norm", cents, Nil)
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ksub, iters,
      trainSample)
    val recon = pqReconTable(corpus, idCol, vecCol, cbs, m)
    val probed = probes(vecs(queries, idCol, vecCol, "q"), cents, nprobe)
    rankTopK(probed.join(assigned, Seq("c_id"))
      .where(col("q_id") =!= col("n_id"))
      .join(recon, Seq("n_id")), "r_v", "r_norm", k)
  }

  /** Near-dup PAIRS via LSH bucketing — the 100 TB upgrade of
    * [[nearDupPairs]]: instead of the all-pairs product, candidates are
    * the pairs sharing a bucket in ANY of the `tables` hyperplane
    * signatures (a self hash-join on (table, bucket)), then verified
    * with the exact cosine and kept at >= `threshold`.
    *
    * Two choices make this the scale shape:
    *  - candidates are ID PAIRS ONLY through the self-join and the
    *    distinct — vectors join back afterwards, so the wide arrays
    *    never ride through the collision-sized shuffle;
    *  - `bits` defaults HIGHER than the top-k search variant (12 vs 6):
    *    an all-pairs screen meets every bucket's C(m,2) blow-up, so
    *    occupancy must be driven to O(1) per point (4096 buckets/table);
    *    a top-k search with a small query side tolerates — and wants —
    *    fatter buckets for recall. Tuning occupancy, not hardware, is
    *    what keeps candidate volume linear at 100 TB.
    *
    * Returns (id_a, id_b, sim) with id_a < id_b, sim rounded to 4.
    */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double,
                      tables: Int = 16, bits: Int = 12): DataFrame = {
    val b = lshBuckets(corpus, idCol, vecCol, tables, bits)
      .select(col("id"), col("tbl"), col("bucket"))
    val cand = b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = corpus.select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("norm_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("norm_b")), "id_b")
      .withColumn("sim", round(
        dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 4))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Approximate top-k: candidates are rows sharing a bucket in any of
    * the LSH tables, deduped, then exact-cosine reranked. Candidate
    * generation is a hash join on (table, bucket) — no cross product.
    *
    * Like [[lshNearDupPairs]], candidates are ID PAIRS ONLY through the
    * bucket join and the dedup exchange — the embedding arrays join back
    * only for the verified rerank, so the wide columns never ride the
    * collision-sized shuffle (the r3 occupancy lesson applied to the
    * search variant too).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              tables: Int = 16, bits: Int = 6): DataFrame = {
    // self-search (k-NN graph build): the projection pass is the most
    // expensive row-local stage, so when the query side IS the corpus
    // compute the bucket table once and self-join it
    val corpusBuckets = lshBuckets(corpus, idCol, vecCol, tables, bits)
    val qb = (if (queries eq corpus) corpusBuckets
              else lshBuckets(queries, idCol, vecCol, tables, bits))
      .select(col("id").as("q_id"), col("tbl"), col("bucket"))
    val cb = corpusBuckets
      .select(col("id").as("n_id"), col("tbl"), col("bucket"))
    val cand = qb.join(cb, Seq("tbl", "bucket"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")
    rankTopK(cand
      .join(vecs(queries, idCol, vecCol, "q"), "q_id")
      .join(vecs(corpus, idCol, vecCol, "n"), "n_id"), "n_v", "n_norm", k)
  }

  /** Margin-based bitext mining (the Artetxe & Schwenk ratio margin —
    * the standard recipe for harvesting parallel text from two
    * monolingual corpora embedded in a shared space): a (src, tgt)
    * pair survives iff each side is the other's TOP-1 neighbor
    * (mutual nearest) and the margin
    * `sim(x,y) / mean(avg top-k sim of x, avg top-k sim of y)`
    * clears `marginThreshold` — pairs merely near a dense hub score
    * ~1 and drop; genuinely aligned pairs stand out from both
    * neighborhoods.
    *
    * Scale shape: both directions are [[lshTopK]] (bucketed id-only
    * candidates — never |src|×|tgt|); the neighborhood averages are
    * one k-row aggregation per side. Engine-exactness: per-pair sims
    * are 4-decimal-rounded, neighborhood sums aggregate those as
    * INTEGER basis points (order-independent), and the margin divides
    * in one fixed IEEE order — the DuckDB oracle replays bucketing,
    * ranking, and margin bit-for-bit (x_bitext_mine).
    *
    * Returns (src_id, tgt_id, sim, margin).
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int = 4,
                 marginThreshold: Double = 0.0,
                 tables: Int = 16, bits: Int = 6): DataFrame = {
    val bp = round(col("sim") * 10000d, 0).cast("long")
    val fwd = lshTopK(src, tgt, idCol, vecCol, k, tables, bits)
    val rev = lshTopK(tgt, src, idCol, vecCol, k, tables, bits)
    val aggF = fwd.groupBy(col("q_id"))
      .agg(sum(bp).as("sf"), count(lit(1)).as("cf"))
    val aggR = rev.groupBy(col("q_id"))
      .agg(sum(bp).as("sr"), count(lit(1)).as("cr"))
    val f1 = fwd.where(col("rank") === 1)
      .select(col("q_id").as("src_id"), col("n_id").as("tgt_id"),
        col("sim"))
    val r1 = rev.where(col("rank") === 1)
      .select(col("q_id").as("tgt_id"), col("n_id").as("src_id"))
    f1.join(r1, Seq("src_id", "tgt_id"))
      .join(aggF.withColumnRenamed("q_id", "src_id"), "src_id")
      .join(aggR.withColumnRenamed("q_id", "tgt_id"), "tgt_id")
      .withColumn("margin", round(col("sim") /
        (((col("sf").cast("double") / col("cf") +
           col("sr").cast("double") / col("cr")) / 2.0d) / 10000.0d), 4))
      .where(col("margin") >= marginThreshold)
      .select(col("src_id"), col("tgt_id"), col("sim"), col("margin"))
  }

  /** Per-dimension SQ8 stats of a `(id, v: array<double>)` relation —
    * ONE row `(mnv, mxv)` (2 doubles per dimension), broadcast wherever
    * the affine code is applied and persisted verbatim by
    * [[writeIvfSqIndex]] so a stored index decodes bit-identically. */
  private def sqStats(c: DataFrame): DataFrame =
    c.select(posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("pos"))
      .agg(min(col("val")).as("mn"), max(col("val")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("mnv"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("mxv"))

  /** Row-local SQ8 code: `floor((x_i - mn_i) / (mx_i - mn_i) * 255)`,
    * flat dimensions → 0. Values are exact small integers in [0, 255]
    * carried as doubles (the shape the decode consumes); storage casts
    * them down ([[writeIvfSqIndex]]) and back without loss. */
  private val sqEncodeExpr: Column = expr(
    """zip_with(zip_with(v, mnv, (x, mn) -> x - mn),
      |         zip_with(mxv, mnv, (a, b) -> a - b),
      |         (d, r) -> CASE WHEN r = 0.0D THEN 0.0D
      |                        ELSE floor(d / r * 255.0D) END)""".stripMargin)

  /** Row-local SQ8 reconstruction `x~_i = mn_i + code_i*(mx_i-mn_i)/255`
    * — the SINGLE decode expression shared by the in-memory path and
    * the stored-index path, so both produce the identical IEEE result. */
  private val sqDecodeExpr: Column = expr(
    """zip_with(zip_with(codes, zip_with(mxv, mnv, (a, b) -> a - b),
      |                  (cd, r) -> cd * r / 255.0D),
      |         mnv, (s, mn) -> mn + s)""".stripMargin)

  /** SQ8 encode+decode of a corpus: per-dimension min/max stats (one
    * tiny aggregate, broadcast back) then the row-local affine code and
    * its reconstruction. Returns (`idCol`, dv: array&lt;double&gt;) —
    * the decoded corpus that [[sqTopK]] scores directly and
    * [[ivfSqTopK]] feeds to the trained IVF as ITS corpus. Split out so
    * both compose the identical, oracle-replayable quantization. */
  def sqDecode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
    c.crossJoin(broadcast(sqStats(c)))
      .withColumn("codes", sqEncodeExpr)
      .withColumn("dv", sqDecodeExpr)
      .select(col(idCol), col("dv"))
  }

  /** Scalar-quantized (SQ8) cosine top-k — the compressed-corpus search
    * path: each dimension is affinely mapped to an 8-bit code against
    * per-dimension corpus min/max, and search scores the full-precision
    * query against the DECODED corpus (asymmetric distance, the FAISS
    * SQ8 shape). At scale this is a memory/IO play, not a candidate
    * pruning play: codes are 1 byte per dimension where the raw column
    * is 4-8, so a 100 TB embedding corpus scans and caches at 4-8x
    * less — stack it under the IVF/LSH candidate generators for both
    * wins. The encode is one tiny stats aggregate (2 doubles per
    * dimension, broadcast back) plus a row-local map; everything is
    * deterministic (min/max are exact, the affine map evaluates in one
    * IEEE order on every engine), so the quantized results — unlike a
    * sampled or RNG-trained quantizer — are bit-reproducible.
    *
    * Returns (q_id, n_id, sim, rank) like the other top-k variants,
    * sim = cosine of (exact query, decoded neighbor) rounded to 4.
    */
  def sqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val enc = sqDecode(corpus, idCol, vecCol)
      .withColumnRenamed(idCol, "n_id")
      .withColumn("n_norm", norm(col("dv")))
    val q = vecs(queries, idCol, vecCol, "q")
    rankTopK(broadcast(q).join(enc, col("q_id") =!= col("n_id")),
      "dv", "n_norm", k)
  }

  /** Two-stage search: COMPRESSED candidate generation, EXACT rerank —
    * the production serving pattern for a quantized index (IVF-SQ/PQ
    * papers' "asymmetric distance + rerank" step): the SQ8-decoded
    * corpus proposes `cand` candidates per query (cheap, compressed-IO
    * pass), then ONLY those `cand · |queries|` rows are re-scored
    * against their full-precision vectors and the top `k` kept. The
    * rerank fetch is an id equi-join into the corpus — point lookups,
    * never a second scan-wide decode — so the exact pass costs
    * O(cand · |queries|) regardless of corpus size, while recall
    * recovers whatever the 8-bit rounding blurred inside the
    * candidate set. Ranked on (round(sim,4) DESC, n_id): total order,
    * oracle-stable.
    */
  def sqRerankTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   cand: Int): DataFrame = {
    require(cand >= k, s"candidate count $cand must be >= k=$k")
    val cands = sqTopK(queries, corpus, idCol, vecCol, cand)
      .select(col("q_id"), col("n_id"))
    val q = vecs(queries, idCol, vecCol, "q")
    val c = vecs(corpus, idCol, vecCol, "n")
    rankTopK(cands.join(broadcast(q), Seq("q_id")).join(c, Seq("n_id")),
      "n_v", "n_norm", k)
  }

  /** Johnson-Lindenstrauss random projection with a PORTABLE sign
    * matrix (Achlioptas 2003's ±1 database-friendly variant): output
    * dimension j of vector v is `Σ_i v_i · s(i,j)` with
    * `s(i,j) = +1 iff md5-hash32("i_j") is even` — no RNG state, so
    * the same matrix exists in any engine that can md5, and reruns,
    * retries, and oracles agree bit-for-bit. The matrix is driver-built
    * (O(inDim·outDim) — KBs) and folded into the plan as literals;
    * each projection is a fixed ascending-index fold, the same
    * evaluation order as DuckDB's list_dot_product, so the one
    * floating-point reduction is order-pinned on both engines.
    *
    * Scale shape: row-local, no shuffle — a map over the scan, exactly
    * like the SQ8 encode. 64→16 dims cuts downstream pair-scoring IO
    * 4× while JL keeps relative distances within the usual ε bounds
    * (audited relationally by the x_random_projection query, not
    * assumed).
    */
  def randomProject(corpus: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      s"need 1 <= outDim <= inDim, got inDim=$inDim outDim=$outDim")
    def hash32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val v = asDouble(col(vecCol))
    val comps = (0 until outDim).map { j =>
      val signs = array((0 until inDim).map { i =>
        lit(if (hash32(s"${i}_$j") % 2 == 0) 1.0d else -1.0d)
      }: _*)
      aggregate(zip_with(v, signs, (x, s) => x * s),
        lit(0.0d), (acc, x) => acc + x)
    }
    corpus.select(col(idCol), array(comps: _*).as("rv"))
  }

  /** Contrastive training triplets (anchor, positive, negative) mined
    * from the corpus — the data-prep stage for embedding-model
    * fine-tuning: POSITIVES are LSH-verified near-duplicate pairs
    * (same bucketed screen as [[lshNearDupPairs]]), NEGATIVES are
    * drawn deterministically from a hash-bucket pool so the same
    * corpus always yields the same triplets (no RNG — reruns and the
    * oracle reproduce them bit-for-bit).
    *
    * Negative sampling, scale shape: every corpus id hashes into one
    * of `negativePool` buckets; each bucket elects one representative
    * (smallest (hash32("rep:"+id), id) — a pseudo-random member). The
    * representatives are densely indexed (so empty buckets cost
    * nothing — no positive pair is ever dropped for hashing into one)
    * and the ≤`negativePool`-row relation broadcasts; each positive
    * pair picks index hash32(anchor:pos) % rep-count (the count ships
    * as a broadcast 1-row join). Triplets whose negative degenerates
    * (equals either side, or is itself a near-dup of the anchor) are
    * dropped deterministically. The negative election is a map-side-
    * combining aggregation: the shuffle for it carries at most
    * `negativePool` rows PER INPUT PARTITION, never the corpus — no
    * bucket-shaped skew, no straggler task per bucket.
    */
  def contrastiveTriplets(corpus: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, tables: Int = 16,
                          bits: Int = 12,
                          negativePool: Int = 64): DataFrame = {
    import graft.functions.TextFns
    // the positive relation feeds three consumers (triplet build, the
    // degenerate filter's anchor side, and the false-negative
    // anti-join) — persist it so the LSH screen runs once, and release
    // it after the eager spill materialization: no RDD blocks outlive
    // the call (same contract as minhashNearDupPairs)
    val pos = lshNearDupPairs(corpus, idCol, vecCol, threshold, tables, bits)
      .select(col("id_a").as("anchor_id"), col("id_b").as("pos_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each bucket elects its representative with a MIN over the
    // (hash, id) struct — an AGGREGATION, not a window: a window
    // partitioned by __b would shuffle the whole corpus into at most
    // `negativePool` partitions (one straggler task per bucket sorting
    // ~n/pool rows); the hash-agg combines map-side, so every input
    // partition contributes O(negativePool) rows to the shuffle. The
    // elected member is identical: the smallest (__h, cand_id).
    val pool = corpus.select(col(idCol).as("cand_id"))
      .withColumn("__b",
        TextFns.hash32(col("cand_id").cast("string")) % negativePool)
      .withColumn("__h",
        TextFns.hash32(concat(lit("rep:"), col("cand_id").cast("string"))))
      .groupBy(col("__b"))
      .agg(min(struct(col("__h"), col("cand_id"))).as("__m"))
      .select(col("__b"), col("__m.cand_id").as("neg_id"))
    // DENSE index over the representatives that actually exist: a
    // sparse corpus (or negativePool > corpus size) leaves buckets
    // empty, and joining on the raw bucket id would silently drop
    // every positive pair hashing into one. The window is global but
    // runs over <= negativePool rows; the count ships as a broadcast
    // 1-row join, never a driver collect.
    val wIdx = Window.orderBy(col("__b"))
    val indexed = pool
      .withColumn("__i", row_number().over(wIdx).cast("long") - 1L)
      .select(col("__i"), col("neg_id"))
    val cnt = indexed.agg(count(lit(1)).as("__n"))
    val triplets = pos
      .crossJoin(broadcast(cnt))
      .withColumn("__i",
        TextFns.hash32(concat_ws(":", col("anchor_id"), col("pos_id")))
          % col("__n"))
      .join(broadcast(indexed), Seq("__i"))
      .select(col("anchor_id"), col("pos_id"), col("neg_id"))
      .where(col("neg_id") =!= col("anchor_id") &&
        col("neg_id") =!= col("pos_id"))
      // a negative that is itself a near-dup of the anchor is a false
      // negative for the loss: drop by the canonical ordered pair
      .withColumn("__x", least(col("anchor_id"), col("neg_id")))
      .withColumn("__y", greatest(col("anchor_id"), col("neg_id")))
      .join(pos.select(col("anchor_id").as("__x"), col("pos_id").as("__y")),
        Seq("__x", "__y"), "left_anti")
      .select(col("anchor_id"), col("pos_id"), col("neg_id"))
    try graft.ops.Materialize(triplets, graft.ops.MatStrategy.Default).df
    finally pos.unpersist(false)
  }

  /** Trained centroid table `(c_id, c_v: array<double>, c_norm)` from
    * [[kmeansQuantized]] — the integer sum-vectors scaled back to
    * doubles (row-local, deterministic). */
  private def trainedCentroidTable(corpus: DataFrame, idCol: String,
                                   vecCol: String, nlist: Int,
                                   iters: Int,
                                   trainSample: Int = 0): DataFrame = {
    val trained = kmeansQuantized(corpus, idCol, vecCol, nlist, iters,
      trainSample)
    val centRows = trained.map { case (cid, csum, cnt) =>
      (cid, csum.map(s => s.toDouble / cnt / KmeansScale).toSeq)
    }
    corpus.sparkSession.createDataFrame(centRows).toDF("c_id", "c_v")
      .withColumn("c_norm", norm(col("c_v")))
  }

  /** Plan-stat-derived cluster count for [[semanticDedup]]: the floor
    * (16, the pre-r5 fixed default) widened by the OPTIMIZER'S SIZE
    * ESTIMATE of the corpus at `bytesPerCluster` worth of vectors each
    * — the [[Dedup.ccIterWidth]] device applied to occupancy instead of
    * iteration width. Within-cluster candidate volume is
    * sum(|cluster|²)/2, so holding BYTES per cluster ~constant as the
    * corpus grows holds the pair work LINEAR in corpus size; a fixed
    * nlist makes it quadratic.
    *
    * Compile-time only (`optimizedPlan.stats`) — no job runs. Capped at
    * 1<<20 clusters: past that the broadcast centroid table itself
    * stops being small, and the right structure is a hierarchical /
    * multi-level quantizer, not a wider flat one.
    */
  private[graft] def autoNlist(corpus: DataFrame,
                               bytesPerCluster: Long = 4L << 20,
                               floor: Int = 16): Int = {
    val est = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val bpc = math.max(bytesPerCluster, 1L)
    val byBytes =
      if (est > BigInt(Long.MaxValue)) Int.MaxValue
      else math.min(est.toLong / bpc + 1, Int.MaxValue.toLong).toInt
    math.max(floor, math.min(byBytes, 1 << 20))
  }

  /** SemDeDup-style SEMANTIC deduplication: cluster the corpus with the
    * deterministic k-means quantizer, then — WITHIN each cluster only —
    * drop every vector that is cosine-similar (>= `threshold`) to a
    * lower-id cluster member. The pruning a pretraining pipeline runs
    * on embedding space after exact/fuzzy text dedup: paraphrases and
    * re-renderings that share no n-grams but say the same thing.
    *
    * Scale design:
    *  - assignment is a broadcast of the tiny centroid table against
    *    the corpus — one map-side pass, no shuffle of vectors;
    *  - candidate pairs exist only WITHIN a cluster (the SemDeDup
    *    contract): the pair join is id-only on (c_id), with vectors
    *    joined back for the cosine — candidate volume is
    *    sum(|cluster|²)/2, controlled by `nlist`: the default (0 =
    *    auto) derives it from the corpus's plan-stat size
    *    ([[autoNlist]]) so occupancy stays ~constant as the corpus
    *    grows, and `trainSample` bounds the quantizer's training cost
    *    (the FAISS practice) — both scale knobs are automatic, not
    *    hand-tuned;
    *  - the drop rule ("similar to ANY lower id in the cluster") is
    *    row-local per pair + one distinct — no transitive closure
    *    needed, unlike the text-side connected components.
    *
    * Returns (id, c_id, dropped) for EVERY corpus row, spill-
    * materialized with the assignment cache released (LeakSpec-clean).
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = 0, iters: Int = 2,
                    trainSample: Int = 0): DataFrame = {
    val k = if (nlist > 0) nlist else autoNlist(corpus)
    val cents = trainedCentroidTable(corpus, idCol, vecCol, k, iters,
      trainSample)
    val c = corpus.select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("n_v"))
      .withColumn("n_norm", norm(col("n_v")))
    val assigned = assignNearest(c, "id", "n_v", "n_norm", cents,
        Seq("n_v", "n_norm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = assigned.select(col("c_id"), col("id"))
    val pairs = ids.as("a").join(ids.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val vecs = assigned.select(col("id"), col("n_v"), col("n_norm"))
    val dropped = pairs
      .join(vecs.select(col("id").as("id_a"), col("n_v").as("v_a"),
        col("n_norm").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("n_v").as("v_b"),
        col("n_norm").as("nb")), "id_b")
      .where(round(dot(col("v_a"), col("v_b")) / (col("na") * col("nb")), 4)
        >= threshold)
      .select(col("id_b").as("id")).distinct()
    val result = assigned.select(col("id"), col("c_id"))
      .join(dropped.withColumn("__d", lit(1)), Seq("id"), "left")
      .select(col("id"), col("c_id"), col("__d").isNotNull.as("dropped"))
    // the spill consumes the cache; the finally keeps a failed spill
    // write from leaking the blocks
    try graft.ops.Materialize(result, graft.ops.MatStrategy.Default).df
    finally assigned.unpersist(false)
  }

  /** Trained IVF over the SQ8-COMPRESSED corpus — the two ANN levers
    * stacked: [[sqDecode]] shrinks the corpus to 1-byte-per-dimension
    * codes (the IO/memory lever), and the k-means IVF prunes which
    * lists a query scores at all (the compute lever). Training,
    * assignment, and scoring all run on the decoded vectors — the
    * compressed corpus IS the corpus, exactly as it would be on disk
    * at 100 TB — while queries stay full-precision (asymmetric
    * distance). Every stage is deterministic, so the composed oracle
    * replays quantization, training, and search end to end. */
  def ivfSqTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                iters: Int = 2): DataFrame = {
    val dec = sqDecode(corpus, idCol, vecCol)
    // queries stay full-precision — aliased to the decoded column name
    // only so the search phase reads one vector column on both sides
    val q = queries.select(col(idCol), asDouble(col(vecCol)).as("dv"))
    ivfTopKTrained(q, dec, idCol, "dv", k, nlist, nprobe, iters)
  }

  // ------------------------------------------------ persisted ANN index

  /** Write the SQ8∘IVF index as a MAINTAINED on-disk artifact — the
    * mirror of [[Dedup.writeSignatureTable]]'s contract for embeddings:
    * quantize and train ONCE at ingest, then every later search is
    * [[ivfSqTopKFromIndex]] over the stored tables with no training, no
    * encoding, and no full-precision corpus read. Layout under `path`:
    *
    *  - `sq_stats/`  — ONE row `(mnv, mxv)`: the per-dimension affine
    *    bounds, so the decode is bit-identical to the build's;
    *  - `centroids/` — `(c_id, c_v: array<double>)`: the k-means-trained
    *    quantizer ([[kmeansQuantized]] over the DECODED corpus — the
    *    compressed vectors ARE the corpus, same as [[ivfSqTopK]]);
    *  - `codes/`     — `(n_id, codes: array<smallint>, list_id)`,
    *    PARTITIONED BY `list_id`: one byte-scale code per dimension
    *    (4-8× smaller than the raw column — the IO lever) laid out so a
    *    probe's `list_id` join prunes to nprobe/nlist of the files on
    *    disk (the compute lever);
    *  - `_graft_ivfsq_meta` — format marker (version + nlist), refused
    *    on mismatch like the signature table's shingle-size marker.
    *
    * Everything stored is exact (doubles verbatim, codes are integers),
    * so a search over the stored index is hash-equal to the from-scratch
    * [[ivfSqTopK]] chain — IndexSpec asserts it and x_ann_ivf_sq8_table
    * oracle-gates it.
    */
  def writeIvfSqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, nlist: Int = 16, iters: Int = 2,
                      trainSample: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val sv = sqStats(c)
    sv.coalesce(1).write.mode("overwrite").parquet(s"$path/sq_stats")
    val stored = spark.read.parquet(s"$path/sq_stats")
    val enc = c.crossJoin(broadcast(stored))
      .withColumn("codes", sqEncodeExpr)
      .withColumn("dv", sqDecodeExpr)
      .select(col(idCol).as("n_id"), col("codes"), col("dv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainedCentroidTable(enc, "n_id", "dv", nlist, iters,
        trainSample)
      cents.select(col("c_id"), col("c_v"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // assignment: identical rule to the search phase (cosine desc,
      // c_id tie-break) so the stored list_id IS ivfSearch's assignment
      assignNearest(enc.withColumn("n_norm", norm(col("dv"))), "n_id", "dv",
          "n_norm", cents, Seq("codes"))
        .select(col("n_id"),
          transform(col("codes"), x => x.cast("smallint")).as("codes"),
          col("c_id").as("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$path/codes")
    } finally enc.unpersist(false)
    MaintainedIndex.writeMarker(spark, path, IvfSqMarker, s"v1 nlist=$nlist")
  }

  /** Format marker of a stored index: `v1 nlist=<nlist>`. */
  private val IvfSqMarker = "_graft_ivfsq_meta"

  /** Append a NEW batch of embeddings to a stored SQ8∘IVF index under
    * the FROZEN quantizer — the live-table half of the ANN ingest loop
    * (mirror of [[Dedup.appendToSignatureTable]]): the batch is encoded
    * with the index's recorded affine stats and assigned to its trained
    * centroids, so the corpus is quantized exactly once in its life and
    * an append never retrains, re-encodes, or rereads what is already
    * on disk. Values outside the frozen per-dimension bounds
    * extrapolate linearly (codes beyond [0,255], stored losslessly in
    * the smallint column) — the decode stays exact, and a drifted feed
    * is the signal to rebuild. A batch whose extrapolated codes leave
    * the smallint range entirely (|code| > 32767 — ~128× the trained
    * per-dimension spread) would WRAP in the narrowing cast and corrupt
    * the stored vector silently, so the append fails loudly instead:
    * that much drift means the frozen quantizer no longer describes the
    * feed and the index must be rebuilt. Searches over the grown index
    * remain fully deterministic; x_ann_index_incr oracles the
    * composition.
    */
  def appendToIvfSqIndex(batch: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit = {
    val spark = batch.sparkSession
    val cents = storedCents(spark, path) // layout guard before any write
    val sv = spark.read.parquet(s"$path/sq_stats")
    val bEnc = batch
      .select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(sv))
      .withColumn("codes", sqEncodeExpr)
      .withColumn("dv", sqDecodeExpr)
      .withColumn("n_norm", norm(col("dv")))
    val assigned = assignNearest(bEnc, "n_id", "dv", "n_norm", cents,
        Seq("codes"))
      .select(col("n_id"), col("codes"), col("c_id").as("list_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // smallint-range guard BEFORE the narrowing cast: the cast is
      // non-ANSI (wraps), so out-of-range codes must be refused here,
      // not discovered as wrong neighbors later
      val nBad = assigned.where(exists(col("codes"),
        x => abs(x) > lit(Short.MaxValue.toDouble))).count()
      require(nBad == 0L,
        s"$nBad row(s) in the batch encode outside the smallint code " +
          s"range under the index's frozen quantizer at $path — the feed " +
          "has drifted far beyond the trained bounds; rebuild the index " +
          "with writeIvfSqIndex instead of appending")
      assigned
        .select(col("n_id"),
          transform(col("codes"), x => x.cast("smallint")).as("codes"),
          col("list_id"))
        .write.mode("append").partitionBy("list_id")
        .parquet(s"$path/codes")
    } finally { assigned.unpersist(false); () }
  }

  /** Recorded `nlist` of a stored index; throws on a path that was not
    * written by [[writeIvfSqIndex]] (mirror of
    * [[Dedup.signatureTableK]]'s guarantee — a stale or foreign layout
    * must fail loudly, not silently return wrong neighbors). */
  def ivfSqIndexNlist(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int =
    MaintainedIndex.readMarker(spark, path, IvfSqMarker).getOrElse(
      throw new IllegalArgumentException(
        s"no $IvfSqMarker marker at $path — not a graft SQ8/IVF " +
          "index (or written by another tool / path typo); write it " +
          "with Similarity.writeIvfSqIndex"))
      .stripPrefix("v1 nlist=").toInt

  /** The stored index's centroid table `(c_id, c_v, c_norm)`, after
    * the layout guard. */
  private def storedCents(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame = {
    ivfSqIndexNlist(spark, path)
    spark.read.parquet(s"$path/centroids")
      .withColumn("c_norm", norm(col("c_v")))
  }

  /** Probe selection against a STORED index's centroid table: each
    * query's `nprobe` nearest stored centroids as (q_id, c_id) rows —
    * the ranking is identical (same cosine, same (sim desc, c_id)
    * tie-break) to the one [[ivfSqTopKFromIndex]] uses internally.
    * This is the COST half of the recall/cost tradeoff: joined to the
    * stored lists' occupancy it prices a search — candidate rows the
    * probe join would touch — without running it, which is what an
    * nprobe-tuning sweep wants. Queries × broadcast centroids only;
    * the corpus is never read.
    */
  def ivfIndexProbeLists(queries: DataFrame, idCol: String,
                         vecCol: String, path: String,
                         nprobe: Int): DataFrame = {
    val cents = storedCents(queries.sparkSession, path)
    probes(vecs(queries, idCol, vecCol, "q"), cents, nprobe)
      .select(col("q_id"), col("c_id"))
  }

  /** Search a STORED SQ8∘IVF index ([[writeIvfSqIndex]]): the union of
    * every query's probed `list_id`s is collected (≤ `nlist` ints after
    * the distinct — the documented O(KB) driver-scalar pattern, K5) and
    * pushed down as a LITERAL `isin` on the partition column, so the
    * codes scan statically prunes to the probed directories
    * (`PartitionFilters: [list_id IN …]`, plan-asserted by PlanSpec) and
    * SQ8 decode runs AFTER the prune — unprobed lists are neither read
    * nor decoded. Per-query work is O(probe), with quantizer training
    * and corpus encoding amortized to ingest time. Result is hash-equal
    * to [[ivfSqTopK]] over the same corpus (same centroids, same codes,
    * same IEEE decode and ranking): the probe join on `c_id` already
    * restricted scoring to probed lists, so pre-pruning the scan removes
    * IO, never rows.
    */
  def ivfSqTopKFromIndex(queries: DataFrame, idCol: String, vecCol: String,
                         path: String, k: Int,
                         nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = storedCents(spark, path)
    val sv = spark.read.parquet(s"$path/sq_stats")
    val probed = probes(vecs(queries, idCol, vecCol, "q"), cents, nprobe)
    // distinct probed lists: bounded by nlist regardless of query count,
    // so the collect is O(KB); the probe stage itself is queries × a
    // broadcast centroid table — no corpus input
    val probedIds = probed.select(col("c_id")).distinct()
      .collect().map(_.get(0))
    val assigned = spark.read.parquet(s"$path/codes")
      .where(col("list_id").isin(probedIds.toIndexedSeq: _*))
      .crossJoin(broadcast(sv))
      .withColumn("codes", transform(col("codes"), x => x.cast("double")))
      .withColumn("n_v", sqDecodeExpr)
      .withColumn("n_norm", norm(col("n_v")))
      .select(col("list_id").as("c_id"), col("n_id"), col("n_v"),
        col("n_norm"))
    rankTopK(probed.join(assigned, Seq("c_id"))
      .where(col("q_id") =!= col("n_id")), "n_v", "n_norm", k)
  }

  // ------------------------------------------------------------- PCA
  // Exact-integer top principal component by power iteration — the
  // whitening/decorrelation primitive embedding pipelines run before
  // dedup and indexing (a dominant shared direction drowns cosine
  // contrast; projecting it out is the classic fix, and the top
  // component is also the strongest possible 1-D semantic ordering).
  //
  // The 100 TB shape: the covariance matrix is NEVER materialized —
  // each round computes w = Aᵀ(A·v) as two corpus scans (a per-vector
  // scalar t = ⟨x−m, v⟩, then d partial-aggregated sums of t·(x−m)),
  // so cost is O(N·d) per round with no d²·N blowup and no d²
  // shuffle. The direction vector is O(d) driver state (the k-means
  // bounded-collect contract).
  //
  // Exact-integer lanes (the pageRank discipline, so a SQL oracle
  // replays every round bit-for-bit): vectors quantize to
  // floor(x·2²⁰); the mean and every renormalization use
  // SIGN-SAFE truncating division (abs, divide, reapply sign — both
  // engines' integer division semantics agree on non-negative
  // operands); per-round sums ride decimal(38,0) ↔ HUGEINT; the
  // rescaled direction is canonicalized to a positive leading nonzero
  // component, fixing the eigenvector's sign ambiguity.

  /** Truncate-toward-zero BigInt quotient (sign-safe — mirrors the
    * oracle's CASE WHEN a < 0 THEN -((-a) // b) form). */
  private def quotZ(a: BigInt, b: BigInt): BigInt = {
    val q = a.abs / b
    if (a < 0) -q else q
  }

  /** The quantized `(vec_id, i, xq)` relation (i is 1-based, matching
    * the oracle's array indexing); the base every PCA stage scans. */
  def pcaQuantized(emb: DataFrame, idCol: String,
                   vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"),
      posexplode(col(vecCol)).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("i"),
        floor(col("x").cast("double") * lit(1048576d)).cast("long")
          .as("xq"))

  /** Top principal direction after `rounds` integer power iterations:
    * returns (mean, direction), both length-d driver arrays in the
    * quantized lanes (direction components bounded by ±2²⁰). The
    * caller projects with [[pcaProject]]. `quantized` should be a
    * MATERIALIZED [[pcaQuantized]] relation — every round scans it
    * twice. */
  def pcaTopComponent(quantized: DataFrame,
                      rounds: Int = 6): (Array[Long], Array[Long]) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = quantized.sparkSession
    val nVec = quantized.select(col("vec_id")).distinct().count()
    require(nVec > 0, "empty input")
    // the mean, one aggregate + an O(d) collect
    val sums = quantized.groupBy(col("i"))
      .agg(sum(col("xq")).as("s")).collect()
      .map(r => r.getLong(0).toInt -> BigInt(r.getLong(1))).toMap
    val d = sums.keys.max
    val m = Array.tabulate(d)(ix => quotZ(sums(ix + 1), nVec).toLong)
    var v = Array.fill(d)(1048576L)
    for (_ <- 1 to rounds) {
      val vLit = typedLit(v.toSeq)
      // mv = <m, v> is pure driver arithmetic (both are O(d) state)
      val mv = (0 until d).map(ix => BigInt(m(ix)) * BigInt(v(ix))).sum
      // scan 1: the centered scalar per vector (fits a long:
      // d · 2²⁰ · 2²⁰ = 2^46 at d = 64)
      val t = quantized
        .withColumn("tv",
          col("xq") * element_at(vLit, col("i").cast("int")))
        .groupBy(col("vec_id"))
        .agg((sum(col("tv")) - lit(mv.toLong)).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val tsum = BigInt(t.agg(sum(col("t").cast("decimal(38,0)")))
          .collect()(0).getDecimal(0).toBigInteger)
        // scan 2: w_i = Σ t·xq − (Σt)·m_i, decimal sums, O(d) collect
        val wRows = quantized.join(t, Seq("vec_id"))
          .groupBy(col("i"))
          .agg(sum(col("t").cast("decimal(38,0)") * col("xq")).as("w"))
          .collect()
          .map(r => r.getLong(0).toInt ->
            BigInt(r.getDecimal(1).toBigInteger)).toMap
        val w = Array.tabulate(d)(ix =>
          wRows.getOrElse(ix + 1, BigInt(0)) - tsum * BigInt(m(ix)))
        // renormalize: ÷N to bound magnitudes, rescale the max |comp|
        // to 2²⁰, canonical positive leading nonzero
        val wn = w.map(quotZ(_, BigInt(nVec)))
        val s = wn.map(_.abs).max
        if (s > 0) {
          val raw = wn.map(x => quotZ(x * BigInt(1048576), s))
          val flip = raw.find(_ != 0).exists(_ < 0)
          v = raw.map(x => (if (flip) -x else x).toLong)
        } // s == 0: degenerate (all vectors equal the mean) — keep v
      } finally { t.unpersist(false); () }
    }
    (m, v)
  }

  /** Project every vector onto the direction: pc1 = ⟨xq − m, v⟩ —
    * exact integers (≤ 2^47 at d = 64), one partial-aggregated
    * doc-keyed shuffle. */
  def pcaProject(quantized: DataFrame, mean: Array[Long],
                 direction: Array[Long]): DataFrame = {
    val mLit = typedLit(mean.toSeq)
    val vLit = typedLit(direction.toSeq)
    quantized
      .withColumn("c",
        (col("xq") - element_at(mLit, col("i").cast("int"))) *
          element_at(vLit, col("i").cast("int")))
      .groupBy(col("vec_id"))
      .agg(sum(col("c")).as("pc1"))
  }

  /** Residual-variance report after removing the top component — the
    * number the common-direction fix is judged by: per vector,
    * residual_bp = (‖x−m‖²·‖v‖² − ⟨x−m,v⟩²) · 10⁴ div (‖x−m‖²·‖v‖²) —
    * the fraction of the vector's energy NOT on the dominant direction,
    * in exact integer basis points (Cauchy–Schwarz keeps the numerator
    * non-negative, so the truncating division is sign-free on both
    * engines; products ride decimal(38,0) ↔ HUGEINT). A vector equal
    * to the mean reports 0 — nothing left to explain. One scan, one
    * doc-keyed partial-aggregated shuffle; ‖v‖² is O(d) driver
    * arithmetic. Output: (vec_id, pc1, residual_bp). */
  def pcaResidualReport(quantized: DataFrame, mean: Array[Long],
                        direction: Array[Long]): DataFrame = {
    val mLit = typedLit(mean.toSeq)
    val vLit = typedLit(direction.toSeq)
    val v2 = direction.map(x => BigInt(x) * BigInt(x)).sum
    require(v2 > 0, "zero direction")
    quantized
      .withColumn("cc", col("xq") - element_at(mLit, col("i").cast("int")))
      .withColumn("pv",
        col("cc") * element_at(vLit, col("i").cast("int")))
      .groupBy(col("vec_id"))
      .agg(sum(col("pv")).as("pc1"),
        sum(col("cc") * col("cc")).as("q2"))
      .select(col("vec_id"), col("pc1"),
        expr(s"""CASE WHEN q2 = 0 THEN 0L ELSE
                |  ((CAST(q2 AS DECIMAL(38,0)) * ${v2.toLong}L
                |    - CAST(pc1 AS DECIMAL(38,0)) * pc1) * 10000L)
                |  div (CAST(q2 AS DECIMAL(38,0)) * ${v2.toLong}L)
                |END""".stripMargin).as("residual_bp"))
  }
}
