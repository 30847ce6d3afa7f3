package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{MatStrategy, Materialize, Materialized}

/** Distributed graph analytics beyond connected components
  * ([[Dedup.connectedComponents]]): triangle counting — the
  * clustering-coefficient / community-density signal over similarity
  * and co-occurrence graphs.
  *
  * Scale shape: edges are canonicalized (a < b, distinct) so each
  * undirected edge exists once, then ORIENTED by (degree, id) — the
  * provably wedge-minimizing acyclic orientation — and every triangle
  * is counted exactly once by the two-join wedge plan: a self-join of
  * the oriented list on the wedge center plus a semi-join closure
  * check. Both are hash equi-joins on edge keys; the intermediate
  * wedge count is bounded by arboricity² per center instead of raw
  * degree², so a planted hub cannot go quadratic (AQE's skew split
  * covers residual hot keys). Nothing is collected; per-node counts
  * are one explode + aggregate.
  */
object Graph {

  /** Canonical distinct undirected edge set (a < b, loops dropped). */
  def canonicalEdges(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame =
    edges.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") < col("b"))
      .distinct()

  /** Per-community modularity decomposition (Newman 2006) of an
    * undirected graph under an EXTERNAL community assignment — the
    * partition-quality score for any labeling the graph did not
    * itself produce (source labels over the near-dup graph, cluster
    * ids from a different screen, …). For each community c:
    *
    *   contrib_num_c = 4·m·e_c − d_c²
    *
    * where m = total edges, e_c = intra-community edges, d_c = sum of
    * member degrees; global modularity is Q = Σ_c contrib_num_c /
    * (4m²). The division never happens here: contributions can be
    * negative, and integral division of negatives floors vs truncates
    * differently across engines, so the report stays in the exact
    * integer numerator lane (decimal products, BIGINT out) and lets
    * the caller divide once at the end.
    *
    * Scale shape: canonical edge set, one explode+count for degrees,
    * two hash joins of the (node, community) assignment onto the edge
    * endpoints for intra counts, one rollup per community. Nodes
    * without an assignment drop out (inner join — they are outside
    * every community by definition); the edge total rides in as a
    * broadcast one-row stat.
    */
  def modularityReport(edges: DataFrame, aCol: String, bCol: String,
                       assign: DataFrame, nodeCol: String,
                       commCol: String): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val mDf = e.agg(count(lit(1)).as("m"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val asg = assign.select(col(nodeCol).as("node"),
      col(commCol).as("community"))
    val nodeStats = deg.join(asg, Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val ca = asg.select(col("node").as("a"), col("community").as("ca"))
    val cb = asg.select(col("node").as("b"), col("community").as("cb"))
    val intra = e.join(ca, Seq("a")).join(cb, Seq("b"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    nodeStats.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mDf))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4).cast("decimal(38,0)") * col("m")
          * coalesce(col("intra_edges"), lit(0L))
          - col("degree_sum").cast("decimal(38,0)") * col("degree_sum"))
          .cast("long").as("contrib_num"))
  }

  /** DEGREE-ordered orientation of the canonical edge set: each edge
    * points from its (degree, id)-lexicographically smaller endpoint,
    * carrying the head's degree so wedge leaves can be ordered by the
    * same total key without a second degree join. This is the
    * skew-optimal standard for triangle enumeration (Chiba–Nishizeki /
    * compact-forward): every wedge center is the LOWEST-degree vertex
    * of its triangle, so per-node wedge work is bounded by arboricity²
    * instead of raw degree² — a planted hub of degree d centers ZERO
    * wedges (its star edges all point INTO it), where an id-ordered
    * orientation could center d²/2. Exposed package-private so the
    * skew spec can assert the bound directly.
    */
  private[graft] def orientedEdges(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val fwd = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    e.join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("s"),
        when(fwd, col("b")).otherwise(col("a")).as("t"),
        when(fwd, col("db")).otherwise(col("da")).as("dt"))
  }

  /** The wedge stream of the degree-ordered orientation: for every
    * center `c`, its out-neighbor pairs (p, q) with p before q in the
    * (degree, id) order. A triangle closes iff the oriented edge p→q
    * exists; each triangle is produced by exactly ONE wedge (its
    * unique (degree, id)-minimal vertex is the center), so no distinct
    * is ever needed downstream. */
  private[graft] def orientedWedges(o: DataFrame): DataFrame =
    o.alias("x")
      .join(o.alias("y"),
        col("x.s") === col("y.s") &&
          struct(col("x.dt"), col("x.t")) < struct(col("y.dt"), col("y.t")))
      .select(col("x.s").as("c"), col("x.t").as("p"), col("y.t").as("q"))

  /** One row per triangle, as the ordered vertex triple x < y < z.
    *
    * Enumeration is wedge-check over the DEGREE-ordered orientation
    * (see [[orientedEdges]]): one self-join of the oriented edge list
    * on the wedge center plus one semi-join closure check — the same
    * two hash equi-joins as the naive id-ordered plan, but the
    * intermediate wedge count is minimized under skew (per-center work
    * bounded by the graph's arboricity, not its max degree), which is
    * exactly the 100 TB hub-heavy case. Output triple is re-sorted to
    * id order, so results are bit-identical to the id-ordered plan. */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val o = orientedEdges(e)
    val tri = orientedWedges(o)
      .join(o.select(col("s").as("p"), col("t").as("q")),
        Seq("p", "q"), "left_semi")
    val sorted = array_sort(array(col("c"), col("p"), col("q")))
    tri.select(element_at(sorted, 1).as("x"),
      element_at(sorted, 2).as("y"),
      element_at(sorted, 3).as("z"))
  }

  /** Per-node triangle participation: (node, n_tri) for every node in
    * at least one triangle. */
  def triangleCounts(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame =
    triangles(edges, aCol, bCol)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

  /** Per-node LOCAL clustering coefficient in exact integer basis
    * points: cc_bp(v) = (n_tri(v)·2·10⁴) div (deg(v)·(deg(v)−1)) for
    * deg ≥ 2, else 0 — how connected each node's neighborhood is, the
    * density signal that separates organic duplicate communities
    * (high cc) from hub-and-spoke template farms (hub cc ≈ 0) on the
    * near-dup graph. Truncating integer division keeps it bit-stable
    * across engines (all terms non-negative, so Spark `div` and
    * floor-division oracles agree). One degree-oriented triangle pass
    * ([[triangles]] — arboricity-bounded under skew) plus one degree
    * count, left-joined so triangle-free nodes still report.
    */
  def clusteringCoefficients(edges: DataFrame, aCol: String,
                             bCol: String): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tc = triangles(e, "a", "b")
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(tc, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          expr("(coalesce(n_tri, 0L) * 20000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_bp"))
  }

  /** Per-edge triangle SUPPORT — how many triangles each canonical
    * edge participates in, the k-truss building block and the
    * bridge-vs-community signal at edge granularity: a near-dup edge
    * with support 0 is an unsupported link (candidate false positive /
    * bridge between unrelated clusters), while high support certifies
    * the neighborhood agrees. One degree-oriented triangle pass plus a
    * three-way explode and a hash aggregation on the edge key;
    * triangle-free edges report 0 via the left join.
    */
  def edgeSupport(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val sup = triangles(e, "a", "b")
      .select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("x").as("a"), col("z").as("b")),
        struct(col("y").as("a"), col("z").as("b")))).as("t"))
      .select(col("t.a"), col("t.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    e.join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** [[edgeSupport]] maintained under edge APPEND: every triangle of
    * the combined graph either is all-old (already counted in the
    * stored support) or contains a new edge (enumerated by
    * [[triangleDelta]] at O(delta wedges)), so the stored per-edge
    * support folds with the delta triangles' edge participation —
    * history is touched only as the delta's adjacency probe side.
    * Equals `edgeSupport(old ∪ new)` exactly (spec-asserted).
    */
  def edgeSupportIncremental(supportOld: DataFrame,
                             oldEdges: DataFrame, newEdges: DataFrame,
                             aCol: String, bCol: String): DataFrame = {
    val eOld = canonicalEdges(oldEdges, aCol, bCol)
    val dNew = canonicalEdges(newEdges, aCol, bCol)
      .join(eOld, Seq("a", "b"), "left_anti")
    val deltaSup = triangleDelta(oldEdges, newEdges, aCol, bCol)
      .select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("x").as("a"), col("z").as("b")),
        struct(col("y").as("a"), col("z").as("b")))).as("t"))
      .select(col("t.a"), col("t.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("__d"))
    supportOld.select(col("a"), col("b"), col("support"))
      .unionByName(dNew.select(col("a"), col("b"), lit(0L).as("support")))
      .join(deltaSup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (col("support") + coalesce(col("__d"), lit(0L))).as("support"))
  }

  /** k-TRUSS decomposition (Cohen 2008) by iterative support peel:
    * drop every edge whose triangle support falls below k−2, recompute
    * support on the survivors, repeat to the fixed point — the
    * edge-granularity cohesion core that is strictly stronger than
    * k-core (every k-truss edge sits in k−2 triangles OF the truss
    * itself). On the near-dup graph the 3-truss is "links certified by
    * at least one surviving triangle": the screen's high-precision
    * backbone, with bridges and one-off collisions peeled away.
    *
    * Same loop contract as [[kCore]]: each round is one
    * degree-oriented triangle pass + one hash aggregation + two
    * key-only joins, rounds are materialized with lineage truncation,
    * convergence is an O(1) count witness, and `maxRounds` bounds the
    * peel depth (the oracle unrolls the same rounds — extra rounds
    * past the fixed point are no-ops on both sides, so results agree
    * at any maxRounds). Output: the surviving edges with their support
    * RECOMPUTED on the final edge set, spill-materialized so no RDD
    * blocks outlive the call.
    */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
             maxRounds: Int = 5): DataFrame =
    kTrussWitnessed(edges, aCol, bCol, k, maxRounds).edges

  /** [[kTruss]]'s result WITH its fixed-point witness: `converged`
    * true means the last peel deleted nothing, so the result IS the
    * k-truss; false means `maxRounds` ran out first and the result is
    * a partially peeled SUPERSET (some surviving edges may still have
    * support below k−2). `rounds` is how many peels ran. The witness
    * is the loop's O(1) count comparison — already computed every
    * round — surfaced so a deep peel-cascade graph (each round's
    * deletions dropping the next round's supports, peel depth ≈ the
    * cascade length) fails HONESTLY at production depth instead of
    * returning a non-truss silently. */
  final case class TrussResult(edges: DataFrame, converged: Boolean,
                               rounds: Int)

  def kTrussWitnessed(edges: DataFrame, aCol: String, bCol: String,
                      k: Int, maxRounds: Int = 5): TrussResult = {
    require(k >= 3, s"k must be >= 3 for a truss, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var eM = Materialize(canonicalEdges(edges, aCol, bCol), MatStrategy.Local)
    try {
      var nEdges = eM.df.count()
      var round = 0
      var converged = nEdges == 0L
      // Each round's materialized survivors KEEP their support column
      // (computed over the pre-peel set). When the peel converges —
      // |E_r| = |E_{r-1}| ⟹ E_r = E_{r-1} (the filter only removes) —
      // those supports ARE edgeSupport(E_final), so the final
      // recompute (a full triangle pass, the loop's dominant cost) is
      // skipped. A maxRounds exhaustion still recomputes honestly.
      var haveSupport = false
      while (round < maxRounds && !converged) {
        val nextM = Materialize(
          edgeSupport(eM.df, "a", "b").where(col("support") >= k - 2),
          MatStrategy.Local)
        val nNext = nextM.df.count() // O(1) convergence witness
        converged = nNext == nEdges
        nEdges = nNext
        eM.release()
        eM = nextM
        haveSupport = true
        round += 1
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(Graph.getClass).warn(
          s"kTruss(k=$k) did not reach its fixed point in $maxRounds " +
            "rounds: returning a partially peeled SUPERSET of the " +
            "truss (check TrussResult.converged)")
      val out = Materialize(
        if (converged && haveSupport)
          eM.df.select(col("a"), col("b"), col("support"))
        else edgeSupport(eM.df, "a", "b"), MatStrategy.Default)
      TrussResult(out.df, converged, round)
    } finally eM.release()
  }

  /** [[clusteringCoefficients]] maintained under edge APPEND: the
    * stored per-node triangle counts fold with [[triangleDelta]]'s
    * participation counts and the stored degrees fold with the
    * genuinely-new edges' endpoint counts — O(delta wedges + |state|),
    * the historical edge set is touched only as the delta's adjacency
    * probe side, never re-enumerated. Equals
    * `clusteringCoefficients(old ∪ new)` exactly (spec-asserted): both
    * folds are exact integers, so the cc_bp division reproduces
    * bit-identically. `countsOld`/`degOld` are
    * [[triangleCounts]]/degree relations from the last build — the
    * same stored-state contract as [[triangleCountsIncremental]].
    */
  def clusteringCoefficientsIncremental(countsOld: DataFrame,
                                        degOld: DataFrame,
                                        oldEdges: DataFrame,
                                        newEdges: DataFrame,
                                        aCol: String,
                                        bCol: String): DataFrame = {
    val counts = triangleCountsIncremental(countsOld, oldEdges, newEdges,
      aCol, bCol)
    val dNew = canonicalEdges(newEdges, aCol, bCol)
      .join(canonicalEdges(oldEdges, aCol, bCol), Seq("a", "b"),
        "left_anti")
    val degDelta = dNew
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__dd"))
    val deg = degOld.select(col("node"), col("degree"))
      .join(degDelta, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("__dd"), lit(0L)))
          .as("degree"))
    deg.join(counts, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          expr("(coalesce(n_tri, 0L) * 20000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_bp"))
  }

  /** Triangles created by an edge APPEND — the incremental-maintenance
    * companion to [[triangles]]: only triples containing at least one
    * genuinely-new edge are enumerated, so the cost scales with the
    * delta's wedge count, never the historical graph's. Each new edge
    * (a, b) wedge-closes through the COMBINED adjacency (a new edge can
    * triangulate with old edges, new edges, or both); triples found via
    * two or three of their new edges collapse in the final distinct.
    * Returned as ordered (x < y < z) rows, disjoint from
    * `triangles(old)` by construction.
    */
  def triangleDelta(oldEdges: DataFrame, newEdges: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    val eOld = canonicalEdges(oldEdges, aCol, bCol)
    val dNew = canonicalEdges(newEdges, aCol, bCol)
      .join(eOld, Seq("a", "b"), "left_anti")
    val all = eOld.unionByName(dNew)
    val adj = all.select(col("a").as("v"), col("b").as("n"))
      .union(all.select(col("b").as("v"), col("a").as("n")))
    // Degree-aware probe orientation (the [[orientedEdges]] idea at the
    // delta): each new edge enumerates candidate third vertices from
    // its LOWER-degree endpoint, so per-edge fan-out is min(deg a,
    // deg b) instead of whichever endpoint happens to hold the lower
    // id — a new edge that touches a degree-d hub costs its other
    // endpoint's degree, never d. The higher-degree side is only the
    // semi-join probe target (touched linearly).
    val deg = adj.groupBy("v").agg(count(lit(1)).as("d"))
    val fwd = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = dNew
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        when(fwd, col("a")).otherwise(col("b")).as("p"),
        when(fwd, col("b")).otherwise(col("a")).as("q"))
    val x = least(col("a"), col("b"), col("w"))
    val z = greatest(col("a"), col("b"), col("w"))
    oriented
      .join(adj.select(col("v").as("p"), col("n").as("w")), "p")
      .where(col("w") =!= col("q"))
      .join(adj.select(col("v").as("q"), col("n").as("w")),
        Seq("q", "w"), "left_semi")
      .select(x.as("x"), (col("a") + col("b") + col("w") - x - z).as("y"),
        z.as("z"))
      .distinct()
  }

  /** Per-node triangle counts maintained under edge append: the stored
    * counts (from the last build) folded with [[triangleDelta]]'s
    * participation counts — O(delta wedges + |counts|), the historical
    * edge set is touched only as the adjacency probe side. Equals
    * `triangleCounts(old ∪ new)` exactly (spec-asserted). */
  def triangleCountsIncremental(countsOld: DataFrame,
                                oldEdges: DataFrame, newEdges: DataFrame,
                                aCol: String, bCol: String): DataFrame = {
    val delta = triangleDelta(oldEdges, newEdges, aCol, bCol)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    countsOld.select(col("node"), col("n_tri"))
      .join(delta, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("n_tri"), lit(0L)) + coalesce(col("__d"), lit(0L)))
          .as("n_tri"))
  }

  /** Common-neighbor link prediction with an INTEGER resource-allocation
    * score — "which documents are probably near-dups even though no
    * band ever bucketed them together" over the similarity graph, and
    * generally the missing-edge ranker for any co-occurrence graph.
    * For every non-adjacent pair (a, b) with at least `minCommon`
    * common neighbors:
    *
    *   n_common = |N(a) ∩ N(b)|
    *   ra_u     = Σ_{v ∈ N(a) ∩ N(b)}  1_000_000 div deg(v)
    *
    * ra_u is the resource-allocation index (Zhou, Lü, Zhang 2009 —
    * the RA variant of Adamic-Adar) in exact integer micro-units:
    * every term is an integer division, so the score is bit-identical
    * across partitionings, retries, and engines — no floating-point
    * log in sight.
    *
    * Plan shape mirrors [[triangles]]: wedges come from ONE self-join
    * of the directed adjacency on the center vertex (hash equi-join,
    * intermediate size = the wedge count), the degree join is another
    * hash join on the center, and known edges leave via a left-anti
    * join on the canonical edge set. Nothing is collected.
    *
    * Skew/scale controls (both sound or audited, never silent
    * answer-changers):
    *
    *  - The adjacency is explicitly fanned out on the center vertex
    *    (`repartition(numShufflePartitions, v)`) before the self-join.
    *    Without it the wedge EXPLOSION — this operator's CPU — runs at
    *    the width of the upstream exchange, which AQE coalesces to 1-2
    *    partitions for an MB-scale edge list (the x_sparse_sim /
    *    x_winnowing few-splits blowup; observed here as 17 s wall at
    *    1.4× parallelism). The shuffle moves edge keys once — orders of
    *    magnitude less data than the wedge stream it parallelizes — and
    *    both join inputs are the SAME exchange, so the join itself adds
    *    no second shuffle.
    *  - `maxDegree` bounds the per-center wedge count: a single hub of
    *    degree d contributes d·(d-1)/2 wedges, so one template-farm
    *    vertex at 100 TB scale can go quadratic while every other key
    *    stays linear. Centers above the cap are DROPPED (their common-
    *    neighbor evidence vanishes), which is deliberately lossy exactly
    *    like [[EntityResolution]]'s block purge: callers that cannot
    *    tolerate loss run [[linkPredictionDroppedHubs]] first and alert
    *    on a non-empty result, or raise the cap. The default keeps every
    *    hub (bit-identical legacy behavior).
    *  - When `minCommon` > 1, wedge LEAVES with degree < minCommon are
    *    filtered below the self-join: n_common(a,b) ≤ min(deg(a),
    *    deg(b)), so no surviving pair can contain such a node — the
    *    final filter is pushed into the join's inputs without changing
    *    a single output row.
    */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
                     minCommon: Long = 1L,
                     maxDegree: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val e = canonicalEdges(edges, aCol, bCol)
    val fan = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adjAll = e.select(col("a").as("v"), col("b").as("n"))
      .union(e.select(col("b").as("v"), col("a").as("n")))
    val deg = adjAll.groupBy("v").agg(count(lit(1)).as("d"))
    // minCommon pushdown: drop leaves that cannot reach the final
    // n_common filter (sound — see scaladoc), only when it can help
    val leafScreened =
      if (minCommon > 1L)
        adjAll.join(
            deg.where(col("d") >= minCommon).select(col("v").as("n")),
            Seq("n"), "left_semi")
      else adjAll
    // maxDegree hub guard: purge oversized wedge CENTERS (audited via
    // linkPredictionDroppedHubs); key-only anti side, hot rows touched
    // linearly exactly like EntityResolution.purgeOversized
    val guarded =
      if (maxDegree < Long.MaxValue)
        leafScreened.join(
          deg.where(col("d") > maxDegree).select("v"), Seq("v"), "left_anti")
      else leafScreened
    val adj = guarded.repartition(fan, col("v"))
    val wedges = adj.alias("x")
      .join(adj.alias("y"),
        col("x.v") === col("y.v") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"),
        col("x.v").as("via"))
    wedges.join(deg.withColumnRenamed("v", "via"), "via")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000L div d")).as("ra_u"))
      .join(e, Seq("a", "b"), "left_anti")
      .where(col("n_common") >= minCommon)
  }

  /** The (node, degree) rows a [[linkPrediction]] run at `maxDegree`
    * will PURGE as wedge centers — the audit twin of the in-plan guard
    * ([[EntityResolution.purgedBlocks]]'s contract): purging is
    * deliberately lossy for genuinely dense hubs, so a pipeline that
    * cannot tolerate loss runs this first and alerts on a non-empty
    * result, or raises the cap for hubs it trusts. One map-side-
    * combining degree count; key-only rows, no payload.
    */
  def linkPredictionDroppedHubs(edges: DataFrame, aCol: String,
                                bCol: String, maxDegree: Long): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val e = canonicalEdges(edges, aCol, bCol)
    e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .where(col("d") > maxDegree)
  }

  /** The iterative operators' round loop: `iters` applications of
    * `step` (given the current state and the 1-based round number) to
    * `start`. The round state is checkpointed (Local) every second
    * round and after the last, so the lazy round between truncations
    * is planned and executed with the next one — half the per-round
    * job/commit fixed cost, identical results (every lane is integer,
    * so values are materialization-independent) — and lineage never
    * grows past two rounds. A checkpoint's predecessor is released
    * only after the checkpoint has landed. `out` of the final state is
    * spill-materialized (Default) before that state's blocks are
    * released, so no RDD blocks outlive the call.
    */
  private def iterate(start: DataFrame, iters: Int)(
      step: (DataFrame, Int) => DataFrame)(
      out: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var state = start
    var free: () => Unit = () => ()
    try {
      for (i <- 1 to iters) {
        val next = step(state, i)
        if (i % 2 == 0 || i == iters) {
          val m = Materialize(next, MatStrategy.Local)
          free()
          state = m.df
          free = m.release
        } else state = next
      }
      Materialize(out(state), MatStrategy.Default).df
    } finally free()
  }

  /** The rank-round core that [[pageRank]], [[pageRankWarm]] and
    * [[personalizedPageRank]] share; they differ only in the restart
    * mass and the start vector. Every round is
    *
    *   r'(v) = b(v) + (17 · Σ_{u~v} (r(u) div deg(u))) div 20
    *
    * in integer micro-units. `restart` maps the node set `(v)` to the
    * node-complete restart relation `(v, b)`; `start` maps that
    * relation to the round-0 ranks `(v, r)`.
    *
    * Scale shape: the directed edge list CARRIES its source degree
    * (one grouped-window count over the src-partitioned union, no
    * degree join per round) and is materialized once, as is the
    * restart relation. The restart mass rides the contribution
    * aggregation as one zero-contribution row per node, which also
    * completes the node set, so each round is ONE |E|-scale hash join
    * plus ONE aggregation (sum(b) recovers b(v) exactly: one restart
    * row per node). Rounds run through [[iterate]].
    *
    * `keepPrevRank`: the LAST round joins the previous ranks onto its
    * sums (same rows — every round is node-complete), so the
    * penultimate rank rides into the output as `prev_rank`, the
    * staleness witness's input, for one |V| join on the final round.
    */
  private def rankRounds(edges: DataFrame, aCol: String, bCol: String,
                         iters: Int, keepPrevRank: Boolean = false)(
      restart: DataFrame => DataFrame,
      start: DataFrame => DataFrame): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val directedM = Materialize(
      e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src"))
        .withColumn("d",
          count(lit(1)).over(Window.partitionBy(col("src")))),
      MatStrategy.Local)
    var restartM: Materialized = null
    try {
      val directed = directedM.df
      restartM = Materialize(
        restart(directed.select(col("src").as("v")).distinct()),
        MatStrategy.Local)
      val rs = restartM.df
      val restartRows = rs.select(col("v"), lit(0L).as("c"), col("b"))
      val r = (col("b") + expr("(17 * s) div 20")).as("r")
      iterate(start(rs), iters) { (ranks, i) =>
        val sums = directed
          .join(ranks.select(col("v").as("src"), col("r")), "src")
          .select(col("dst").as("v"), expr("r div d").as("c"),
            lit(0L).as("b"))
          .union(restartRows)
          .groupBy("v")
          .agg(sum(col("c")).as("s"), sum(col("b")).as("b"))
        if (keepPrevRank && i == iters)
          ranks.select(col("v"), col("r").as("__pr"))
            .join(sums, Seq("v"))
            .select(col("v"), r, col("__pr"))
        else sums.select(col("v"), r)
      } { ranks =>
        val cols = Seq(col("v").as("node"), col("r").as("rank"))
        ranks.select(
          (if (keepPrevRank) cols :+ col("__pr").as("prev_rank")
           else cols): _*)
      }
    } finally {
      directedM.release()
      if (restartM != null) restartM.release()
    }
  }

  /** Deterministic FIXED-POINT PageRank over the undirected graph —
    * the same integer-arithmetic determinism trick as the k-means
    * quantizer (Similarity.kmeansQuantized): ranks live in integer
    * micro-units (start 1e6 per node), every step is
    *
    *   r'(v) = 150000 + (17 · Σ_{u~v} (r(u) div deg(u))) div 20
    *
    * i.e. damping 0.85 as the exact rational 17/20 with truncating
    * integer division. Integer sums are aggregation-order-independent,
    * so the result is bit-identical across partitionings, retries, and
    * engines — a floating-point PageRank is none of these. Dangling
    * mass is dropped (every node here has degree ≥ 1 by construction).
    *
    * Scale shape: [[rankRounds]] — the edge list and node set are
    * materialized ONCE and reused every round; each round is one hash
    * join onto the current ranks plus one aggregation, checkpoint-
    * truncated every second round so lineage never grows unboundedly.
    * Fixed `iters` (power iteration), no convergence collect.
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
               iters: Int = 10): DataFrame =
    rankRounds(edges, aCol, bCol, iters)(
      _.select(col("v"), lit(150000L).as("b")),
      _.select(col("v"), lit(1000000L).as("r")))

  /** WARM-START PageRank — the incremental-maintenance form: instead
    * of re-running the full iteration count from the uniform start
    * after a graph delta, resume from the STORED ranks of the previous
    * graph version (`prev`: nodeCol, rankCol in the same micro-unit
    * lanes) and run only `iters` refresh rounds over the NEW edge set.
    * Power iteration converges from any start vector, and a delta
    * that touches a small neighborhood leaves most stored ranks
    * already at (or near) the new fixed point — so the 100 TB refresh
    * costs `iters` rounds instead of the cold count, with the SAME
    * per-round shuffle shape as [[pageRank]]. Nodes new in this
    * version (absent from `prev`) start at the uniform 1000000; nodes
    * that left the graph drop out (ranks are per-node-set, not
    * carried). Everything stays in the exact integer lanes
    * (r div d, damping 17/20, restart 150000), so a SQL oracle unrolls
    * cold rounds + warm rounds and must match bit-for-bit — and
    * because the recurrence is identical, warm-starting with
    * prev = uniform reproduces [[pageRank]] exactly (GraphSpec pins
    * both properties). The seed join runs inside the first
    * checkpointed round, which truncates `prev`'s lineage.
    *
    * `keepPrevRank` adds the penultimate round's rank as `prev_rank`
    * ([[pageRankStaleness]]'s input).
    */
  def pageRankWarm(edges: DataFrame, aCol: String, bCol: String,
                   prev: DataFrame, nodeCol: String, rankCol: String,
                   iters: Int = 3,
                   keepPrevRank: Boolean = false): DataFrame =
    rankRounds(edges, aCol, bCol, iters, keepPrevRank)(
      _.select(col("v"), lit(150000L).as("b")),
      _.join(prev.select(col(nodeCol).as("v"), col(rankCol).as("__r0")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("__r0"), lit(1000000L)).as("r")))

  /** The staleness verdict over a [[pageRankWarm]] result computed
    * with `keepPrevRank`: one row `(max_delta_micro, converged)` where
    * max_delta_micro is the largest round-over-round rank movement
    * |rank − prev_rank| across all nodes and converged =
    * (max_delta_micro ≤ tolMicro). One ungrouped max over the output.
    */
  def pageRankStaleness(warm: DataFrame,
                        tolMicro: Long = 1000L): DataFrame = {
    require(tolMicro >= 0, s"tolMicro must be >= 0, got $tolMicro")
    warm.agg(max(abs(col("rank") - col("prev_rank")))
        .as("max_delta_micro"))
      .select(col("max_delta_micro"),
        (col("max_delta_micro") <= tolMicro).as("converged"))
  }

  /** STALENESS WITNESS of a warm refresh — the x_ktruss_witness device
    * applied to the fixed-point family: [[pageRankStaleness]] of a
    * `keepPrevRank` [[pageRankWarm]]. x_pagerank_incr proves the warm
    * rounds reproduce the spec'd fixed point; THIS tells
    * `refresh_pagerank` whether `iters` rounds actually sufficed for a
    * given edge delta — a too-stale warm start (deep delta, too few
    * rounds) fails loudly instead of shipping half-refreshed ranks.
    * Exact integers end to end, so a SQL oracle replays the flag
    * bit-for-bit.
    *
    * Cost: the refresh itself — the final round carries the previous
    * rank as a column (one |V| join), and the witness is one ungrouped
    * max over the output.
    */
  def pageRankWarmWitness(edges: DataFrame, aCol: String, bCol: String,
                          prev: DataFrame, nodeCol: String,
                          rankCol: String, iters: Int = 3,
                          tolMicro: Long = 1000L): DataFrame =
    pageRankStaleness(pageRankWarm(edges, aCol, bCol, prev, nodeCol,
      rankCol, iters, keepPrevRank = true), tolMicro)

  /** Personalized (topic-sensitive) PageRank — Haveliwala, WWW 2002 —
    * in the same exact-integer lanes as [[pageRank]]: the restart
    * mass that the global variant spreads as 150000 micro-units per
    * node is instead concentrated uniformly on the SEED nodes
    * ((150000 · |V|) div |S| each, exact integer division), so rank
    * becomes diffusion distance from the seed set through the graph:
    *
    *   r'(v) = base(v) + (17 · Σ_{u~v} (r(u) div deg(u))) div 20
    *
    * The library's use: contamination-risk diffusion — seed the
    * benchmark/eval docs and rank every corpus doc by how reachable it
    * is through near-dup edges, catching transitive leakage (A twins
    * B, B twins eval) that the direct n-gram screen
    * (x_decontaminate) cannot see. Seeds not present in the graph are
    * ignored; the caller must leave at least one seed in the graph
    * (with zero seeds every base is null-coalesced to 0 and all ranks
    * collapse to 0 — deterministic, but meaningless).
    *
    * Scale shape: identical to [[pageRank]] ([[rankRounds]]); the
    * per-node base is the restart relation (the |V|/|S| scalars join
    * as a broadcast one-row stat, nothing collected) and the start
    * vector.
    */
  def personalizedPageRank(edges: DataFrame, aCol: String, bCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 6): DataFrame =
    rankRounds(edges, aCol, bCol, iters)(
      nodes => {
        val seedSet = nodes.join(
          seeds.select(col(seedCol).as("v")).distinct(), Seq("v"),
          "left_semi")
        val stats = nodes.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(seedSet.agg(count(lit(1)).as("n_seeds")))
        nodes
          .join(seedSet.select(col("v"), lit(1L).as("__seed")),
            Seq("v"), "left")
          .crossJoin(broadcast(stats))
          .select(col("v"),
            coalesce(when(col("__seed").isNotNull,
              expr("(150000 * n_nodes) div n_seeds")), lit(0L))
              .as("b"))
      },
      _.select(col("v"), col("b").as("r")))

  /** Deterministic SYNCHRONOUS label propagation (Raghavan, Albert &
    * Kumara 2007) for community detection — the mesoscale between
    * [[Dedup.connectedComponents]] (too coarse: one bridge edge merges
    * two communities) and [[triangles]] (local density only): labels
    * start as node ids and each round every node adopts the label most
    * frequent among its neighbors PLUS ITSELF, ties broken toward the
    * SMALLEST label. Classic async LPA is nondeterministic (visit
    * order decides); fixing synchronous rounds, the self-vote (which
    * also damps the 2-cycle oscillation sync updates are prone to),
    * and the min-label tie-break makes every round a pure function of
    * the previous labeling — bit-identical across partitionings,
    * retries, and engines, so a SQL oracle can replay the rounds
    * exactly.
    *
    * Per round: one hash join of the adjacency onto the current
    * labels, one (node, label) count aggregation, and one
    * deterministic argmax via `max(struct(cnt, -lbl))` — an
    * aggregation, not a window, so the round needs no sort. The
    * adjacency and node set are materialized ONCE; rounds run through
    * [[iterate]] like [[pageRank]], keeping lineage flat. Fixed
    * `iters`, no convergence collect.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iters: Int = 4): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val adjM = Materialize(
      e.select(col("a").as("v"), col("b").as("n"))
        .union(e.select(col("b").as("v"), col("a").as("n")))
        .repartition(col("n")),
      MatStrategy.Local)
    var nodesM: Materialized = null
    try {
      val adj = adjM.df
      nodesM = Materialize(adj.select(col("v")).distinct(),
        MatStrategy.Local)
      iterate(nodesM.df.withColumn("lbl", col("v")), iters) { (labels, _) =>
        adj.join(labels.withColumnRenamed("v", "n"), "n")
          .select(col("v"), col("lbl"))
          .union(labels.select(col("v"), col("lbl")))
          .groupBy(col("v"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("v"))
          .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("v"), (-col("m.nl")).as("lbl"))
      } (_.select(col("v").as("node"), col("lbl").as("community")))
    } finally {
      adjM.release()
      if (nodesM != null) nodesM.release()
    }
  }

  /** k-core decomposition by synchronous peeling (Seidman 1983; the
    * distributed formulation of Montresor, De Pellegrini & Miorandi
    * 2013): each round simultaneously deletes every node whose degree
    * in the CURRENT subgraph is below `k`, until a round deletes
    * nothing (or `maxRounds` is hit). The survivors are the k-core —
    * the maximal subgraph where every node keeps ≥ k neighbors — with
    * their core degree. On a near-dup graph this separates dense
    * template farms (which survive) from incidental pairwise overlaps
    * (peeled in round one); it is also the standard pre-filter before
    * triangle/community work.
    *
    * Synchronous rounds make the peel a pure function of the previous
    * subgraph — bit-identical across partitionings, retries, and
    * engines — so a SQL oracle can replay the SAME `maxRounds` peels
    * as chained CTEs and must match exactly: converged-early results
    * are a fixed point, so extra replayed rounds change nothing, and
    * un-converged results agree because both sides stop after the same
    * round count.
    *
    * Scale shape: each round is one degree aggregation plus two hash
    * semi-joins of the adjacency against the surviving node set —
    * never a window, never a collect beyond the O(1) convergence
    * witness (edge count, the [[Dedup.connectedComponents]] device).
    * Rounds run at most `maxRounds` ≈ O(peel depth); real similarity
    * graphs converge in a handful. Each round's adjacency is
    * checkpoint-truncated so lineage stays flat, and the survivors
    * are spill-materialized so no RDD blocks outlive the call.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 8): DataFrame =
    kCoreWitnessed(edges, aCol, bCol, k, maxRounds).nodes

  /** [[kCore]]'s result WITH its fixed-point witness — same honesty
    * contract as [[kTrussWitnessed]]: `converged` false means
    * `maxRounds` ran out mid-cascade and the survivors are a SUPERSET
    * of the k-core (some may still have degree < k); `rounds` is how
    * many peels ran. */
  final case class CoreResult(nodes: DataFrame, converged: Boolean,
                              rounds: Int)

  def kCoreWitnessed(edges: DataFrame, aCol: String, bCol: String,
                     k: Int, maxRounds: Int = 8): CoreResult = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e = canonicalEdges(edges, aCol, bCol)
    var adjM = Materialize(
      e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")),
      MatStrategy.Local)
    var keepM: Materialized = null
    try {
      var nEdges = adjM.df.count()
      var round = 0
      var converged = nEdges == 0L
      while (round < maxRounds && !converged) {
        val adj = adjM.df
        // the keep set is MATERIALIZED with its degree column: on
        // convergence (nothing deleted ⟹ final adjacency = pre-peel
        // adjacency ⟹ final degrees = these degrees) it IS the
        // output, so the final degree aggregation is skipped
        val nextKeepM = Materialize(
          adj.groupBy("src").agg(count(lit(1)).as("d"))
            .where(col("d") >= k)
            .select(col("src").as("v"), col("d")),
          MatStrategy.Local)
        val keep = nextKeepM.df
        // swap keepM in BEFORE materializing nextM: if that
        // materialization throws, the finally below releases keepM —
        // which must by then be the round's fresh relation, or it
        // would leak (the old one is released here instead)
        if (keepM != null) keepM.release()
        keepM = nextKeepM
        val nextM = Materialize(
          adj.join(keep.select(col("v").as("src")), Seq("src"),
              "left_semi")
            .join(keep.select(col("v").as("dst")), Seq("dst"),
              "left_semi")
            .select(col("src"), col("dst")),
          MatStrategy.Local)
        val nNext = nextM.df.count() // O(1) convergence witness
        converged = nNext == nEdges
        nEdges = nNext
        adjM.release()
        adjM = nextM
        round += 1
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(Graph.getClass).warn(
          s"kCore(k=$k) did not reach its fixed point in $maxRounds " +
            "rounds: returning a partially peeled SUPERSET of the " +
            "core (check CoreResult.converged)")
      val out = Materialize(
        if (converged && keepM != null)
          keepM.df.select(col("v").as("node"), col("d").as("core_deg"))
        else
          adjM.df.groupBy("src").agg(count(lit(1)).as("core_deg"))
            .select(col("src").as("node"), col("core_deg")),
        MatStrategy.Default)
      CoreResult(out.df, converged, round)
    } finally {
      adjM.release()
      if (keepM != null) keepM.release()
    }
  }

  /** [[hits]]'s half-round core, exposed for the plan spec:
    * materialize the raw `(v, s)` scores AND fetch their max in ONE
    * job ([[graft.ops.Materialize.localWithScalar]]), then splice the
    * max back as a literal — so the renormalized frame is a bare
    * shuffle-free PROJECTION over the checkpointed blocks, where the
    * crossJoin(broadcast(agg(max))) formulation cost a second barrier
    * aggregation plus a broadcast exchange per half-round. An empty
    * node set yields a null max; the frame is empty then, so the
    * divisor value is irrelevant — 1 keeps the expression total.
    */
  private[graft] def renormFused(raw: DataFrame)
      : (Materialized, DataFrame) = {
    val (m, row) = Materialize.localWithScalar(raw, Seq(max(col("s"))))
    val mx = if (row.isNullAt(0)) 1L else row.getLong(0)
    (m, m.df.select(col("v"), expr(s"s * 1000000 div ${mx}L").as("s")))
  }

  /** Deterministic integer HITS (Kleinberg, JACM 1999) over the
    * DIRECTED canonical edge set — each undirected pair contributes
    * ONE edge a→b with a < b, so on the near-dup graph the lower
    * (earlier) id "feeds" its later near-copies. Hub score flows
    * forward (who feeds many strong sinks), authority backward (who is
    * fed by many strong sources): the COPY-SOURCE vs COPY-SINK
    * separation the undirected [[pageRank]] can't make, because its
    * one centrality conflates the two roles.
    *
    * Scores are integer micro-units. Each half-round is (1) one hash
    * join of the edge list onto the opposite score, (2) one sum
    * aggregation, (3) renormalization `s·10⁶ div max(s)`. Truncating
    * integer division makes every round a pure function of the previous
    * one: bit-identical across engines and partitionings, so the SQL
    * oracle replays the rounds exactly. Raw magnitudes stay ≤
    * 10⁶·10⁶·deg_max — 64-bit safe for any in-degree below a million;
    * renormalizing every half-round (not once at the end) is what pins
    * that bound.
    *
    * The edge list and node set are materialized once; each
    * half-round's raw sums are checkpointed and the previous round's
    * blocks released as soon as their last consumer has landed, so
    * lineage stays flat at any `iters` (the [[pageRank]] contract).
    * The renorm max is fetched IN THE SAME JOB that materializes the
    * raw sums ([[graft.ops.Materialize.localWithScalar]]) and spliced
    * back as a literal — the K5 collect→literal pattern, one bounded
    * row — so each half-round costs ONE barrier, not the two (checkpoint
    * job + broadcast-max job) of the crossJoin formulation this
    * replaced. Values are identical; only the stage count halves. The
    * result is spill-materialized so no RDD blocks outlive the call.
    */
  def hits(edges: DataFrame, aCol: String, bCol: String,
           iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val eM = Materialize(
      canonicalEdges(edges, aCol, bCol)
        .select(col("a").as("src"), col("b").as("dst")),
      MatStrategy.Local)
    var nodesM: Materialized = null
    var freeHub: () => Unit = () => ()
    var freeAuth: () => Unit = () => ()
    try {
      val e = eM.df
      nodesM = Materialize(
        e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
          .distinct(),
        MatStrategy.Local)
      val nodes = nodesM.df
      var hub: DataFrame = nodes.withColumn("s", lit(1000000L))
      var auth: DataFrame = nodes.withColumn("s", lit(1000000L))
      // node completion rides each half-round's aggregation as a
      // zero-score union row per node (the rankRounds device): one
      // join + one aggregation per half-round, the node-set left join
      // is gone. sum(0 ∪ scores) = coalesce(sum(scores), 0) exactly —
      // integer lanes unchanged.
      val zeros = nodes.select(col("v"), lit(0L).as("s"))
      for (_ <- 1 to iters) {
        // hub half-round: h_raw(v) = Σ_{v→w} auth(w)
        val (hRawM, hubN) = renormFused(
          e.join(auth.withColumnRenamed("v", "dst"), "dst")
            .select(col("src").as("v"), col("s"))
            .union(zeros)
            .groupBy(col("v")).agg(sum(col("s")).as("s")))
        freeAuth() // last consumer of the previous auth raw has landed
        freeHub()  // previous hub raw died with last round's auth join
        hub = hubN
        freeHub = hRawM.release
        // authority half-round: a_raw(w) = Σ_{v→w} hub(v)
        val (aRawM, authN) = renormFused(
          e.join(hub.withColumnRenamed("v", "src"), "src")
            .select(col("dst").as("v"), col("s"))
            .union(zeros)
            .groupBy(col("v")).agg(sum(col("s")).as("s")))
        auth = authN
        freeAuth = aRawM.release
      }
      Materialize(
        hub.select(col("v"), col("s").as("hub"))
          .join(auth.select(col("v"), col("s").as("auth")), Seq("v"))
          .select(col("v").as("node"), col("hub"), col("auth")),
        MatStrategy.Default).df
    } finally {
      freeHub(); freeAuth()
      eM.release()
      if (nodesM != null) nodesM.release()
    }
  }
}
