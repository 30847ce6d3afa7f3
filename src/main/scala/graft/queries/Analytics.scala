package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Analytic queries over the TPC-H-ish testdata: grouped aggregation,
  * multi-way joins, window top-k, ordered limits. The reference itself
  * only ever computes MAX (SURVEY.md §2.5) — these prove the rebuilt
  * engine on the workloads the reference's warehouse would actually serve,
  * and act as the benchmark headliners.
  *
  * Scale notes: q1 is a pure map-side-partial aggregation (one exchange on
  * the 2×2 group key); q3 broadcasts `customer` (the only small input) so
  * the orders⋈lineitem shuffle is the single heavy exchange; the window
  * top-k rides Spark 4's WindowGroupLimit rewrite (per-partition top-k
  * before the shuffle).
  */
object Analytics {

  // TPC-H Q1-style pricing summary over lineitem.
  def pricingSummaryQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
    li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      round(sum(col("l_quantity")), 2).as("sum_qty"),
      round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
      round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("sum_disc_price"),
      round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
      round(avg(col("l_quantity")), 4).as("avg_qty"),
      round(avg(col("l_extendedprice")), 4).as("avg_price"),
      round(avg(col("l_discount")), 4).as("avg_disc"),
      count(lit(1)).as("count_order"))
  }
  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // TPC-H Q3-style: revenue of BUILDING-segment orders, top 10.
  // Ordering is total on (rounded revenue desc, o_orderkey) in BOTH
  // engines, so the LIMIT boundary is deterministic.
  def topRevenueQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }
  val topRevenueSql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // Window top-k: top 3 orders per customer by total price.
  def windowTopKQ(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rank").cast("long").as("rank"))
  }
  val windowTopKSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       CAST(row_number() OVER
      |         (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |         AS BIGINT) AS rank
      |FROM orders
      |QUALIFY row_number() OVER
      |  (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin

  // Gap-filled daily per-user event counts (resample with explicit
  // zero rows between each user's first and last active day).
  def gapFillQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.gapFilledCounts(
      Tables.load(spark, dir, "events"), "user_id", "ts", "value", 86400L)
  val gapFillSql: String =
    """WITH b AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS bucket, value
      |  FROM events),
      |c AS (
      |  SELECT user_id, bucket, count(*) AS n_events,
      |         round(sum(value), 4) AS sum_value
      |  FROM b GROUP BY 1, 2),
      |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
      |      FROM b GROUP BY 1),
      |cal AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM s)
      |SELECT cal.user_id, cal.bucket,
      |  coalesce(c.n_events, 0) AS n_events,
      |  coalesce(c.sum_value, 0.0) AS sum_value
      |FROM cal LEFT JOIN c USING (user_id, bucket)""".stripMargin

  // Set operations: customers ordering in 1995 split into EXCEPT
  // (1995-only) and INTERSECT (both years) against the 1996 cohort —
  // the two set ops the reference's repertoire lacks (SURVEY.md §2.8).
  def setOpsQ(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    def cohort(y: String) =
      ord.where(date_format(col("o_orderdate"), "yyyy") === y)
        .select(col("o_custkey"))
    val a = cohort("1995")
    val b = cohort("1996")
    a.except(b).withColumn("tag", lit("only_1995"))
      .unionAll(a.intersect(b).withColumn("tag", lit("both")))
  }
  val setOpsSql: String =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE strftime(o_orderdate, '%Y') = '1995'),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |      WHERE strftime(o_orderdate, '%Y') = '1996')
      |SELECT o_custkey, 'only_1995' AS tag
      |FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT o_custkey, 'both' AS tag
      |FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)""".stripMargin

  // Correlated EXISTS subquery (Catalyst rewrites it to a semi join —
  // the SQL-text route to the same plan q_semi_join builds with the API).
  def existsQ(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 50)""".stripMargin)
  }
  val existsSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_quantity >= 50)""".stripMargin

  // Correlated SCALAR subquery: orders priced above their customer's own
  // average (Catalyst decorrelates to an aggregate + join). The avg is
  // ROUNDED before the comparison — a re-associated double aggregate in
  // a predicate is the one place an ULP of engine difference could flip
  // row membership (the repo-wide determinism rule applies to
  // predicates too).
  def correlatedScalarQ(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT round(avg(o_totalprice), 2)
        |                            FROM orders i
        |                            WHERE i.o_custkey = o.o_custkey)""".stripMargin)
  }
  val correlatedScalarSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice > 1.5 * (SELECT round(avg(o_totalprice), 2)
      |                            FROM orders i
      |                            WHERE i.o_custkey = o.o_custkey)""".stripMargin

  // Analytic window functions beyond row_number (the reference's only
  // window, SURVEY.md §2.6): per-user inter-event gaps via lag, plus
  // first/last session anchors — one window exchange total.
  // RANGE-framed moving aggregate: each event's 10-minute trailing
  // average per user — frame membership by VALUE distance on the event
  // time, not row count, so bursts widen the frame and quiet periods
  // shrink it (the rows-based windows elsewhere in this file cannot
  // express that). Peers at equal timestamps are all in-frame on both
  // engines by RANGE semantics. The average is computed from an EXACT
  // integer cent-sum, not sum of doubles: DuckDB evaluates sliding
  // windows with a segment tree whose re-association differs from
  // Spark's running frame by an ulp; integer sums are order-independent,
  // and the single IEEE division by (n*100.0) is then bit-identical on
  // both engines. No final round(): Spark rounds the shortest decimal
  // repr half-up while DuckDB rounds the binary double, so exact
  // half-cent quotients (cents odd, n=2 → x.xx5) flip between them.
  def rangeFrameQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-600000000L, 0L)
    ev.select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"), col("value"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("n_10min", count(lit(1)).over(w))
      .withColumn("ma_10min",
        sum(col("cents")).over(w).cast("double") /
          (col("n_10min").cast("double") * 100.0d))
      .drop("cents")
  }
  val rangeFrameSql: String =
    """SELECT user_id, event_id,
      |  epoch_ns(ts) // 1000 AS ts_us, value,
      |  count(*) OVER w AS n_10min,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
      |    / (count(*) OVER w * 100.0) AS ma_10min
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
      |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  // Distribution-rank window suite: ntile / percent_rank / cume_dist /
  // nth_value / last_value in ONE window exchange (same partition+order,
  // so Catalyst plans a single Window node — .explain shows one
  // WindowExec). Determinism: the ordering (c_acctbal, c_custkey) is
  // total, and percent_rank/cume_dist are each a SINGLE integer-ratio
  // division, bit-identical across engines; the value-picking functions
  // get an explicit unbounded ROWS frame because the engines' default
  // frames differ.
  def windowSuiteQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    c.select(
      col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_acctbal"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      nth_value(col("c_custkey"), 2).over(wf).as("second_poorest"),
      last(col("c_custkey")).over(wf).as("richest"))
  }
  val windowSuiteSql: String =
    """SELECT c_custkey,
      |  CAST(c_nationkey AS BIGINT) AS nation, c_acctbal,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  nth_value(c_custkey, 2) OVER wf AS second_poorest,
      |  last_value(c_custkey) OVER wf AS richest
      |FROM customer
      |WINDOW
      |  w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
      |  wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  def lagDeltaQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        lag(expr("ts div 1000"), 1).over(w).as("prev_us"),
        first(col("event_id")).over(w).as("first_event"))
      .withColumn("gap_us", col("ts_us") - coalesce(col("prev_us"),
        col("ts_us")))
  }
  val lagDeltaSql: String =
    """SELECT user_id, event_id,
      |  epoch_ns(ts) // 1000 AS ts_us,
      |  lag(epoch_ns(ts) // 1000, 1) OVER w AS prev_us,
      |  first_value(event_id) OVER w AS first_event,
      |  epoch_ns(ts) // 1000 - coalesce(lag(epoch_ns(ts) // 1000, 1) OVER w,
      |                                  epoch_ns(ts) // 1000) AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // Shuffle-key skew diagnostic: the 20 heaviest user_ids with row share.
  def keyHistogramQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SkewOps.keyHistogram(
      Tables.load(spark, dir, "events"), "user_id", 20)
  val keyHistogramSql: String =
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |t AS (SELECT count(*) AS n FROM events)
      |SELECT user_id, cnt,
      |       round(cnt / (SELECT n FROM t)::DOUBLE, 6) AS share
      |FROM c ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin

  // Grouped multi-aggregate stats over the events stream table.
  def eventStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("n_users"),
      round(sum(col("value")), 2).as("sum_value"),
      round(avg(col("value")), 4).as("avg_value"),
      expr("min(ts) div 1000").as("min_ts_us"),
      expr("max(ts) div 1000").as("max_ts_us"))
  }
  // Integer-exact EWMA: per-user activity smoothing with a halving
  // kernel over the 8 most recent OBSERVED days (weights 2^7..2^0,
  // normalized by the weight mass actually present, all in BIGINT with
  // truncating division — no float accumulation, so both engines are
  // bit-identical). The classic trend feature for engagement scoring /
  // churn heuristics; one day-rollup exchange then one user-keyed
  // window pass.
  def ewmaQ(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val terms = (0 until 8).map { k =>
      val wk = 1L << (7 - k)
      (coalesce(lag(col("cnt"), k).over(w), lit(0L)) * wk,
        when(lag(col("cnt"), k).over(w).isNotNull, lit(wk)).otherwise(lit(0L)))
    }
    daily
      .withColumn("__num", terms.map(_._1).reduce(_ + _))
      .withColumn("__den", terms.map(_._2).reduce(_ + _))
      .select(col("user_id"), col("day"), col("cnt"),
        expr("__num div __den").as("ewma8"))
  }
  val ewmaSql: String = {
    val num = (0 until 8).map(k =>
      s"coalesce(lag(cnt, $k) OVER w, 0) * ${1L << (7 - k)}")
      .mkString(" + ")
    val den = (0 until 8).map(k =>
      s"CASE WHEN lag(cnt, $k) OVER w IS NOT NULL THEN ${1L << (7 - k)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH daily AS (
       |  SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, day, cnt,
       |  ($num) // ($den) AS ewma8
       |FROM daily
       |WINDOW w AS (PARTITION BY user_id ORDER BY day
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
  }

  // Join-key overlap pre-flight (Sketches.keyOverlap): exact distinct
  // keys per side, exact intersection/containment, and the HLL-union
  // sketch-path verdict — customer keys vs ordering customers, the
  // profile that tells you an inner join keeps ~2/3 of the dimension.
  def joinProfileQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.keyOverlap(
      Tables.load(spark, dir, "customer"), "c_custkey",
      Tables.load(spark, dir, "orders"), "o_custkey")
  val joinProfileSql: String =
    """SELECT
      |  (SELECT count(DISTINCT c_custkey) FROM customer) AS n_a,
      |  (SELECT count(DISTINCT o_custkey) FROM orders) AS n_b,
      |  (SELECT count(*) FROM (
      |     SELECT DISTINCT c_custkey FROM customer
      |     WHERE c_custkey IN (SELECT o_custkey FROM orders)) t) AS n_inter,
      |  10000 * (SELECT count(*) FROM (
      |     SELECT DISTINCT c_custkey FROM customer
      |     WHERE c_custkey IN (SELECT o_custkey FROM orders)) t)
      |    // (SELECT count(DISTINCT c_custkey) FROM customer)
      |    AS containment_bp,
      |  TRUE AS union_ok""".stripMargin

  // Wide → long reshape (melt): the inverse of q_pivot, via the typed
  // Dataset.unpivot API — a per-flag measure matrix becomes tidy
  // (flag, metric, val) rows. Unpivot is a zero-shuffle row-local
  // explode of the already-aggregated (tiny) wide relation; all the
  // heavy lifting stays in the one upstream hash aggregate.
  def unpivotQ(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_discount")), 2).as("sum_disc"))
    wide.unpivot(
      ids = Array(col("l_returnflag")),
      values = Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
      variableColumnName = "metric",
      valueColumnName = "val")
  }
  val unpivotSql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |         round(sum(l_quantity), 2) AS sum_qty,
      |         round(sum(l_extendedprice), 2) AS sum_price,
      |         round(sum(l_discount), 2) AS sum_disc
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
      |UNION ALL
      |SELECT l_returnflag, 'sum_price', sum_price FROM w
      |UNION ALL
      |SELECT l_returnflag, 'sum_disc', sum_disc FROM w""".stripMargin

  // Mergeable-HLL distinct users per event_type: day slices reduce to
  // one DataSketches HLL row each (operators.Sketches), the per-type
  // estimate is a union over slice rows, and the gated surface is the
  // RELATIONAL accuracy verdict — exact distinct count plus "direct
  // sketch within 5% of exact" and "slice-union within 5% of exact"
  // (rated RSE at lgK=14 is ~0.8%, so the gate is ~6σ wide). The float
  // estimates themselves never cross the engine boundary — same
  // engine-invariant-oracle pattern as x_deflate_gate.
  def hllMergeQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("(ts div 1000) div 86400000000").as("slice"))
    graft.ops.Sketches.mergeReport(ev, "event_type", "slice",
      "user_id")
  }
  val hllMergeSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      |       TRUE AS direct_ok, TRUE AS merged_ok
      |FROM events GROUP BY 1""".stripMargin

  // OHLC downsampling: the classic event-stream → bar-chart reduction
  // (open/high/low/close per hour bucket per event_type). Open and
  // close are SELECTED rows, not aggregates — pinned deterministically
  // by row_number over the total (ts, event_id) ordering in both
  // directions, so both engines pick the identical row even under ts
  // ties. One shuffle on (event_type, bucket) serves both window sorts
  // and the final aggregate; high/low/open/close are raw doubles
  // (selection, no float arithmetic), only the volume sum is rounded.
  def ohlcQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("value"))
      .withColumn("bucket", expr("ts_us div 3600000000"))
    val wA = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts_us"), col("event_id"))
    val wZ = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(wA))
      .withColumn("rn_z", row_number().over(wZ))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_z") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("volume"))
  }
  val ohlcSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 1000 AS ts_us, event_id, value
      |  FROM events),
      |b AS (
      |  SELECT event_type, ts_us // 3600000000 AS bucket,
      |         ts_us, event_id, value
      |  FROM e),
      |w AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, bucket
      |                       ORDER BY ts_us, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, bucket
      |                       ORDER BY ts_us DESC, event_id DESC) AS rn_z
      |  FROM b)
      |SELECT event_type, bucket,
      |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  max(CASE WHEN rn_z = 1 THEN value END) AS close,
      |  count(*) AS n_events,
      |  round(sum(value), 2) AS volume
      |FROM w GROUP BY 1, 2""".stripMargin

  val eventStatsSql: String =
    """SELECT event_type, count(*) AS n,
      |       count(DISTINCT user_id) AS n_users,
      |       round(sum(value), 2) AS sum_value,
      |       round(avg(value), 4) AS avg_value,
      |       min(epoch_ns(ts)) // 1000 AS min_ts_us,
      |       max(epoch_ns(ts)) // 1000 AS max_ts_us
      |FROM events
      |GROUP BY event_type""".stripMargin

  // Exact DECIMAL-lane money aggregation: prices are lifted from the
  // double column into DECIMAL(18,2) via an exact integer-cents × 0.01
  // product (both engines compute integer × 10^-2 exactly in decimal
  // arithmetic), summed in the decimal lane (no floating error, no
  // re-association sensitivity), and emitted as the decimal's plain
  // string form — scale 2 on both engines, so the text is identical.
  def decimalSumQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.select(col("l_returnflag"), expr(
        "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * 0.01 " +
          "AS DECIMAL(18,2))").as("p"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(p) AS STRING)").as("total_price"),
        expr("CAST(min(p) AS STRING)").as("min_price"),
        expr("CAST(max(p) AS STRING)").as("max_price"))
  }
  val decimalSumSql: String =
    """WITH d AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * 0.01
      |         AS DECIMAL(18,2)) AS p
      |  FROM lineitem)
      |SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(p) AS VARCHAR) AS total_price,
      |       CAST(min(p) AS VARCHAR) AS min_price,
      |       CAST(max(p) AS VARCHAR) AS max_price
      |FROM d GROUP BY 1""".stripMargin

  // Complex-type aggregation: per-user event history collected into a
  // SORTED array of structs and serialized to canonical JSON — the
  // "nested list per key" shape feature stores and training-example
  // assembly produce. collect_list alone is partition-order-dependent;
  // sort_array over (event_id, ts) structs makes the nested value
  // deterministic, and JSON text is the engine-neutral equality form.
  def complexAggQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .where(col("event_type") === "signup")
    ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      to_json(sort_array(collect_list(col("event_id")))).as("ids_json"),
      to_json(sort_array(collect_list(struct(
        col("event_id").as("i"),
        expr("ts div 1000").as("t"))))).as("hist_json"))
  }
  val complexAggSql: String =
    """SELECT user_id, count(*) AS n,
      |  to_json(list_sort(list(event_id))) AS ids_json,
      |  to_json(list_sort(list(struct_pack(
      |    i := event_id, t := epoch_ns(ts) // 1000)))) AS hist_json
      |FROM events
      |WHERE event_type = 'signup'
      |GROUP BY user_id""".stripMargin

  // Funnel analysis: per-user ordered progression view → click →
  // purchase, each stage's timestamp the FIRST occurrence strictly
  // after the previous stage (the sequential-conversion definition —
  // a purchase before any click doesn't count). Three chained
  // conditional-min aggregations over one events scan; all integer
  // microsecond arithmetic, so the funnel depth is engine-exact.
  def funnelQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
    val t1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tsu")).as("t1"))
    val t2 = ev.where(col("event_type") === "click").join(t1, "user_id")
      .where(col("tsu") > col("t1"))
      .groupBy("user_id").agg(min(col("tsu")).as("t2"))
    val t3 = ev.where(col("event_type") === "purchase").join(t2, "user_id")
      .where(col("tsu") > col("t2"))
      .groupBy("user_id").agg(min(col("tsu")).as("t3"))
    ev.select("user_id").distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .select(col("user_id"),
        (when(col("t1").isNotNull, 1).otherwise(0) +
          when(col("t2").isNotNull, 1).otherwise(0) +
          when(col("t3").isNotNull, 1).otherwise(0)).cast("long")
          .as("funnel_depth"),
        col("t1").as("first_view_us"), col("t2").as("first_click_us"),
        col("t3").as("first_purchase_us"))
  }
  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tsu
      |  FROM events),
      |t1 AS (SELECT user_id, min(tsu) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e JOIN t1 USING (user_id)
      |       WHERE event_type = 'click' AND tsu > t1 GROUP BY 1),
      |t3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e JOIN t2 USING (user_id)
      |       WHERE event_type = 'purchase' AND tsu > t2 GROUP BY 1)
      |SELECT u.user_id,
      |  CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END) +
      |       (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) +
      |       (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS funnel_depth,
      |  t1 AS first_view_us, t2 AS first_click_us, t3 AS first_purchase_us
      |FROM (SELECT DISTINCT user_id FROM e) u
      |LEFT JOIN t1 USING (user_id)
      |LEFT JOIN t2 USING (user_id)
      |LEFT JOIN t3 USING (user_id)""".stripMargin

  // Cohort retention: users grouped by the week of their FIRST event
  // (the cohort), counted by how many distinct later weeks they came
  // back in — the activity matrix every growth dashboard draws. All
  // integer week arithmetic off epoch microseconds.
  def cohortQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        expr("(ts div 1000) div 604800000000").as("week"))
    val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }
  val cohortSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    (epoch_ns(ts) // 1000) // 604800000000 AS week
      |  FROM events),
      |f AS (SELECT user_id, min(week) AS cohort FROM e GROUP BY 1)
      |SELECT cohort, week - cohort AS week_n,
      |       count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** The orders star: each order with its customer, nation and region
    * (broadcast dimensions). */
  private def orderStar(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
    val reg = Tables.load(spark, dir, "region")
    val ord = Tables.load(spark, dir, "orders")
    ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
  }

  // Star-join rollup: revenue by region/nation (denormalize → aggregate).
  def regionRevenueQ(spark: SparkSession, dir: String): DataFrame =
    orderStar(spark, dir)
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_revenue"))
  val regionRevenueSql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // Hierarchical rollup (region → nation → grand total) — subtotal rows
  // carry NULL group keys in both engines.
  def rollupRevenueQ(spark: SparkSession, dir: String): DataFrame =
    orderStar(spark, dir)
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_revenue"))
  val rollupRevenueSql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  // Anti join: customers with no order since 2001 (NOT EXISTS). Every
  // customer has SOME order in the synthetic data, so the right side is
  // date-restricted to make the anti set non-empty at every sf.
  def antiJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate").cast("date") >= lit("2001-01-01"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }
  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND CAST(o.o_orderdate AS DATE) >= DATE '2001-01-01')""".stripMargin

  // Full CUBE over (orderstatus, orderpriority): all grouping-set
  // combinations including cross-margins (rollup covers the hierarchy
  // case; cube completes the grouping-sets family).
  def cubeStatusQ(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    ord.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }
  val cubeStatusSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // Semi join: customers WITH at least one 2001 order (EXISTS) — the
  // complement of q_anti_join, completing the join-type coverage.
  def semiJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate").cast("date") >= lit("2001-01-01"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }
  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND CAST(o.o_orderdate AS DATE) >= DATE '2001-01-01')""".stripMargin

  // Salted two-phase aggregation over the hot event_type keys — result is
  // exactly the plain GROUP BY (the oracle's form); the salt only shapes
  // the shuffle.
  def saltedAggQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    graft.ops.SkewOps.saltedSumCount(ev, Seq("event_type"), Seq("value"),
      saltSource = "event_id", saltBuckets = 16)
      .select(col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
  }
  val saltedAggSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  // Exact interpolated percentiles (sort-based aggregate) — Spark's
  // percentile() and DuckDB's quantile_cont() both use linear
  // interpolation over the sorted values.
  def percentilesQ(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    ord.groupBy(col("o_orderstatus")).agg(
      count(lit(1)).as("n"),
      round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
      round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
      round(min(col("o_totalprice")), 2).as("min_price"),
      round(max(col("o_totalprice")), 2).as("max_price"))
  }
  val percentilesSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // Range join via time-bucket banding (operators.RangeJoin): for each
  // purchase, the user's clicks in the 10 minutes before it. The naive
  // inequality join has no equi key; the operator turns it into a hash
  // join on (user_id, ts-bucket) — the shape that survives 100 TB.
  def rangeJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    graft.operators.RangeJoin.countInWindow(purchases, clicks,
      Seq("user_id"), "ts", "ts", "event_id", 600L * 1000000000L)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        col("n_in_window").as("n_clicks"),
        coalesce(expr("last_ts_in_window div 1000"), lit(-1L))
          .as("last_click_us"))
  }
  val rangeJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, event_type FROM events),
      |p AS (SELECT user_id, event_id, tsn FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, tsn FROM e WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id, p.tsn // 1000 AS ts_us,
      |  count(c.tsn) AS n_clicks,
      |  coalesce(max(c.tsn) // 1000, -1) AS last_click_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id
      |  AND c.tsn >= p.tsn - 600000000000 AND c.tsn < p.tsn
      |GROUP BY p.user_id, p.event_id, p.tsn""".stripMargin

  // JSON column extraction: events.props is a JSON string; extract a
  // field (codegen'd get_json_object path, no UDF) and aggregate.
  // Integer sums are exact, so avg is reproducible without rounding
  // games; rounded anyway for uniformity.
  def jsonExtractQ(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        round(avg(col("k")), 4).as("avg_k"))
  val jsonExtractSql: String =
    """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |       min(k) AS min_k, max(k) AS max_k, round(avg(k), 4) AS avg_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type""".stripMargin

  // Pivot: per-user event counts, one column per (explicitly listed)
  // event type — the explicit value list keeps the output schema static,
  // which is also what a 100 TB pivot needs (no value-discovery scan).
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  def pivotQ(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L)
  val pivotSql: String = {
    val cols = EventTypes.map(t =>
      s"count(*) FILTER (event_type = '$t') AS $t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id""".stripMargin
  }

  // Explicit GROUPING SETS with grouping_id disambiguation (rollup and
  // cube are verified elsewhere; this is the general form).
  def groupingSetsQ(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }
  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS sum_price,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin

  // Skew-safe salted join (SkewOps.saltedJoin): events' 15-user key is
  // extreme skew; the salt spreads each hot key over 8 sub-keys. The
  // result is exactly the unsalted join, which the oracle runs.
  def saltedJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val dim = Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") < 15)
      .select(col("c_custkey").as("user_id"), col("c_name"))
    graft.ops.SkewOps.saltedJoin(ev, dim, Seq("user_id"), "event_id", 8)
      .groupBy(col("user_id"), col("c_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }
  val saltedJoinSql: String =
    """SELECT e.user_id, c.c_name, count(*) AS n,
      |       round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |WHERE c.c_custkey < 15
      |GROUP BY e.user_id, c.c_name""".stripMargin

  // Sketch aggregates: HLL++ approximate distinct next to the exact
  // count. The raw sketch estimate can't hash-match across engines
  // (DuckDB's approx_count_distinct is a different sketch), so the query
  // emits what IS engine-portable: the exact count plus `approx_ok` —
  // each engine bounds ITS OWN sketch against the exact count
  // (|approx−exact| ≤ 5%·exact). Both engines' sketches are far inside
  // 2% at these scales, so the flag is deterministically 1 and the row
  // hash-matches while still value-checking that the sketch works.
  def approxDistinctQ(spark: SparkSession, dir: String): DataFrame = {
    val exact = countDistinct(col("l_orderkey"))
    // rsd=1%: the default 5% relative-standard-deviation sketch can land
    // OUTSIDE a 5% bound (1σ is not a maximum); a 1% sketch stays well
    // inside it. DuckDB's fixed-precision sketch is ~0.4% error.
    val approx = approx_count_distinct(col("l_orderkey"), 0.01)
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(exact.as("exact_orders"),
        (abs(approx - exact).cast("double") <= exact.cast("double") * 0.05)
          .cast("bigint").as("approx_ok"))
  }
  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |  CAST(abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
      |       <= 0.05 * count(DISTINCT l_orderkey) AS BIGINT) AS approx_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // Second-moment statistics (corr / covar / stddev) — normally NOT
  // engine-portable: built-in corr() folds doubles in row order, so two
  // engines (or two Spark runs with different partitionings!) disagree
  // in the last bits. Here the inputs are fixed-point money/quantity
  // columns, so the moments are computed EXACTLY: quantize to cents
  // (round(x*100) — representation error ≪ 0.5, so both engines land on
  // the same integer), accumulate Σx, Σy, Σx², Σy², Σxy in decimal(38,0)
  // (order-independent), and derive the statistics row-locally from the
  // exact moments with the identical double expression on both sides.
  // Deterministic across engines, partitionings, AND task retries — the
  // same property the k-means trainer builds on.
  def corrExactQ(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val qx = round(col("l_quantity") * 100).cast("long").cast(dec)
    val qy = round(col("l_extendedprice") * 100).cast("long").cast(dec)
    val g = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(qx).as("sx"), sum(qy).as("sy"),
        sum(qx * qx).as("sxx"), sum(qy * qy).as("syy"),
        sum(qx * qy).as("sxy"))
    val covNum = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy"))
      .cast("double")
    // zero-variance guard: a group where every x (or y) is equal has no
    // defined correlation/slope — emit NULL instead of a NaN/Infinity
    // whose rendering is not engine-portable. The comparison is on the
    // EXACT decimal moment, so both engines take the same branch.
    val degX = varX === 0.0d
    val degY = varY === 0.0d
    g.select(col("l_returnflag"),
      col("n").cast("bigint").as("n"),
      when(degX || degY, lit(null).cast("double"))
        .otherwise(covNum / (sqrt(varX) * sqrt(varY))).as("corr_qty_price"),
      (covNum / (col("n") * col("n")).cast("double") / 10000.0d)
        .as("covar_pop_qty_price"),
      (sqrt(varX) / col("n").cast("double") / 100.0d).as("stddev_pop_qty"),
      (sqrt(varY) / col("n").cast("double") / 100.0d).as("stddev_pop_price"),
      // least-squares price ~ qty from the same exact moments; the cents
      // scaling cancels in the slope, the intercept descale is /100
      when(degX, lit(null).cast("double"))
        .otherwise(covNum / varX).as("regr_slope"),
      when(degX, lit(null).cast("double"))
        .otherwise((col("sy").cast("double") - (covNum / varX) *
          col("sx").cast("double")) / col("n").cast("double") / 100.0d)
        .as("regr_intercept"))
  }
  val corrExactSql: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS HUGEINT) AS qx,
      |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS qy
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    sum(qx) AS sx, sum(qy) AS sy,
      |    sum(qx * qx) AS sxx, sum(qy * qy) AS syy,
      |    sum(qx * qy) AS sxy
      |  FROM q GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN NULL ELSE
      |    CAST(n*sxy - sx*sy AS DOUBLE) /
      |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
      |       sqrt(CAST(n*syy - sy*sy AS DOUBLE))) END AS corr_qty_price,
      |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*n AS DOUBLE) / 10000.0
      |    AS covar_pop_qty_price,
      |  sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
      |    AS stddev_pop_qty,
      |  sqrt(CAST(n*syy - sy*sy AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
      |    AS stddev_pop_price,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN NULL ELSE
      |    CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
      |    END AS regr_slope,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN NULL ELSE
      |    (CAST(sy AS DOUBLE) -
      |       (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
      |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
      |    END AS regr_intercept
      |FROM m""".stripMargin

  // Equal-width histogram of the events value column — the oracle-
  // checked binning query. The min/max scalars ride a broadcast
  // single-row join (the K5 pattern — no driver collect); the bucket
  // index is floor((v-min)/width) on identical doubles in both engines,
  // capped so v=max lands in the last bucket.
  def histogramQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val bins = 10
    val stats = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    ev.crossJoin(broadcast(stats))
      // degenerate range (mx == mn): everything is bucket 0 — without
      // the guard the width is 0 and floor(NaN) diverges across engines
      .withColumn("bucket", when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(
          floor((col("value") - col("mn")) /
            ((col("mx") - col("mn")) / bins)).cast("long"),
          lit(bins - 1L))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("lo"),
        round(max(col("value")), 6).as("hi"))
  }
  val histogramSql: String =
    """WITH s AS (SELECT min(value) AS mn, max(value) AS mx FROM events)
      |SELECT CASE WHEN mx = mn THEN 0 ELSE
      |         least(CAST(floor((value - mn) / ((mx - mn) / 10)) AS BIGINT),
      |               9) END AS bucket,
      |       count(*) AS n,
      |       round(min(value), 6) AS lo, round(max(value), 6) AS hi
      |FROM events CROSS JOIN s
      |GROUP BY 1""".stripMargin

  // Equi-DEPTH histogram boundaries — the optimizer-statistics shape
  // (ANALYZE builds these): per order priority, the exact quartile
  // boundaries of the total price in cents. Boundaries use the
  // explicit rank rule (value at position ceil(i·n/4) under a total
  // order) so both engines pick the same element — the cents lane and
  // integer rank arithmetic leave no float compare anywhere. One
  // window shuffle on the priority key; at scale the partition key
  // bounds each sort.
  def equidepthQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderpriority").as("priority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderkey"))
    val wOrd = Window.partitionBy(col("priority"))
      .orderBy(col("cents"), col("o_orderkey"))
    val wAll = Window.partitionBy(col("priority"))
    o.withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        max(when(col("rk") === expr("(n + 3) div 4"), col("cents")))
          .as("p25_cents"),
        max(when(col("rk") === expr("(2 * n + 3) div 4"), col("cents")))
          .as("p50_cents"),
        max(when(col("rk") === expr("(3 * n + 3) div 4"), col("cents")))
          .as("p75_cents"),
        max(col("cents")).as("max_cents"))
  }
  val equidepthSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY priority
      |      ORDER BY cents, o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY priority) AS n
      |  FROM o)
      |SELECT priority, count(*) AS n_orders,
      |  max(CASE WHEN rk = (n + 3) // 4 THEN cents END) AS p25_cents,
      |  max(CASE WHEN rk = (2 * n + 3) // 4 THEN cents END) AS p50_cents,
      |  max(CASE WHEN rk = (3 * n + 3) // 4 THEN cents END) AS p75_cents,
      |  max(cents) AS max_cents
      |FROM r GROUP BY priority""".stripMargin

  // Market-basket co-purchase: the top-20 part pairs ordered together
  // most often. Distinct (order, part) first, then ONE wedge self-join
  // on the order key (the triangles shape — intermediate size is the
  // wedge count, never |lineitem|²), canonical part_a < part_b so each
  // pair is one row, and a total (count desc, part_a, part_b) order
  // makes the top-20 boundary engine-deterministic.
  def copurchaseQ(spark: SparkSession, dir: String): DataFrame = {
    // row-local per-basket pair expansion — the q_basket_lift /
    // x_source_overlap device: collect_set dedups (ok, pk) and the
    // ok-keyed self-join disappears; identical ordered pairs
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val pairs = li.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss) - i - 1), y -> " +
          "named_struct('part_a', x, 'part_b', y))))")).as("p"))
      .groupBy(col("p.part_a").as("part_a"),
        col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b")))
        .cast("long"))
  }
  // Exact weighted median: the quantity-weighted median extended price
  // per return flag — the robust "typical shipment price" where each
  // row counts with its quantity, computed as an exact cumulative-
  // weight selection (lowest price whose running weight reaches half
  // the total — the standard lower weighted median), not an
  // interpolation. All lanes integer: prices in cents, quantities and
  // cumulative weights in BIGINT, the half-total comparison doubled to
  // avoid division. One partitioned window + one aggregate.
  def weightedMedianQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
    if (!robustPreAgg(li)) {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cents"), col("qty"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("l_returnflag"))
      li.withColumn("cum", sum(col("qty")).over(w))
        .withColumn("tw", sum(col("qty")).over(tot))
        .where(col("cum") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("cents")).as("wmedian_cents"),
          max(col("tw")).as("total_qty"))
    } else {
      // pre-aggregated cumulative form (see robustPreAgg): qty ≥ 0
      // makes the raw cumulative weight monotone, so the qualifying
      // rows are a suffix and the boundary row sits inside the first
      // (cents, qty) GROUP whose group-level cumulative weight clears
      // the threshold — min(cents) and max(tw) are unchanged
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cents"), col("qty"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("l_returnflag"))
      li.groupBy(col("l_returnflag"), col("cents"), col("qty"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("cum", sum(col("qty") * col("__c")).over(w))
        .withColumn("tw", sum(col("qty") * col("__c")).over(tot))
        .where(col("cum") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("cents")).as("wmedian_cents"),
          max(col("tw")).as("total_qty"))
    }
  }
  val weightedMedianSql: String =
    """WITH li AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(round(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem),
      |c AS (
      |  SELECT l_returnflag, cents,
      |    sum(qty) OVER (PARTITION BY l_returnflag
      |      ORDER BY cents, qty
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(qty) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM li)
      |SELECT l_returnflag,
      |  CAST(min(cents) AS BIGINT) AS wmedian_cents,
      |  CAST(max(tw) AS BIGINT) AS total_qty
      |FROM c WHERE cum * 2 >= tw
      |GROUP BY 1""".stripMargin

  // Exact median absolute deviation per return flag, in integer cents:
  // the robust dispersion statistic (outlier-insensitive, unlike
  // stddev) computed with TWO passes of the same cumulative-rank
  // selection device as q_weighted_median — lower median of the
  // prices, then lower median of |price − median|. Selection by
  // rank-threshold + min(value) is tie-stable: with equal values the
  // threshold lands inside the run, and min over the selected rows is
  // that value regardless of their arbitrary relative order, so no
  // float percentile and no engine disagreement. The 4-row median
  // relation broadcasts back onto the fact scan for the deviation
  // pass.
  /** Scale gate for the robust-stats rank windows (r12, r11 verdict
    * item 7): true when the scan feeding the window is estimated past
    * `graft.robustStats.preAggBytes` (default 4 GiB). The flag
    * cardinality bounds the window's PARTITIONS, not the rows per
    * partition, so at 100 TB the raw-row window is a single-task
    * billion-row sort per flag — the rank selection must switch to the
    * PRE-AGGREGATED cumulative form (count duplicates first, window
    * over distinct values). Locally the raw window stays: cents are
    * near-distinct at bench SFs, so pre-aggregation adds a hash
    * shuffle without shrinking the window input (measured q_mad
    * 1.67 → 2.77 s in the r11 rejected-experiments record). Both forms
    * are bit-equal (RobustStatsSpec pins the hash equality). */
  private[graft] def robustPreAgg(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf
      .getOption("graft.robustStats.preAggBytes")
      .map(_.toLong).getOrElse(4L * 1024 * 1024 * 1024)
    scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes
      >= BigInt(threshold)).getOrElse(false)
  }

  /** Lower median per l_returnflag by cumulative-rank selection —
    * raw-row window or pre-aggregated cumulative form per `preAgg`
    * (bit-equal: a value v qualifies iff its run's LARGEST row_number,
    * which is the cumulative count ≤ v, clears the n/2 threshold, and
    * min over qualifying values is the same value either way). */
  private[graft] def lowerMedianBy(df: DataFrame, valueCol: String,
                                   outCol: String,
                                   preAgg: Boolean): DataFrame =
    if (!preAgg) {
      val wo = Window.partitionBy(col("l_returnflag"))
        .orderBy(col(valueCol))
      val wp = Window.partitionBy(col("l_returnflag"))
      df.withColumn("__rn", row_number().over(wo))
        .withColumn("__n", count(lit(1)).over(wp))
        .where(col("__rn") * 2 >= col("__n"))
        .groupBy(col("l_returnflag"))
        .agg(min(col(valueCol)).as(outCol), max(col("__n")).as("n_rows"))
    } else {
      val wo = Window.partitionBy(col("l_returnflag"))
        .orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy(col("l_returnflag"))
      df.groupBy(col("l_returnflag"), col(valueCol))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(wo))
        .withColumn("__n", sum(col("__c")).over(wp))
        .where(col("__cum") * 2 >= col("__n"))
        .groupBy(col("l_returnflag"))
        .agg(min(col(valueCol)).as(outCol), max(col("__n")).as("n_rows"))
    }

  /** `li(l_returnflag, cents)` and `<r>`, its per-flag value ranks
    * `rn` of `n` — the rank-selection device of the robust-stats
    * oracles. */
  private def centsRankedCtes(r: String): String =
    s"""li AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       |  FROM lineitem),
       |$r AS (
       |  SELECT l_returnflag, cents,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY cents) AS rn,
       |    count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM li)""".stripMargin
  /** `dev(l_returnflag, d)`, each row's absolute deviation from the
    * `med` median, and `r2`, its per-flag ranks — the MAD pass. */
  private val madDevCtes: String =
    """dev AS (
      |  SELECT li.l_returnflag, abs(li.cents - m.median_cents) AS d
      |  FROM li JOIN med m USING (l_returnflag)),
      |r2 AS (
      |  SELECT l_returnflag, d,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY d) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM dev)""".stripMargin
  def madQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val preAgg = robustPreAgg(li)
    def lowerMedian(df: DataFrame, valueCol: String,
                    outCol: String): DataFrame =
      lowerMedianBy(df, valueCol, outCol, preAgg)
    val med = lowerMedian(li, "cents", "median_cents")
    val dev = li.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("median_cents"),
        abs(col("cents") - col("median_cents")).as("d"))
    lowerMedian(dev, "d", "mad_cents")
      .join(broadcast(med.select(col("l_returnflag"),
        col("median_cents"))), "l_returnflag")
      .select(col("l_returnflag"), col("median_cents"),
        col("mad_cents"), col("n_rows"))
  }
  val madSql: String =
    s"""WITH ${centsRankedCtes("r1")},
       |med AS (
       |  SELECT l_returnflag, CAST(min(cents) AS BIGINT) AS median_cents,
       |    CAST(max(n) AS BIGINT) AS n_rows
       |  FROM r1 WHERE rn * 2 >= n GROUP BY 1),
       |$madDevCtes
       |SELECT r2.l_returnflag, m.median_cents,
       |  CAST(min(r2.d) AS BIGINT) AS mad_cents, m.n_rows
       |FROM r2 JOIN med m USING (l_returnflag)
       |WHERE r2.rn * 2 >= r2.n
       |GROUP BY 1, 2, 4""".stripMargin

  // 10% two-sided trimmed mean per return flag — the robust-location
  // companion of q_mad: drop the lowest and highest n div 10 ranks,
  // integer-average the interior (sum div count). Tie-stable for the
  // same reason as the median device: swapping equal values across the
  // trim boundary swaps identical cents in and out of the kept SET, so
  // the sum never moves. Exact integer lane end to end.
  def trimmedMeanQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    if (!robustPreAgg(li)) {
      val wo = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      val wp = Window.partitionBy(col("l_returnflag"))
      li.withColumn("rn", row_number().over(wo))
        .withColumn("n", count(lit(1)).over(wp))
        .where(col("rn") > expr("n div 10") &&
          col("rn") <= col("n") - expr("n div 10"))
        .groupBy(col("l_returnflag"))
        .agg(expr("sum(cents) div count(*)").as("trimmed_mean_cents"),
          count(lit(1)).as("n_kept"),
          max(col("n")).as("n_rows"))
    } else {
      // pre-aggregated cumulative form (see robustPreAgg): value v's
      // raw rows hold ranks (cum − c, cum]; the kept interval is
      // (n div 10, n − n div 10], so v keeps the overlap of the two —
      // swapping equal values across a trim boundary never moves the
      // kept SUM, exactly the raw form's tie-stability argument
      val wo = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy(col("l_returnflag"))
      li.groupBy(col("l_returnflag"), col("cents"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(wo))
        .withColumn("__n", sum(col("__c")).over(wp))
        .withColumn("__k", greatest(lit(0L),
          least(col("__cum"), col("__n") - expr("__n div 10")) -
            greatest(col("__cum") - col("__c"), expr("__n div 10"))))
        .where(col("__k") > 0)
        .groupBy(col("l_returnflag"))
        .agg(expr("sum(cents * __k) div sum(__k)").as("trimmed_mean_cents"),
          sum(col("__k")).as("n_kept"),
          max(col("__n")).as("n_rows"))
    }
  }
  val trimmedMeanSql: String =
    s"""WITH ${centsRankedCtes("r")}
       |SELECT l_returnflag,
       |  CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents,
       |  count(*) AS n_kept,
       |  CAST(max(n) AS BIGINT) AS n_rows
       |FROM r
       |WHERE rn > n // 10 AND rn <= n - n // 10
       |GROUP BY 1""".stripMargin

  // Robust outlier rate: rows beyond 3×MAD of the median, per return
  // flag — the outlier DETECTOR q_mad's statistic exists to feed
  // (stddev-based z-scores move with the very outliers they hunt;
  // median/MAD don't). Reuses the two-pass rank-selection device and
  // broadcasts the 4-row (median, mad) relation onto one counting
  // scan. Pure integers: the cutoff compare is |cents−med| > 3·mad
  // with exact BIGINTs on both engines.
  def madOutliersQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val stats = madQ(spark, dir)
      .select(col("l_returnflag"), col("median_cents"), col("mad_cents"))
    li.join(broadcast(stats), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(abs(col("cents") - col("median_cents")) >
          lit(3L) * col("mad_cents"), 1L).otherwise(0L)).as("n_outliers"),
        max(col("median_cents")).as("median_cents"),
        max(col("mad_cents")).as("mad_cents"))
      .select(col("l_returnflag"), col("n_rows"), col("n_outliers"),
        col("median_cents"), col("mad_cents"),
        expr("n_outliers * 10000 div n_rows").as("outlier_rate_bp"))
  }
  val madOutliersSql: String =
    s"""WITH ${centsRankedCtes("r1")},
       |med AS (
       |  SELECT l_returnflag, CAST(min(cents) AS BIGINT) AS median_cents
       |  FROM r1 WHERE rn * 2 >= n GROUP BY 1),
       |$madDevCtes,
       |mad AS (
       |  SELECT l_returnflag, CAST(min(d) AS BIGINT) AS mad_cents
       |  FROM r2 WHERE rn * 2 >= n GROUP BY 1)
       |SELECT li.l_returnflag, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN abs(li.cents - m.median_cents)
       |                     > 3 * d.mad_cents THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers,
       |  CAST(max(m.median_cents) AS BIGINT) AS median_cents,
       |  CAST(max(d.mad_cents) AS BIGINT) AS mad_cents,
       |  CAST(sum(CASE WHEN abs(li.cents - m.median_cents)
       |                     > 3 * d.mad_cents THEN 1 ELSE 0 END) * 10000
       |    // count(*) AS BIGINT) AS outlier_rate_bp
       |FROM li
       |JOIN med m USING (l_returnflag)
       |JOIN mad d USING (l_returnflag)
       |GROUP BY 1""".stripMargin

  // Exact per-group MODE with a deterministic tie-break: the most
  // frequent quantity per return flag, ties resolved to the SMALLEST
  // value — a total order both engines replay exactly, where a bare
  // mode() aggregate ties arbitrarily. One count aggregation + one
  // WindowGroupLimit-eligible rank-1 window over the (count DESC,
  // value ASC) order.
  def modeQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_returnflag"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
    val counts = li.groupBy(col("l_returnflag"), col("qty"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("qty").asc)
    counts.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("qty").as("mode_qty"),
        col("n").as("mode_count"))
  }
  val modeSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS qty,
      |         count(*) AS n
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, qty AS mode_qty, n AS mode_count
      |FROM c
      |QUALIFY row_number() OVER (PARTITION BY l_returnflag
      |  ORDER BY n DESC, qty ASC) = 1""".stripMargin

  // Interval concurrency (sweep line): treat each event as a 10-minute
  // active window and report, per event_type, the PEAK number of
  // simultaneously-active windows and when it first occurs — the
  // load-profile / capacity question. Classic sweep: explode each
  // interval into a +1 start and a −1 end point, running-sum over the
  // (time, delta, id) total order WITHIN each type partition, then one
  // aggregate with the deterministic first-peak selection. Ends sort
  // before starts at the same instant (delta asc) so touching
  // intervals don't double-count. All integer micro-lanes.
  def concurrencyQ(spark: SparkSession, dir: String): DataFrame = {
    val win = 600000000L // 10 min in micros
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
    val pts = ev.select(col("event_type"), col("ts_us").as("t"),
        lit(1L).as("d"), col("event_id"))
      .unionByName(ev.select(col("event_type"),
        (col("ts_us") + win).as("t"), lit(-1L).as("d"), col("event_id")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t"), col("d"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = pts.withColumn("c", sum(col("d")).over(w))
    // peak via a second window over the SAME partitioning (no re-scan,
    // no self-join: one exchange feeds both window passes)
    val wAll = Window.partitionBy(col("event_type"))
    run.withColumn("peak", max(col("c")).over(wAll))
      .where(col("c") === col("peak"))
      .groupBy(col("event_type"), col("peak"))
      .agg(min(col("t")).as("first_peak_us"))
  }
  val concurrencySql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events),
      |pts AS (
      |  SELECT event_type, ts_us AS t, 1 AS d, event_id FROM ev
      |  UNION ALL
      |  SELECT event_type, ts_us + 600000000, -1, event_id FROM ev),
      |run AS (
      |  SELECT event_type, t,
      |    sum(d) OVER (PARTITION BY event_type
      |                 ORDER BY t, d, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS c
      |  FROM pts),
      |pk AS (SELECT event_type, max(c) AS peak FROM run GROUP BY 1)
      |SELECT r.event_type, CAST(p.peak AS BIGINT) AS peak,
      |  CAST(min(r.t) AS BIGINT) AS first_peak_us
      |FROM run r JOIN pk p
      |  ON r.event_type = p.event_type AND r.c = p.peak
      |GROUP BY 1, 2""".stripMargin

  // 2-D skyline (Pareto frontier): orders no other order strictly
  // undercuts AND outdates — minimize price, maximize recency, strict
  // price dominance. The textbook formulation is one GLOBAL running-max
  // window; at scale that is a single-partition sort, so this uses the
  // two-level prefix-max decomposition instead: a value-range bucket on
  // price (row-local), the running max WITHIN each bucket (partitioned
  // range-frame window), and the cross-bucket prefix max over the tiny
  // per-bucket rollup (global window over ≤ ~60 rows — bounded by the
  // price domain, not the data). Identical result to the global window
  // by construction, which is exactly what the oracle runs.
  def skylineQ(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
      datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
        .as("date_days"))
      .withColumn("bucket", expr("price_cents div 1000000"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val bmax = base.groupBy(col("bucket"))
      .agg(max(col("date_days")).as("bm"))
    val wPre = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = bmax
      .withColumn("pm", coalesce(max(col("bm")).over(wPre), lit(-1L)))
      .select(col("bucket"), col("pm"))
    base.join(broadcast(prefix), Seq("bucket"))
      .withColumn("__runmax",
        greatest(coalesce(max(col("date_days")).over(wIn), lit(-1L)),
          col("pm")))
      .where(col("date_days") > col("__runmax"))
      .select(col("o_orderkey"), col("price_cents"), col("date_days"))
  }
  val skylineSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS date_days
      |  FROM orders),
      |w AS (
      |  SELECT o_orderkey, price_cents, date_days,
      |    coalesce(max(date_days) OVER (ORDER BY price_cents
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      AS runmax
      |  FROM o)
      |SELECT o_orderkey, price_cents, date_days
      |FROM w WHERE date_days > runmax""".stripMargin

  // Association lift over the co-purchase pairs: raw pair counts rank
  // popular-with-popular; lift = P(ab)/(P(a)P(b)) normalizes away item
  // popularity and surfaces genuinely ASSOCIATED pairs. Exact integer
  // basis points — (n_ab · n_baskets · 10000) div (n_a · n_b) — so the
  // top-20 cut under the (lift, part_a, part_b) total order is
  // deterministic in both engines. The basket total joins as a
  // broadcast one-row stat; everything else is the same wedge
  // self-join + hash aggregates as q_copurchase.
  def basketLiftQ(spark: SparkSession, dir: String): DataFrame = {
    // One basket aggregation feeds everything (the x_source_overlap
    // device): collect_set dedups (ok, pk) — the separate distinct
    // pass is gone — and per-basket item pairs expand ROW-LOCALLY
    // from the sorted set (basket sizes are single digits), replacing
    // the ok-keyed self-join's second shuffle + join with a flat map.
    // sort_array + slice emit each pair once with part_a < part_b —
    // identical to the join + filter.
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val grouped = li.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ss"))
    val baskets = grouped.agg(count(lit(1)).as("n_baskets"))
    val cnt = grouped.select(explode(col("ss")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
    val pairs = grouped
      .where(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss) - i - 1), y -> " +
          "named_struct('part_a', x, 'part_b', y))))")).as("p"))
      .groupBy(col("p.part_a").as("part_a"),
        col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 3)
    pairs
      .join(cnt.select(col("pk").as("part_a"), col("n_i").as("n_a")),
        "part_a")
      .join(cnt.select(col("pk").as("part_b"), col("n_i").as("n_b")),
        "part_b")
      .crossJoin(broadcast(baskets))
      .withColumn("lift_bp",
        expr("(n_ab * n_baskets * 10000) div (n_a * n_b)"))
      .orderBy(col("lift_bp").desc, col("part_a"), col("part_b"))
      .limit(20)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("lift_bp").desc, col("part_a"), col("part_b")))
        .cast("long"))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        col("lift_bp"), col("rank"))
  }
  val basketLiftSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM li),
      |cnt AS (SELECT pk, count(*) AS n_i FROM li GROUP BY 1),
      |p AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_ab
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |l AS (
      |  SELECT p.part_a, p.part_b, p.n_ab,
      |    (p.n_ab * nb.n_baskets * 10000) // (ca.n_i * cb.n_i) AS lift_bp
      |  FROM p, nb
      |  JOIN cnt ca ON ca.pk = p.part_a
      |  JOIN cnt cb ON cb.pk = p.part_b),
      |t AS (
      |  SELECT * FROM l
      |  ORDER BY lift_bp DESC, part_a, part_b LIMIT 20)
      |SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
      |  CAST(lift_bp AS BIGINT) AS lift_bp,
      |  CAST(row_number() OVER
      |    (ORDER BY lift_bp DESC, part_a, part_b) AS BIGINT) AS rank
      |FROM t""".stripMargin

  val copurchaseSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |p AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT part_a, part_b, n_orders,
      |  CAST(row_number() OVER
      |    (ORDER BY n_orders DESC, part_a, part_b) AS BIGINT) AS rank
      |FROM p ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin

  // Fulfillment latency: days from order date to the order's LAST
  // shipment, rolled up by priority — the SLA table. Date arithmetic
  // is integer days in both engines; the mean ships as an exact
  // integer division plus the sum/count it derives from. One rollup
  // per order then one per priority.
  def fulfillmentQ(spark: SparkSession, dir: String): DataFrame = {
    val lastShip = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("last_ship"))
    Tables.load(spark, dir, "orders")
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("last_ship"), col("o_orderdate").cast("date"))
          .cast("long").as("days"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("days")).as("sum_days"),
        max(col("days")).as("max_days"))
      .select(col("priority"), col("n_orders"), col("sum_days"),
        col("max_days"), expr("sum_days div n_orders").as("mean_days"))
  }
  val fulfillmentSql: String =
    """WITH ls AS (
      |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(ls.last_ship - CAST(o.o_orderdate AS DATE) AS BIGINT)
      |      AS days
      |  FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey)
      |SELECT priority, count(*) AS n_orders,
      |  CAST(sum(days) AS BIGINT) AS sum_days,
      |  max(days) AS max_days,
      |  CAST(sum(days) // count(*) AS BIGINT) AS mean_days
      |FROM d GROUP BY priority""".stripMargin

  // Discount-band effect: lineitem volume and revenue by discount
  // percentage point — the pricing-elasticity rollup. Bands are exact
  // integer points (floor(discount·100)); revenue in cents. One hash
  // aggregation.
  def discountEffectQ(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(floor(col("l_discount") * 100).cast("long")
        .as("discount_pp"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("revenue_c"))
  val discountEffectSql: String =
    """SELECT CAST(floor(l_discount * 100) AS BIGINT) AS discount_pp,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_c
      |FROM lineitem GROUP BY 1""".stripMargin

  // Growth accounting: per epoch week, active users, first-ever-seen
  // (new) users, and users also active the previous week (retained) —
  // the WAU decomposition every product dashboard opens with. Weeks
  // are pure epoch-ns integer division; first-seen is one min()
  // aggregation; retention is a self-join of the distinct
  // (user, week) set against itself shifted one week — all exact,
  // shuffles keyed by user then week.
  def growthAccountingQ(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
    val prev = uw.select(col("user_id"), (col("wk") + 1).as("wk"),
      lit(1).as("was_prev"))
    uw.join(first, Seq("user_id"))
      .join(prev, Seq("user_id", "wk"), "left")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("active_users"),
        count(when(col("first_wk") === col("wk"), 1)).as("new_users"),
        count(col("was_prev")).as("retained_users"))
  }
  val growthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS first_wk FROM uw GROUP BY 1),
      |p AS (SELECT user_id, wk + 1 AS wk, 1 AS was_prev FROM uw)
      |SELECT uw.wk, count(*) AS active_users,
      |  count(CASE WHEN f.first_wk = uw.wk THEN 1 END) AS new_users,
      |  count(p.was_prev) AS retained_users
      |FROM uw
      |JOIN f USING (user_id)
      |LEFT JOIN p ON p.user_id = uw.user_id AND p.wk = uw.wk
      |GROUP BY uw.wk""".stripMargin

  // Nation trade matrix (TPC-H Q7 flavor): revenue flowing from each
  // customer nation to each supplier nation. Four-way join — the
  // orders⋈lineitem shuffle is the heavy exchange, supplier rides in
  // broadcast, customer joins by key (a real dimension at 100 TB, so
  // no forced broadcast — Catalyst/AQE picks) — then one rollup on
  // the nation pair. Revenue in exact cents.
  def tradeMatrixQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("rev_c"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long")
        .as("cust_nation"))
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long")
        .as("supp_nation"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev_c")).as("revenue_c"))
  }
  val tradeMatrixSql: String =
    """SELECT CAST(c.c_nationkey AS BIGINT) AS cust_nation,
      |  CAST(s.s_nationkey AS BIGINT) AS supp_nation,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
      |    AS BIGINT) AS revenue_c
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY 1, 2""".stripMargin

  /** Each supplier's revenue in exact cents (`rev_c`) beside its
    * `nation`: one lineitem aggregation and a broadcast supplier join. */
  private def supplierRevenue(spark: SparkSession,
                              dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
        .as("rev_c"))
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long")
        .as("nation"))
    rev.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
  }

  // Herfindahl–Hirschman concentration of supplier revenue per nation
  // — the market-concentration dual of x_lang_diversity's Simpson
  // index: hhi_bp = Σᵢ revᵢ²·10⁴ div total² over each nation's
  // suppliers (10000 = monopoly, 10000/n = perfectly even). Revenue
  // rides the cents lane and the squared sums a decimal(38,0) /
  // HUGEINT lane, so the index is an exact integer rational in both
  // engines. Two hash aggregations (supplier, then nation) and one
  // broadcastable supplier-dimension join.
  def hhiQ(spark: SparkSession, dir: String): DataFrame =
    supplierRevenue(spark, dir)
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev_c")).as("total_c"),
        sum(expr("cast(rev_c as decimal(38,0)) * rev_c")).as("ss"))
      .select(col("nation"), col("n_suppliers"), col("total_c"),
        expr("cast(ss * 10000 div" +
          " (cast(total_c as decimal(38,0)) * total_c) as bigint)")
          .as("hhi_bp"))
  val hhiSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1),
      |n AS (
      |  SELECT r.rev_c, CAST(s.s_nationkey AS BIGINT) AS nation
      |  FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey)
      |SELECT nation, count(*) AS n_suppliers,
      |  CAST(sum(rev_c) AS BIGINT) AS total_c,
      |  CAST(sum(CAST(rev_c AS HUGEINT) * rev_c) * 10000
      |    // (CAST(sum(rev_c) AS HUGEINT) * sum(rev_c)) AS BIGINT)
      |    AS hhi_bp
      |FROM n GROUP BY nation""".stripMargin

  // Approximate-median sketch, value-checked like q_approx_distinct:
  // the sketch VALUE differs by engine (Spark GK summaries vs DuckDB
  // t-digest), but its RANK ERROR is exactly computable — the fraction
  // of rows at or below each engine's own approximate median must sit
  // within 2% of 0.5. The probe is a broadcast join of the tiny
  // per-group sketch row back against the fact table.
  def approxQuantileQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ap = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
        .as("apx"),
        count(lit(1)).as("n"))
    li.join(broadcast(ap), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L))
          .as("at_or_below"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("at_or_below").cast("double") / col("n").cast("double")
          - 0.5) <= 0.02).cast("bigint").as("median_rank_ok"))
  }
  val approxQuantileSql: String =
    """WITH ap AS (
      |  SELECT l_returnflag,
      |         approx_quantile(l_extendedprice, 0.5) AS apx,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT li.l_returnflag, max(ap.n) AS n,
      |  CAST(abs(CAST(sum(CASE WHEN li.l_extendedprice <= ap.apx
      |                         THEN 1 ELSE 0 END) AS DOUBLE)
      |           / CAST(max(ap.n) AS DOUBLE) - 0.5) <= 0.02
      |       AS BIGINT) AS median_rank_ok
      |FROM lineitem li JOIN ap USING (l_returnflag)
      |GROUP BY li.l_returnflag""".stripMargin

  // --------------------------------------------- outlier treatment
  // Outliers.winsorize / iqrOutliers gated end to end over events.value
  // per event_type. Thresholds are DISCRETE quantiles over the
  // cents-quantized lane (percentile_disc semantics via cume_dist), so
  // both engines derive bit-identical caps; the report aggregates the
  // capped lane and the outlier counts — integer-exact everywhere.
  def winsorizeQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Outliers.winsorize(
        Tables.load(spark, dir, "events"), "event_type", "value")
      .groupBy(col("event_type"))
      .agg(min(col("q_lo")).as("q_lo"), min(col("q_hi")).as("q_hi"),
        count(lit(1)).as("n"),
        sum(col("v_capped")).as("sum_capped"),
        sum(when(col("v_scaled") =!= col("v_capped"), 1L).otherwise(0L))
          .as("n_capped"))
  val winsorizeSql: String =
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
      |cd AS (
      |  SELECT event_type, vc,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY vc) AS cd
      |  FROM v),
      |th AS (
      |  SELECT event_type,
      |    min(CASE WHEN cd >= 0.05 THEN vc END) AS q_lo,
      |    min(CASE WHEN cd >= 0.95 THEN vc END) AS q_hi
      |  FROM cd GROUP BY 1),
      |capped AS (
      |  SELECT v.event_type, v.vc, th.q_lo, th.q_hi,
      |    least(greatest(v.vc, th.q_lo), th.q_hi) AS vcap
      |  FROM v JOIN th USING (event_type))
      |SELECT event_type, min(q_lo) AS q_lo, min(q_hi) AS q_hi,
      |  count(*) AS n, CAST(sum(vcap) AS BIGINT) AS sum_capped,
      |  CAST(sum(CASE WHEN vc <> vcap THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_capped
      |FROM capped GROUP BY 1""".stripMargin

  def iqrOutliersQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Outliers.iqrOutliers(
        Tables.load(spark, dir, "events"), "event_type", "value")
      .groupBy(col("event_type"))
      .agg(min(col("q1")).as("q1"), min(col("q3")).as("q3"),
        count(lit(1)).as("n"),
        sum(col("is_outlier").cast("long")).as("n_outliers"))
  val iqrOutliersSql: String =
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
      |cd AS (
      |  SELECT event_type, vc,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY vc) AS cd
      |  FROM v),
      |th AS (
      |  SELECT event_type,
      |    min(CASE WHEN cd >= 0.25 THEN vc END) AS q1,
      |    min(CASE WHEN cd >= 0.75 THEN vc END) AS q3
      |  FROM cd GROUP BY 1)
      |SELECT v.event_type, min(th.q1) AS q1, min(th.q3) AS q3,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN v.vc * 4 < th.q1 * 4 - (th.q3 - th.q1) * 6
      |             OR v.vc * 4 > th.q3 * 4 + (th.q3 - th.q1) * 6
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM v JOIN th USING (event_type)
      |GROUP BY 1""".stripMargin

  // Customer order-count distribution (TPC-H Q13 shape): how many
  // customers placed exactly N orders, N=0 included — the left-outer
  // join keeps order-less customers. Both aggregations hash; the first
  // is keyed on the join key, so at 100 TB the join's shuffle
  // partitioning is reused by the per-customer count (one heavy
  // exchange total, then the tiny distribution rollup).
  def orderDistQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer").select(col("c_custkey"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }
  val orderDistSql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY 1) t
      |GROUP BY 1""".stripMargin

  // Promotion revenue share per ship-year (TPC-H Q14 shape). Revenue
  // rides the discounted-cents lane (floor once per row, identical
  // IEEE expression both engines); the share is an exact integer in
  // basis points. `part` is the only dimension — broadcast — so the
  // plan is one scan + one map-side-combining aggregation.
  def promoShareQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_partkey"), year(col("l_shipdate")).cast("long").as("yr"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100).cast("long").as("rev_c"))
    val p = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("yr"))
      .agg(sum(when(col("is_promo"), col("rev_c")).otherwise(lit(0L)))
        .as("promo_rev_c"),
        sum(col("rev_c")).as("total_rev_c"))
      .select(col("yr"), col("promo_rev_c"), col("total_rev_c"),
        expr("promo_rev_c * 10000 div total_rev_c").as("share_bp"))
  }
  val promoShareSql: String =
    """WITH r AS (
      |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
      |    CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS pr,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
      |      AS BIGINT) AS rev_c
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
      |SELECT yr,
      |  CAST(sum(CASE WHEN pr = 1 THEN rev_c ELSE 0 END) AS BIGINT)
      |    AS promo_rev_c,
      |  CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
      |  CAST(sum(CASE WHEN pr = 1 THEN rev_c ELSE 0 END) * 10000
      |    // sum(rev_c) AS BIGINT) AS share_bp
      |FROM r GROUP BY 1""".stripMargin

  // Top supplier by first-half-1996 revenue (TPC-H Q15 shape): the
  // per-supplier revenue view, then the suppliers whose revenue equals
  // the view's max — ties kept, exactly as the spec demands. The max
  // is a one-row stat (the documented broadcast-crossJoin scalar
  // pattern); revenue is exact cents so the equality is safe.
  def topSupplierQ(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
        col("l_shipdate").cast("date") < lit("1996-07-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice")
        * (lit(1.0) - col("l_discount")) * 100).cast("long"))
        .as("total_rev_c"))
    val top = rev.agg(max(col("total_rev_c")).as("best_c"))
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    rev.crossJoin(broadcast(top))
      .where(col("total_rev_c") === col("best_c"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
  }
  val topSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
      |      * 100) AS BIGINT)) AS BIGINT) AS total_rev_c
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, r.total_rev_c
      |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.total_rev_c = (SELECT max(total_rev_c) FROM rev)""".stripMargin

  // Small-quantity order revenue (TPC-H Q17 shape): for three brands,
  // the revenue of lineitems whose quantity is below 20% of that
  // part's average quantity. The per-part average joins back on the
  // aggregation's own key (co-partitioned, no extra exchange at
  // scale); quantities are integer-valued doubles so the average —
  // exact-sum / count — is order-independent and the 0.2· threshold
  // comparison is deterministic in both engines.
  def smallQtyQ(spark: SparkSession, dir: String): DataFrame = {
    val brands = Seq("Brand#4", "Brand#2", "Brand#19")
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_partkey"), col("l_quantity"),
      floor(col("l_extendedprice") * 100).cast("long").as("rev_c"))
    val pa = li.groupBy(col("l_partkey")).agg(avg(col("l_quantity")).as("aq"))
      .withColumnRenamed("l_partkey", "pa_key")
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_brand").isin(brands: _*))
      .select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(pa, col("l_partkey") === col("pa_key"))
      .where(col("l_quantity") < lit(0.2) * col("aq"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"), sum(col("rev_c")).as("rev_c"))
  }
  val smallQtySql: String =
    """WITH pa AS (
      |  SELECT l_partkey, avg(l_quantity) AS aq
      |  FROM lineitem GROUP BY 1)
      |SELECT p.p_brand, count(*) AS n_small,
      |  CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
      |    AS BIGINT) AS rev_c
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |  AND p.p_brand IN ('Brand#4', 'Brand#2', 'Brand#19')
      |JOIN pa ON pa.l_partkey = l.l_partkey
      |WHERE l.l_quantity < 0.2 * pa.aq
      |GROUP BY 1""".stripMargin

  // Large-volume orders (TPC-H Q18 shape): orders whose total quantity
  // exceeds 150 units, with their customer. The HAVING prunes before
  // any dimension join touches the survivors; total quantity is an
  // exact integer-valued double sum, cast to BIGINT on both sides.
  def bigOrdersQ(spark: SparkSession, dir: String): DataFrame = {
    val tq = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .where(col("total_qty") > 150)
    val ord = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      floor(col("o_totalprice") * 100).cast("long").as("price_c"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    tq.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("total_qty"),
        col("price_c"))
  }
  val bigOrdersSql: String =
    """WITH tq AS (
      |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING CAST(sum(l_quantity) AS BIGINT) > 150)
      |SELECT c.c_name, o.o_orderkey, tq.total_qty,
      |  CAST(floor(o.o_totalprice * 100) AS BIGINT) AS price_c
      |FROM tq
      |JOIN orders o ON o.o_orderkey = tq.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey""".stripMargin

  // Disjunctive brand/size/quantity revenue (TPC-H Q19 shape): an
  // OR-of-ANDs predicate across dimension and fact columns. The brand
  // membership and size bands push into the broadcast `part` scan;
  // only the residual quantity conjunct evaluates post-join. Grouped
  // by brand so each arm of the disjunction is a visible row.
  def brandRevenueQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(
      col("l_partkey"), col("l_quantity"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100).cast("long").as("rev_c"))
    val p = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val arm1 = col("p_brand") === "Brand#4" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val arm2 = col("p_brand") === "Brand#2" &&
      col("p_size").between(16, 30) && col("l_quantity").between(10, 30)
    val arm3 = col("p_brand") === "Brand#19" &&
      col("p_size").between(31, 50) && col("l_quantity").between(20, 50)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(arm1 || arm2 || arm3)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_c")).as("rev_c"))
  }
  val brandRevenueSql: String =
    """SELECT p.p_brand, count(*) AS n_items,
      |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
      |    * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 1 AND 20)
      |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 16 AND 30
      |       AND l.l_quantity BETWEEN 10 AND 30)
      |   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 31 AND 50
      |       AND l.l_quantity BETWEEN 20 AND 50)
      |GROUP BY 1""".stripMargin

  // Suppliers solely to blame on finished orders (TPC-H Q21 shape,
  // return-flag adaptation — the testdata has no commit/receipt
  // dates): a supplier's returned ('R') lineitem on a finished order
  // counts against them only if ANOTHER supplier shipped on the same
  // order (left-semi self-join) and NO other supplier's line was
  // returned (left-anti self-join). The two correlated-EXISTS plans
  // are hash joins on the order key; `supplier` rides in broadcast.
  def blameSupplierQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val ordF = Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val others = li.select(col("l_orderkey").as("ok2"),
      col("l_suppkey").as("sk2"), col("l_returnflag").as("rf2"))
    val hasOther = l1.join(others,
      col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
      "left_semi")
    val soleBlame = hasOther.join(
      others.filter(col("rf2") === "R").select(col("ok2"), col("sk2")),
      col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
      "left_anti")
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    soleBlame.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }
  val blameSupplierSql: String =
    """SELECT s.s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderstatus = 'F'
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY 1""".stripMargin

  // Idle capital by nation (TPC-H Q22 shape): customers with
  // above-average positive balance and no order in the trailing
  // window (>= 2000-01-01 — every synthetic customer has SOME order,
  // so "never ordered" is the empty set; "gone quiet" is the live
  // variant a warehouse would run). The average threshold is computed
  // in the integer-cents lane with integral division — exact in both
  // engines, so the boundary can't flip on floating summation order.
  // The date filter pushes into the orders scan BEFORE the anti-join,
  // then a per-nation rollup.
  def idleCapitalQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer").select(
      col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
      floor(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val thr = cust.where(col("bal_c") > 0)
      .agg(expr("sum(bal_c) div count(1)").as("thr_c"))
    val recent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate").cast("date") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(thr))
      .where(col("bal_c") > col("thr_c"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_custs"), sum(col("bal_c")).as("total_bal_c"))
  }
  val idleCapitalSql: String =
    """WITH c AS (
      |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer),
      |t AS (SELECT CAST(sum(bal_c) // count(*) AS BIGINT) AS thr_c
      |      FROM c WHERE bal_c > 0)
      |SELECT c.nation, count(*) AS n_custs,
      |  CAST(sum(c.bal_c) AS BIGINT) AS total_bal_c
      |FROM c, t
      |WHERE c.bal_c > t.thr_c
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND CAST(o.o_orderdate AS DATE)
      |                      >= DATE '2000-01-01')
      |GROUP BY 1""".stripMargin

  // Touch attribution (batch twin of the stream-stream attribution
  // join): every purchase carries its user's FIRST and LAST preceding
  // marketing touch (view/click), from ONE pass over the per-user
  // event stream — a running conditional min/max window, never a
  // purchases×touches join (which explodes on heavy users at scale).
  // Total window order (tsu, event_id) makes ties deterministic.
  def attributionQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("ts div 1000").as("tsu"),
      floor(col("value") * 100).cast("long").as("value_c"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col("event_type").isin("view", "click"), col("tsu"))
    ev.withColumn("first_touch_us", min(touch).over(w))
      .withColumn("last_touch_us", max(touch).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("tsu").as("purchase_us"), col("first_touch_us"),
        col("last_touch_us"), col("value_c"))
  }
  val attributionSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000 AS tsu,
      |    CAST(floor(value * 100) AS BIGINT) AS value_c
      |  FROM events)
      |SELECT event_id, user_id, tsu AS purchase_us,
      |  first_touch_us, last_touch_us, value_c
      |FROM (
      |  SELECT *,
      |    min(CASE WHEN event_type IN ('view', 'click') THEN tsu END)
      |      OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS first_touch_us,
      |    max(CASE WHEN event_type IN ('view', 'click') THEN tsu END)
      |      OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_touch_us
      |  FROM e)
      |WHERE event_type = 'purchase'""".stripMargin

  // Behavioral transition matrix: event_type → next event_type per
  // user with exact mean gap (integer µs, integral division). One lag
  // window over the user-partitioned stream, one rollup — the Markov
  // summary a product-analytics warehouse serves.
  def transitionsQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("ts div 1000").as("tsu"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_tsu", lead(col("tsu"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"),
        expr("sum(next_tsu - tsu) div count(1)").as("mean_gap_us"))
  }
  val transitionsSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000 AS tsu
      |  FROM events),
      |t AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) AS next_type,
      |    lead(tsu) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) - tsu AS gap
      |  FROM e)
      |SELECT event_type, next_type, count(*) AS n_transitions,
      |  CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_us
      |FROM t WHERE next_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  // RFM segmentation: recency (days since last order at the dataset
  // horizon), frequency (order count), monetary (exact lifetime
  // cents), each quintiled by ntile over a TOTAL order (metric +
  // custkey tie-break, so the quintile boundaries are deterministic in
  // both engines). The classic CRM rollup — three windows over one
  // per-customer aggregate. The global ntile sorts |customers| rows on
  // one partition; at 100 TB swap it for precomputed equi-depth
  // boundaries (the q_equidepth device) broadcast onto the aggregate.
  def rfmQ(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit("2001-08-02").cast("date"),
          max(col("o_orderdate").cast("date"))).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("monetary_c"))
    val rw = Window.orderBy(col("recency_days"), col("o_custkey"))
    val fw = Window.orderBy(col("frequency").desc, col("o_custkey"))
    val mw = Window.orderBy(col("monetary_c").desc, col("o_custkey"))
    per.withColumn("r_q", ntile(5).over(rw).cast("long"))
      .withColumn("f_q", ntile(5).over(fw).cast("long"))
      .withColumn("m_q", ntile(5).over(mw).cast("long"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_c"), col("r_q"), col("f_q"), col("m_q"),
        concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
  }
  val rfmSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
      |      DATE '2001-08-02') AS BIGINT) AS recency_days,
      |    count(*) AS frequency,
      |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS monetary_c
      |  FROM orders GROUP BY 1),
      |q AS (
      |  SELECT *,
      |    CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey)
      |      AS BIGINT) AS r_q,
      |    CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
      |      AS BIGINT) AS f_q,
      |    CAST(ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey)
      |      AS BIGINT) AS m_q
      |  FROM per)
      |SELECT o_custkey, recency_days, frequency, monetary_c,
      |  r_q, f_q, m_q,
      |  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
      |    CAST(m_q AS VARCHAR) AS segment
      |FROM q""".stripMargin

  // Benford first-digit audit — the fraud/corruption smoke test a
  // finance warehouse runs over every monetary column: observed
  // first-significant-digit shares vs the Benford expectation
  // (log10(1+1/d), fixed rounded-bp literals on BOTH sides so the
  // comparison is pure integers). One scan, one 9-row aggregate.
  def benfordQ(spark: SparkSession, dir: String): DataFrame = {
    val expCase =
      """CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
        | WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669
        | WHEN 7 THEN 580 WHEN 8 THEN 512 ELSE 458 END""".stripMargin
    val d = Tables.load(spark, dir, "orders").select(
      substring(floor(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
    val tot = d.agg(count(lit(1)).as("total"))
    d.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 10000 div total").as("obs_bp"),
        expr(expCase).cast("long").as("exp_bp"),
        abs(expr("n * 10000 div total") - expr(expCase)).cast("long")
          .as("dev_bp"))
  }
  val benfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      |t AS (SELECT count(*) AS total FROM d)
      |SELECT digit, n, n * 10000 // total AS obs_bp,
      |  CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761
      |    WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 792
      |    WHEN 6 THEN 669 WHEN 7 THEN 580 WHEN 8 THEN 512
      |    ELSE 458 END AS BIGINT) AS exp_bp,
      |  abs(n * 10000 // total - CASE digit WHEN 1 THEN 3010
      |    WHEN 2 THEN 1761 WHEN 3 THEN 1249 WHEN 4 THEN 969
      |    WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580
      |    WHEN 8 THEN 512 ELSE 458 END) AS dev_bp
      |FROM g, t""".stripMargin

  // Revenue-concentration curve (the 80/20 readout of q_hhi): per
  // nation, how many of its suppliers — and what share of them —
  // cover 80% of revenue. Ranked cumulative sums in the exact cents
  // lane with total window orderings; the 80% boundary compares
  // cum·5 ≥ total·4, never a float share.
  def paretoRevenueQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("rev_c").desc, col("l_suppkey"))
    val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("nation"))
    supplierRevenue(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_c", sum(col("rev_c")).over(wcum))
      .withColumn("total_c", sum(col("rev_c")).over(wall))
      .withColumn("n_suppliers", count(lit(1)).over(wall))
      .where(col("cum_c") * 5 >= col("total_c") * 4)
      .groupBy(col("nation"))
      .agg(max(col("n_suppliers")).as("n_suppliers"),
        max(col("total_c")).as("total_c"),
        min(col("rn")).as("top80_n"))
      .withColumn("top80_bp", expr("top80_n * 10000 div n_suppliers"))
  }
  val paretoRevenueSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1),
      |n AS (
      |  SELECT r.l_suppkey, r.rev_c,
      |    CAST(s.s_nationkey AS BIGINT) AS nation
      |  FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey),
      |rk AS (
      |  SELECT nation, rev_c,
      |    CAST(row_number() OVER (PARTITION BY nation
      |      ORDER BY rev_c DESC, l_suppkey) AS BIGINT) AS rn,
      |    sum(rev_c) OVER (PARTITION BY nation
      |      ORDER BY rev_c DESC, l_suppkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
      |    sum(rev_c) OVER (PARTITION BY nation) AS total_c,
      |    count(*) OVER (PARTITION BY nation) AS n_suppliers
      |  FROM n)
      |SELECT nation,
      |  CAST(max(n_suppliers) AS BIGINT) AS n_suppliers,
      |  CAST(max(total_c) AS BIGINT) AS total_c,
      |  min(rn) AS top80_n,
      |  min(rn) * 10000 // CAST(max(n_suppliers) AS BIGINT)
      |    AS top80_bp
      |FROM rk WHERE cum_c * 5 >= total_c * 4
      |GROUP BY 1""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_benford", benfordQ, benfordSql),
    Query("q_pareto_revenue", paretoRevenueQ, paretoRevenueSql),
    Query("q_attribution", attributionQ, attributionSql),
    Query("q_transitions", transitionsQ, transitionsSql),
    Query("q_rfm", rfmQ, rfmSql),
    Query("q_order_dist", orderDistQ, orderDistSql),
    Query("q_promo_share", promoShareQ, promoShareSql),
    Query("q_top_supplier", topSupplierQ, topSupplierSql),
    Query("q_small_qty", smallQtyQ, smallQtySql),
    Query("q_big_orders", bigOrdersQ, bigOrdersSql),
    Query("q_brand_revenue", brandRevenueQ, brandRevenueSql),
    Query("q_blame_supplier", blameSupplierQ, blameSupplierSql),
    Query("q_idle_capital", idleCapitalQ, idleCapitalSql),
    Query("q_winsorize", winsorizeQ, winsorizeSql),
    Query("q_iqr_outliers", iqrOutliersQ, iqrOutliersSql),
    Query("q_approx_quantile", approxQuantileQ, approxQuantileSql),
    Query("q_histogram", histogramQ, histogramSql),
    Query("q_equidepth", equidepthQ, equidepthSql),
    Query("q_copurchase", copurchaseQ, copurchaseSql),
    Query("q_basket_lift", basketLiftQ, basketLiftSql),
    Query("q_skyline", skylineQ, skylineSql),
    Query("q_concurrency", concurrencyQ, concurrencySql),
    Query("q_weighted_median", weightedMedianQ, weightedMedianSql),
    Query("q_mad", madQ, madSql),
    Query("q_trimmed_mean", trimmedMeanQ, trimmedMeanSql),
    Query("q_mode", modeQ, modeSql),
    Query("q_mad_outliers", madOutliersQ, madOutliersSql),
    Query("q_hhi", hhiQ, hhiSql),
    Query("q_trade_matrix", tradeMatrixQ, tradeMatrixSql),
    Query("q_growth_accounting", growthAccountingQ, growthAccountingSql),
    Query("q_discount_effect", discountEffectQ, discountEffectSql),
    Query("q_fulfillment", fulfillmentQ, fulfillmentSql),
    Query("q_corr_exact", corrExactQ, corrExactSql),
    Query("q1_pricing_summary", pricingSummaryQ, pricingSummarySql),
    Query("q3_top_revenue", topRevenueQ, topRevenueSql),
    Query("q_window_topk", windowTopKQ, windowTopKSql),
    Query("q_event_stats", eventStatsQ, eventStatsSql),
    Query("q_ohlc", ohlcQ, ohlcSql),
    Query("q_hll_merge", hllMergeQ, hllMergeSql),
    Query("q_unpivot", unpivotQ, unpivotSql),
    Query("q_join_profile", joinProfileQ, joinProfileSql),
    Query("q_ewma", ewmaQ, ewmaSql),
    Query("q_gapfill", gapFillQ, gapFillSql),
    Query("q_set_ops", setOpsQ, setOpsSql),
    Query("q_exists", existsQ, existsSql),
    Query("q_correlated_scalar", correlatedScalarQ, correlatedScalarSql),
    Query("q_lag_delta", lagDeltaQ, lagDeltaSql),
    Query("q_range_frame", rangeFrameQ, rangeFrameSql),
    Query("q_window_suite", windowSuiteQ, windowSuiteSql),
    Query("q_decimal_sum", decimalSumQ, decimalSumSql),
    Query("q_complex_agg", complexAggQ, complexAggSql),
    Query("q_funnel", funnelQ, funnelSql),
    Query("q_cohort", cohortQ, cohortSql),
    Query("q_key_histogram", keyHistogramQ, keyHistogramSql),
    Query("q_region_revenue", regionRevenueQ, regionRevenueSql),
    Query("q_rollup_revenue", rollupRevenueQ, rollupRevenueSql),
    Query("q_anti_join", antiJoinQ, antiJoinSql),
    Query("q_salted_agg", saltedAggQ, saltedAggSql),
    Query("q_percentiles", percentilesQ, percentilesSql),
    Query("q_semi_join", semiJoinQ, semiJoinSql),
    Query("q_cube_status", cubeStatusQ, cubeStatusSql),
    Query("q_range_join", rangeJoinQ, rangeJoinSql),
    Query("q_json_extract", jsonExtractQ, jsonExtractSql),
    Query("q_pivot", pivotQ, pivotSql),
    Query("q_grouping_sets", groupingSetsQ, groupingSetsSql),
    Query("q_salted_join", saltedJoinQ, saltedJoinSql),
    // the sketch VALUE can't cross engines; the bounded-error flag can
    Query("q_approx_distinct", approxDistinctQ, approxDistinctSql))
}
