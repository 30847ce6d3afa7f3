package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.ops.EtlOps

/** Parity queries: one per reference operator family (SURVEY.md §2),
  * exercised against the driver testdata, each with a DuckDB oracle.
  *
  * Determinism rules used throughout (driver hash-compares values after
  * sorting columns by name):
  *  - never emit a raw TIMESTAMP column — emit BIGINT epoch micros
  *    (`ts div 1000` on the nanos-as-long events table == DuckDB
  *    `epoch_us`) or a formatted string;
  *  - every window ordering is total (explicit tie-breaker columns);
  *  - computed doubles that involve re-associated arithmetic (sums) are
  *    rounded; pass-through doubles are emitted raw (bit-identical);
  *  - INTEGER columns are cast to BIGINT on both sides.
  */
object Parity {

  private val T0 = EtlOps.FixedClock       // audit clock for DWD snapshots
  private val T1 = EtlOps.FixedClockLater  // audit clock for the merge run
  /** 2024-01-16 00:00:00 UTC in epoch nanos — events ODS/DWD split point. */
  private val CutoffNs = 1705363200000000000L

  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  // ---------------------------------------------------------------- G1/P6
  // Latest-partition selection (reference SimpleDataCleanUtils.scala:19-20).
  def latestPartitionQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("etl_date", date_format(col("l_shipdate"), "yyyyMMdd"))
    EtlOps.latestPartition(li, "etl_date")
      .groupBy(col("etl_date").as("latest_etl_date"))
      .agg(count(lit(1)).as("n_rows"))
  }
  val latestPartitionSql: String =
    """SELECT strftime(l_shipdate, '%Y%m%d') AS latest_etl_date,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE strftime(l_shipdate, '%Y%m%d') =
      |      (SELECT max(strftime(l_shipdate, '%Y%m%d')) FROM lineitem)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------- G1/P6 (partitioned)
  // Latest-partition selection over a PHYSICALLY partitioned table —
  // the reference's real layout (metastore partition values). The table
  // is written partitionBy("etl_date") once per (session, sf-dir); the
  // operator's max comes from partition metadata (zero data columns)
  // and the read statically prunes to the one latest directory
  // (PlanSpec asserts both properties).
  private def monthPartitionedLineitem(spark: SparkSession,
                                       dir: String): String =
    Fixtures.cached("part", dir) { root =>
      val path = new java.io.File(root, "lineitem_by_month").toString
      Tables.load(spark, dir, "lineitem")
        .withColumn("etl_date", date_format(col("l_shipdate"), "yyyyMM"))
        .write.partitionBy("etl_date").parquet(path)
      path
    }

  def latestPartitionPrunedQ(spark: SparkSession, dir: String): DataFrame = {
    val t = spark.read.parquet(monthPartitionedLineitem(spark, dir))
    EtlOps.latestPartitionPruned(t, "etl_date")
      .groupBy(col("etl_date").cast("string").as("latest_etl_date"))
      .agg(count(lit(1)).as("n_rows"))
  }
  val latestPartitionPrunedSql: String =
    """SELECT strftime(l_shipdate, '%Y%m') AS latest_etl_date,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE strftime(l_shipdate, '%Y%m') =
      |      (SELECT max(strftime(l_shipdate, '%Y%m')) FROM lineitem)
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ Pattern A
  // Audit-append (reference SimpleDataCleanUtils.scala:8-34).
  def auditAppendQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("etl_date", date_format(col("l_shipdate"), "yyyyMMdd"))
    val latest = EtlOps.latestPartition(li, "etl_date")
    EtlOps.withAudit(latest, "dwd", "user1", T0).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"), col("l_linestatus"), col("etl_date"),
      col("dwd_insert_user"), fmt(col("dwd_insert_time")).as("dwd_insert_time"),
      col("dwd_modify_user"), fmt(col("dwd_modify_time")).as("dwd_modify_time"))
  }
  val auditAppendSql: String =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |       l_quantity, l_extendedprice, l_returnflag, l_linestatus,
       |       strftime(l_shipdate, '%Y%m%d') AS etl_date,
       |       'user1' AS dwd_insert_user, '$T0' AS dwd_insert_time,
       |       'user1' AS dwd_modify_user, '$T0' AS dwd_modify_time
       |FROM lineitem
       |WHERE strftime(l_shipdate, '%Y%m%d') =
       |      (SELECT max(strftime(l_shipdate, '%Y%m%d')) FROM lineitem)""".stripMargin

  // ------------------------------------------------------------- W1 + P8
  // Top-1-per-key dedup (reference CustomerInfDataClean.scala:41-45).
  def dedupLatestQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    EtlOps.dedupLatest(ev, Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        col("event_type"), col("value"), col("props"))
  }
  val dedupLatestSql: String =
    """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |       event_type, value, props
      |FROM events
      |QUALIFY row_number() OVER
      |  (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) = 1""".stripMargin

  // ------------------------------------------------------------ Pattern B
  // SCD-style latest-record merge (reference CustomerInfDataClean.scala:22-88):
  // DWD snapshot = deduped events before the cutoff (with T0 audit);
  // ODS snapshot = raw events on/after the cutoff (no audit columns —
  // exercises the allowMissingColumns union, defect A-3 fix).
  def scdMergeQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val dwdSnap = EtlOps.withAudit(
      EtlOps.dedupLatest(ev.filter(col("ts") < CutoffNs), Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc)),
      "dwd", "user1", T0)
    val odsSnap = ev.filter(col("ts") >= CutoffNs)
    EtlOps.scdMerge(odsSnap, dwdSnap, Seq("user_id"), "ts",
      Seq(col("event_id").desc), "user1", T1)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        col("event_type"), col("value"), col("data_source"),
        fmt(col("dwd_insert_time")).as("dwd_insert_time"),
        fmt(col("dwd_modify_time")).as("dwd_modify_time"))
  }
  val scdMergeSql: String =
    s"""WITH dwd AS (
       |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type, value,
       |         'dwd' AS data_source,
       |         '$T0' AS dwd_insert_time, '$T0' AS dwd_modify_time
       |  FROM events WHERE epoch_ns(ts) < $CutoffNs
       |  QUALIFY row_number() OVER
       |    (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) = 1
       |), ods AS (
       |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type, value,
       |         'ods' AS data_source,
       |         '$T1' AS dwd_insert_time, '$T1' AS dwd_modify_time
       |  FROM events WHERE epoch_ns(ts) >= $CutoffNs
       |), unioned AS (
       |  SELECT * FROM ods UNION ALL SELECT * FROM dwd
       |)
       |SELECT user_id, event_id, ts_ns // 1000 AS ts_us, event_type, value,
       |       data_source, dwd_insert_time, dwd_modify_time
       |FROM unioned
       |QUALIFY row_number() OVER
       |  (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) = 1""".stripMargin

  // ------------------------------------------------------------ Pattern C
  // Bi-store full-outer coalesce merge (reference
  // OrderMasterDataClean.scala:157-187). "Hive" snapshot = orders before
  // 2000-01-01; "HBase" snapshot = orders from 1998-01-01 with marker
  // values, so left-precedence is observable in the overlap window.
  def coalesceMergeQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .withColumn("o_date", col("o_orderdate").cast("date"))
    val leftSnap = o.filter(col("o_date") < lit("2000-01-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_date"), col("o_orderpriority"))
    val rightSnap = o.filter(col("o_date") >= lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + 100000.0d).as("o_totalprice"),
        col("o_date"), lit("HBASE").as("o_orderpriority"))
    EtlOps.coalesceMerge(leftSnap, rightSnap, "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_date"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
  }
  val coalesceMergeSql: String =
    """WITH l AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2000-01-01'
      |), r AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         o_totalprice + 100000.0 AS o_totalprice,
      |         o_orderdate, 'HBASE' AS o_orderpriority
      |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
      |)
      |SELECT coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
      |       coalesce(l.o_custkey, r.o_custkey) AS o_custkey,
      |       coalesce(l.o_orderstatus, r.o_orderstatus) AS o_orderstatus,
      |       coalesce(l.o_totalprice, r.o_totalprice) AS o_totalprice,
      |       strftime(coalesce(l.o_orderdate, r.o_orderdate), '%Y-%m-%d') AS o_orderdate,
      |       coalesce(l.o_orderpriority, r.o_orderpriority) AS o_orderpriority
      |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin

  // ------------------------------------------------------------- S3 / P9
  // Keyed-snapshot scan with rowkey regex (reference
  // OrderMasterDataClean.scala:76-95): row keys embed the date.
  def keyedSnapshotScanQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders").withColumn("row_key",
      concat_ws("_", col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd")))
    EtlOps.keyedSnapshotScan(o, "row_key", ".*19960[12].*")
      .select(col("row_key"), col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
  }
  val keyedSnapshotScanSql: String =
    """WITH keyed AS (
      |  SELECT concat(o_orderkey, '_', strftime(o_orderdate, '%Y%m%d')) AS row_key, *
      |  FROM orders
      |)
      |SELECT row_key, o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM keyed WHERE regexp_matches(row_key, '.*19960[12].*')""".stripMargin

  // ------------------------------------------------------------ Pattern D
  // Star denormalization (reference CustomerAddrLevelAggrDataClean.scala:22-44):
  // customer ⟕ nation ⟕ region, dims broadcast, then DWS audit columns.
  def denormalizeQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
      .withColumnRenamed("n_nationkey", "c_nationkey")
    val reg = Tables.load(spark, dir, "region")
      .withColumnRenamed("r_regionkey", "n_regionkey")
    val denorm = EtlOps.denormalize(cust, Seq(
      (nat, Seq("c_nationkey"), Seq("n_name", "n_regionkey")),
      (reg, Seq("n_regionkey"), Seq("r_name"))))
    EtlOps.withAudit(denorm, "dws", "user1", T0)
      .withColumn("etl_date", lit("20240101"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_name"), col("r_name"),
        col("dws_insert_user"), fmt(col("dws_insert_time")).as("dws_insert_time"),
        col("dws_modify_user"), fmt(col("dws_modify_time")).as("dws_modify_time"),
        col("etl_date"))
  }
  val denormalizeSql: String =
    s"""SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name, r.r_name,
       |       'user1' AS dws_insert_user, '$T0' AS dws_insert_time,
       |       'user1' AS dws_modify_user, '$T0' AS dws_modify_time,
       |       '20240101' AS etl_date
       |FROM customer c
       |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
       |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  // ----------------------------------------------------------------- U1
  // unionByName with missing-column fill (reference
  // CustomerInfDataClean.scala:37 + defect A-3).
  def unionByNameQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("props"), col("value"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"))
    clicks.unionByName(purchases, allowMissingColumns = true)
  }
  val unionByNameSql: String =
    """SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value
      |FROM events WHERE event_type = 'click'
      |UNION ALL BY NAME
      |SELECT props, value, user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
      |FROM events WHERE event_type = 'purchase'""".stripMargin

  // ---------------------------------------------- Pattern C end-to-end
  // The reference's most complex job (OrderMasterDataClean) in one flow:
  // "Hive" side = latest monthly partition of orders; "HBase" side =
  // keyed snapshot filtered by rowkey regex; full-outer coalesce merge
  // with left precedence; audit columns; right-only rows get their
  // etl_date backfilled from the latest partition (defect A-5 fix,
  // SURVEY §7.4 — as written the reference leaves them null).
  def bistoreMergeQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .withColumn("etl_date", date_format(col("o_orderdate"), "yyyyMM"))
    val hive = EtlOps.latestPartition(o, "etl_date")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("etl_date"))
    val hbase = EtlOps.keyedSnapshotScan(
        o.withColumn("row_key", concat_ws("_", col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyyMMdd"))),
        "row_key", ".*_2000.*")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    val merged = EtlOps.coalesceMerge(hive, hbase, "o_orderkey")
    EtlOps.withAudit(merged, "dwd", "user1", T0)
      .withColumn("etl_date", coalesce(col("etl_date"), lit("200108")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("etl_date"),
        col("dwd_insert_user"), fmt(col("dwd_insert_time")).as("dwd_insert_time"))
  }
  val bistoreMergeSql: String =
    s"""WITH o AS (
       |  SELECT *, strftime(o_orderdate, '%Y%m') AS etl_date FROM orders),
       |hive AS (
       |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, etl_date
       |  FROM o WHERE etl_date = (SELECT max(etl_date) FROM o)),
       |hbase AS (
       |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
       |  FROM o
       |  WHERE regexp_matches(concat(o_orderkey, '_', strftime(o_orderdate, '%Y%m%d')),
       |                       '.*_2000.*'))
       |SELECT coalesce(h.o_orderkey, b.o_orderkey) AS o_orderkey,
       |       coalesce(h.o_custkey, b.o_custkey) AS o_custkey,
       |       coalesce(h.o_totalprice, b.o_totalprice) AS o_totalprice,
       |       coalesce(h.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       |       coalesce(h.etl_date, '200108') AS etl_date,
       |       'user1' AS dwd_insert_user, '$T0' AS dwd_insert_time
       |FROM hive h FULL OUTER JOIN hbase b ON h.o_orderkey = b.o_orderkey""".stripMargin

  // --------------------------------------------- Pattern B → SCD Type-2
  // Full version history with validity intervals per user (events as the
  // mutating dimension): every event is a version; valid_to = next
  // version's timestamp, open-ended for the current one.
  def scd2HistoryQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("user_id") < 50)
    EtlOps.scd2History(ev, Seq("user_id"), "ts", Seq(col("event_id")))
      .select(col("user_id"), col("event_id"),
        expr("valid_from div 1000").as("valid_from_us"),
        expr("valid_to div 1000").as("valid_to_us"),
        col("is_current"), col("event_type"), col("value"))
  }
  val scd2HistorySql: String =
    """SELECT user_id, event_id,
      |  epoch_ns(ts) // 1000 AS valid_from_us,
      |  lead(epoch_ns(ts)) OVER w // 1000 AS valid_to_us,
      |  lead(epoch_ns(ts)) OVER w IS NULL AS is_current,
      |  event_type, value
      |FROM events
      |WHERE user_id < 50
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC)""".stripMargin

  // ------------------------------------------------------------- S1 / P7
  // Pure-SQL path with a scalar subquery — the reference's Pattern C form
  // of latest-partition selection (OrderMasterDataClean.scala:70-72:
  // `WHERE etl_date = (SELECT max(etl_date) FROM …)`), run through
  // spark.sql over catalog-registered views (S1/S2 access path).
  def sqlScalarSubqueryQ(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_quantity, l_returnflag,
        |       date_format(l_shipdate, 'yyyyMMdd') AS etl_date
        |FROM lineitem
        |WHERE date_format(l_shipdate, 'yyyyMMdd') =
        |      (SELECT max(date_format(l_shipdate, 'yyyyMMdd')) FROM lineitem)""".stripMargin)
  }
  val sqlScalarSubquerySql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       l_quantity, l_returnflag,
      |       strftime(l_shipdate, '%Y%m%d') AS etl_date
      |FROM lineitem
      |WHERE strftime(l_shipdate, '%Y%m%d') =
      |      (SELECT max(strftime(l_shipdate, '%Y%m%d')) FROM lineitem)""".stripMargin

  // ------------------------------------------------- K1/K2/K3 via catalog
  // The reference's THREE catalog-table commits exercised end to end on a
  // managed table (local warehouse dir, no Hive metastore):
  //   1. saveAsTable(Overwrite).partitionBy — K3 rebuild with batch 1
  //      (reference CustomerAddrLevelAggrDataClean.scala:41-44);
  //   2. insertInto append of batch 2 — K1, POSITIONAL resolution: the
  //      batch is built with scrambled column order and realigned via
  //      alignTo (the A-2 guard; CatalogSpec shows the unguarded hazard)
  //      (reference SimpleDataCleanUtils.scala:30);
  //   3. INSERT OVERWRITE … PARTITION (etl_date) — K2 dynamic reload of
  //      only the latest month with re-stamped modify audit
  //      (reference CustomerInfDataClean.scala:70-88).
  // The query returns the read-back table state, which the oracle
  // reconstructs relationally: (batch1 ∪ batch2) outside the reloaded
  // partition, plus the re-stamped rows inside it.
  def insertIntoQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.CatalogSinks
    val src = Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") < 100)
      .withColumn("etl_date", date_format(col("o_orderdate"), "yyyyMM"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("etl_date"))
    val stamped = EtlOps.withAudit(src, "dwd", "user1", T0)
      .withColumn("dwd_insert_time", fmt(col("dwd_insert_time")))
      .withColumn("dwd_modify_time", fmt(col("dwd_modify_time")))
    val table = "graft_dwd_orders"
    // hash-cluster each write by etl_date alone, so each write puts one
    // file in each month it touches instead of a sliver per scan task.
    // The reload repartitions the same way instead of coalesce(1), which
    // keeps its scan wide: the measured 4.15 → 3.73 s of
    // OPTIMIZATION_r12.md. A hot month is one write task; a row-hash
    // salt would bound that, but no test, oracle or bench ever ran one.
    def clusterByMonth(df: DataFrame): DataFrame =
      df.repartition(col("etl_date"))
    val b1 = clusterByMonth(stamped.filter(col("o_orderkey") % 3 =!= 0))
    CatalogSinks.saveAsTableOverwrite(b1, table, Seq("etl_date"))
    // batch 2 arrives with a scrambled column order — realigned by name
    val b2 = clusterByMonth(stamped.filter(col("o_orderkey") % 3 === 0))
      .select(col("dwd_insert_user"), col("etl_date"), col("o_orderkey"),
        col("o_totalprice"), col("o_custkey"), col("o_orderstatus"),
        col("dwd_insert_time"), col("dwd_modify_user"),
        col("dwd_modify_time"))
    CatalogSinks.insertIntoAppend(CatalogSinks.alignTo(spark, table, b2),
      table)
    // dynamic reload of the latest month only: modify stamp moves to T1.
    val latest = stamped.agg(max(col("etl_date"))).head().getString(0)
    val reload = clusterByMonth(stamped.filter(col("etl_date") === latest)
      .withColumn("dwd_modify_user", lit("user2"))
      .withColumn("dwd_modify_time", lit(T1)))
    CatalogSinks.insertOverwritePartitions(spark, reload, table, "etl_date")
    spark.table(table)
  }
  val insertIntoSql: String =
    s"""WITH src AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |         strftime(o_orderdate, '%Y%m') AS etl_date
       |  FROM orders WHERE o_custkey < 100),
       |latest AS (SELECT max(etl_date) AS d FROM src)
       |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |       'user1' AS dwd_insert_user, '$T0' AS dwd_insert_time,
       |       CASE WHEN etl_date = (SELECT d FROM latest)
       |            THEN 'user2' ELSE 'user1' END AS dwd_modify_user,
       |       CASE WHEN etl_date = (SELECT d FROM latest)
       |            THEN '$T1' ELSE '$T0' END AS dwd_modify_time,
       |       etl_date
       |FROM src""".stripMargin

  // ------------------------------------------------------ streaming SCD
  // The foreachBatch continuous SCD merge, driver-checkable: the events
  // table is split into TWO single-file micro-batches (by event_id
  // parity, so one user's rows span batches), streamed through
  // StreamingOps.continuousScdMerge into a fresh snapshot, and the
  // final table is returned. Convergence contract: per-key latest-row
  // merging is associative across batches, so the final snapshot equals
  // the one-shot batch merge over all input regardless of batch order —
  // which is exactly what the oracle states relationally. Audit TIME
  // stamps are batch-arrival-dependent by design and excluded; the
  // audit user constants ride along.
  private def twoBatchEventsDir(spark: SparkSession, dir: String): String =
    Fixtures.cached("streamsrc", dir) { root =>
      val ev = Tables.load(spark, dir, "events")
      Fixtures.feed(root,
        Seq(0, 1).map(half => ev.where(col("event_id") % 2 === half)))
    }

  def streamScdQ(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(spark, dir, "events").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(twoBatchEventsDir(spark, dir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val target = graft.Scratch.dir("streamscd").toString + "/snap"
    graft.streaming.StreamingOps.continuousScdMerge(
      src, target, Seq("user_id"), "ts", Seq("event_id"))
    spark.read.parquet(target).select(
      col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
      col("event_type"), col("value"), col("props"),
      col("dwd_insert_user"), col("dwd_modify_user"))
  }
  val streamScdSql: String =
    """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |       event_type, value, props,
      |       'user1' AS dwd_insert_user, 'user1' AS dwd_modify_user
      |FROM events
      |QUALIFY row_number() OVER
      |  (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) = 1""".stripMargin

  // ------------------------------------------------------ streaming window
  // Watermark-driven tumbling-window aggregation, oracle-gated END TO END.
  // Events stream as three time-ordered micro-batches: first half by event
  // time, second half, then one far-future sentinel row. Append mode emits
  // a window only once the watermark passes its end, so the sentinel is
  // what exercises the watermark machinery for real — it advances event
  // time by a day, closing every real window (without it a finite stream
  // leaves the trailing watermark interval unemitted and the oracle could
  // never match). The time-ordered split guarantees no real event arrives
  // behind the watermark, so nothing is late-dropped and the emitted rows
  // must equal the batch tumbling aggregate exactly.
  private def windowBatchesDir(spark: SparkSession, dir: String): String =
    Fixtures.cached("streamwin", dir) { root =>
      val ev = Tables.load(spark, dir, "events")
      // fixture bounds, not operator state: two longs on the driver
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (minNs, maxNs) = (bounds.getLong(0), bounds.getLong(1))
      val midNs = (minNs + maxNs) / 2
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"),
        lit(maxNs + 86400L * 1000000000L).as("ts"),
        lit(-1L).as("user_id"),
        lit("__sentinel__").as("event_type"),
        lit(0.0d).as("value"),
        lit(null).cast("string").as("props"))
      // the feed's pinned mtimes make batch 2 (the sentinel) really
      // arrive last
      Fixtures.feed(root, Seq(
        ev.where(col("ts") <= midNs), ev.where(col("ts") > midNs), sentinel))
    }

  def streamWindowQ(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(spark, dir, "events").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(windowBatchesDir(spark, dir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val agg = graft.streaming.StreamingOps.windowedEventStats(
      src, watermark = "10 minutes", window_ = "5 minutes")
    val out = agg.select(
      unix_micros(col("window.start")).as("win_start_us"),
      col("event_type"), col("n"),
      round(col("sum_value"), 2).as("sum_value"))
    // 8 state partitions: this fixture streams ~1e5 rows, where 32
    // near-empty state stores per micro-batch are pure maintenance cost
    graft.streaming.StreamingOps.runToMemory(out, statePartitions = Some(8))
      // the sentinel's own window never closes, so it is absent anyway;
      // the filter just pins that invariant against config drift
      .where(col("event_type") =!= "__sentinel__")
  }
  val streamWindowSql: String =
    """SELECT (epoch_ns(ts) // 1000 // 300000000) * 300000000 AS win_start_us,
      |       event_type, count(*) AS n,
      |       round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- CDC apply
  // Changelog-with-tombstones collapse (EtlOps.applyChangelog): orders
  // re-read as a change stream on the customer key — each order is an
  // upsert of that customer's latest order except finished ('F') rows,
  // which tombstone the key. Sequence = (o_orderdate, o_orderkey): the
  // orderkey tie-breaker makes the per-key ordering total, so the
  // surviving row is engine-independent. Output avoids raw timestamps
  // per the oracle determinism rules.
  def cdcApplyQ(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables.load(spark, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate"),
      when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"))
    graft.ops.EtlOps.applyChangelog(log, Seq("o_custkey"),
        Seq("o_orderdate", "o_orderkey"), "op")
      .select(col("o_custkey"), col("o_orderkey").as("last_orderkey"),
        col("o_totalprice").as("last_totalprice"))
  }
  val cdcApplySql: String =
    """WITH log AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
      |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
      |  FROM orders),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM log)
      |SELECT o_custkey, o_orderkey AS last_orderkey,
      |       o_totalprice AS last_totalprice
      |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin

  // -------------------------------------------------- stream-stream join
  // The attribution join (clicks within 10 minutes before a purchase,
  // same user) as a watermarked stream-stream self-join, oracle-gated:
  // an inner stream-stream join emits exactly the matches, so after the
  // time-ordered batches drain, the memory sink must equal the batch
  // theta join. Eviction safety: a click leaves state only when the
  // watermark passes c_time + 10min, and every purchase it could still
  // match arrives earlier than that (the split is time-ordered), so
  // state cleanup can never drop a matchable row — bounded state AND
  // exact results, which is the whole point of watermarked joins. The
  // sentinel row matches neither side's filter.
  def streamJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(spark, dir, "events").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(windowBatchesDir(spark, dir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val joined = graft.streaming.StreamingOps.streamStreamAttribution(src)
    // 4 state partitions, not 8: the stream-stream join keeps FOUR
    // state stores per partition (two per side), so it pays double the
    // per-store maintenance of the single-operator gates — at this
    // fixture's throughput the narrower width is pure overhead removed
    // (isolated 7.1 -> 3.6 s; the single-store gates measured WORSE at
    // 4 — they move real data per store and want the parallelism)
    graft.streaming.StreamingOps.runToMemory(joined,
      statePartitions = Some(4))
  }
  val streamJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      |FROM events p JOIN events c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.user_id = p.user_id
      | AND epoch_ns(c.ts) // 1000 >= epoch_ns(p.ts) // 1000 - 600000000
      | AND epoch_ns(c.ts) // 1000 < epoch_ns(p.ts) // 1000""".stripMargin

  // ---------------------------------------------------- streaming sessions
  // session_window sessionization gated end to end, on the same
  // three-batch fixture as p_stream_window: the sentinel advances the
  // watermark a day so every real session closes and appends. Spark's
  // session window is [start, last + gap) — a new event STARTS a new
  // session when its distance from the previous event is >= gap (the
  // half-open end), so the relational oracle's island rule uses >=
  // where the batch x_sessionize operator (a different, closed-interval
  // contract) uses >. Sessions of the sentinel user never close and are
  // filtered; real users' sessions span micro-batches through state.
  def streamSessionsQ(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(spark, dir, "events").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(windowBatchesDir(spark, dir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val agg = graft.streaming.StreamingOps.sessionWindowStream(src, 30)
    val out = agg.select(col("user_id"),
      unix_micros(col("session_start")).as("session_start_us"),
      unix_micros(col("session_end")).as("session_end_us"),
      col("n_events"), round(col("sum_value"), 2).as("sum_value"))
    graft.streaming.StreamingOps.runToMemory(out, statePartitions = Some(8))
      .where(col("user_id") >= 0)
  }
  val streamSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tsu, value
      |  FROM events),
      |s AS (
      |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
      |                   OR tsu - lag(tsu) OVER w >= 1800000000
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |s2 AS (
      |  SELECT *, sum(new_sess) OVER
      |    (PARTITION BY user_id ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING)
      |    AS sess_idx
      |  FROM s)
      |SELECT user_id,
      |       min(tsu) AS session_start_us,
      |       max(tsu) + 1800000000 AS session_end_us,
      |       count(*) AS n_events,
      |       round(sum(value), 2) AS sum_value
      |FROM s2 GROUP BY user_id, sess_idx""".stripMargin

  // ---------------------------------------------------- streaming dedup
  // dropDuplicatesWithinWatermark gated end to end: the event stream is
  // UNIONed with itself (an at-least-once producer duplicating every
  // record), then collapsed on the business key alone. Watermark safety:
  // with two file sources the global watermark is the MIN over sources,
  // so a branch that races ahead cannot evict a key before its twin
  // arrives — state stays bounded AND the dedup is exact, which is the
  // operator's whole contract. Oracle: events are unique by event_id, so
  // the deduped per-user counts must equal the plain batch counts.
  def streamDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(spark, dir, "events").schema
    def mkSrc = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(windowBatchesDir(spark, dir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val deduped = graft.streaming.StreamingOps.dedupKeysStream(
      mkSrc.union(mkSrc), Seq("event_id"), "30 minutes")
    graft.streaming.StreamingOps.runToMemory(
        deduped.select(col("event_id"), col("user_id")),
        statePartitions = Some(8))
      .where(col("user_id") >= 0)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
  }
  val streamDedupSql: String =
    """SELECT user_id, count(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  // ------------------------------------------------- streaming state fold
  // The hand-rolled flatMapGroupsWithState sessionizer
  // (StreamingOps.userSessionStream) gated end to end — until now it was
  // only spec-verified. Gap decisions run on raw NANOSECOND ts (the
  // batch Sessionize contract: a new session when the gap is STRICTLY
  // greater than 30 min), so the oracle islands on epoch_ns with >.
  // The sentinel advances the watermark a day past the last real event:
  // every real user's trailing session closes via EventTimeTimeout and
  // appends; the sentinel's own session never closes and is filtered.
  def streamStateQ(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(spark, dir, "events").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(windowBatchesDir(spark, dir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val sess = graft.streaming.StreamingOps.userSessionStream(src, 30)
    // sum_value is deliberately NOT emitted: the state fold accumulates
    // doubles in arrival order while the oracle sums in DuckDB's own
    // order, so the two can differ by an ulp and flip round() at a
    // half-cent boundary (the q_range_frame analysis). Session sums are
    // gated by p_stream_sessions; THIS gate is about the state API —
    // counts, boundaries, and timeout-driven closes, all exact.
    val out = sess.toDF().select(col("user_id"), col("n_events"),
      col("session_start_us"), col("session_end_us"))
    graft.streaming.StreamingOps.runToMemory(out, statePartitions = Some(8))
      .where(col("user_id") >= 0)
  }
  val streamStateSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, value FROM events),
      |s AS (
      |  SELECT *, CASE WHEN lag(tsn) OVER w IS NULL
      |                   OR tsn - lag(tsn) OVER w > 1800000000000
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
      |s2 AS (
      |  SELECT *, sum(new_sess) OVER
      |    (PARTITION BY user_id ORDER BY tsn, event_id ROWS UNBOUNDED PRECEDING)
      |    AS sess_idx
      |  FROM s)
      |SELECT user_id, count(*) AS n_events,
      |       min(tsn) // 1000 AS session_start_us,
      |       max(tsn) // 1000 AS session_end_us
      |FROM s2 GROUP BY user_id, sess_idx""".stripMargin

  // ----------------------------------------------- raw-feed ingestion
  // Ingest.readJsonl / readCsv gated end to end (until now spec-only):
  // the documents table is serialized to raw JSONL / CSV lines WITH
  // three poison lines injected (malformed syntax, a type failure, a
  // blank), ingested back through the two-filter parse/quarantine
  // split, and the CLEAN side must hash-match the original table —
  // proving the quarantine caught exactly the poison and the parse is
  // lossless (to_json/to_csv escape newlines and quotes, so the line
  // format survives arbitrary document text).
  private def ingestFixture(spark: SparkSession, dir: String,
                            fmt: String): String =
    Fixtures.cached(s"ingest-$fmt", dir) { root =>
      val d = Tables.load(spark, dir, "documents")
      // the CSV line format cannot carry embedded newlines (write.text
      // is line-oriented, so a quoted multi-line field would split into
      // two unparseable records); the testdata has none — fail loudly
      // here rather than let a future regeneration silently flip the
      // gate. The JSONL path escapes newlines and has no such limit.
      if (fmt == "csv")
        require(d.where(col("text").contains("\n")).isEmpty,
          "CSV ingest fixture requires newline-free document text")
      val cols = struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      val good = d.select(
        (if (fmt == "jsonl") to_json(cols) else to_csv(cols)).as("value"))
      val poison = spark.range(1).select(explode(array(
        lit(if (fmt == "jsonl") "{\"doc_id\": not json" else "\"unclosed"),
        lit(if (fmt == "jsonl")
          "{\"doc_id\":\"NaN-key\",\"text\":\"t\",\"lang\":\"en\",\"source\":\"s\",\"n_chars\":\"zzz\"}"
        else "notanumber,t,en,s,alsonotanumber"),
        lit("   "))).as("value"))
      val out = new java.io.File(root, "lines").toString
      good.union(poison).write.text(out)
      out
    }
  private val docsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))
  def jsonlIngestQ(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Ingest.readJsonl(spark,
      ingestFixture(spark, dir, "jsonl"), docsSchema)._1
  def csvIngestQ(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Ingest.readCsv(spark,
      ingestFixture(spark, dir, "csv"), docsSchema)._1

  // --------------------------------------------- ORC source round-trip
  // Spark's second first-class columnar format: documents rewritten as
  // ORC (footer stats, predicate pushdown, and column pruning work
  // there exactly as for parquet — the declarative scan is
  // format-agnostic) and read back; content must hash-match the
  // original table, proving the layout swap is lossless. Shares the
  // line-format ingests' oracle.
  private def orcFixture(spark: SparkSession, dir: String): String =
    Fixtures.cached("orc", dir) { root =>
      val out = new java.io.File(root, "docs_orc").toString
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.orc(out)
      out
    }
  def orcRoundtripQ(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(orcFixture(spark, dir))
  val ingestRoundtripSql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents"

  // ----------------------------------------------- clustered-scan layout
  // MaintainedIndex.writeClusteredIndexed gated end to end: lineitem
  // rewritten range-clustered on l_shipdate (disjoint per-file key
  // ranges + in-file sort, ClusteredWriteSpec proves the layout), then
  // a month slice is read back FROM THE CLUSTERED FILES — content must
  // equal the same filter over the original table, proving the layout
  // transformation is lossless while the footer stats make the scan
  // skip every out-of-range file at 100 TB.
  def clusteredScanQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("clustered", dir) { root =>
      val p = new java.io.File(root, "li").toString
      graft.sources.MaintainedIndex.writeClusteredIndexed(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"), col("l_quantity")),
        p, "l_shipdate", partitions = 8)
      p
    }
    spark.read.parquet(path)
      .where(col("l_shipdate") >= "1995-03-01" &&
        col("l_shipdate") < "1995-04-01")
      .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        col("l_quantity"))
  }
  val clusteredScanSql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date, l_quantity
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
      |  AND l_shipdate < TIMESTAMP '1995-04-01'""".stripMargin

  // ---------------------------------------------- file-skipping index
  // MaintainedIndex.readRange gated end to end: lineitem
  // range-clustered on l_orderkey (8 disjoint-range files), then an
  // orderkey range read that opens only the files whose footer
  // envelope intersects the range (FileSkipSpec asserts the file-count
  // collapse); content must equal the same filter over the original
  // table. The Delta-style skip at planner level, above parquet's own
  // row-group filter.
  def fileskipScanQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("fileskip", dir) { root =>
      val p = new java.io.File(root, "li").toString
      graft.sources.MaintainedIndex.writeClusteredIndexed(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice")),
        p, "l_orderkey", partitions = 8)
      p
    }
    graft.sources.MaintainedIndex
      .readRange(spark, path, "l_orderkey", 1000L, 5000L)
      .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
  }
  val fileskipScanSql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1000 AND 5000""".stripMargin

  // ------------------------------------------- Bloom-filter file skip
  // The point-lookup complement to p_fileskip_scan: orders HASHED into
  // 8 files by customer (each file holds a subset of custkeys but a
  // near-full custkey RANGE, so min/max envelopes prune nothing), a
  // per-file Bloom postings table built over o_custkey, then a point
  // read THROUGH the Bloom — only files whose filter contains all k
  // bit positions of the probe are opened (BloomSkipSpec asserts the
  // collapse to the one true file and no false negatives). Content
  // must equal the plain equality filter over the original table.
  def bloomskipScanQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("bloomskip", dir) { root =>
      val p = new java.io.File(root, "ord").toString
      Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .repartition(8, col("o_custkey"))
        .write.parquet(p)
      graft.sources.SkippingIndex.buildBloom(spark, p, "o_custkey")
      p
    }
    graft.sources.SkippingIndex
      .readPoint(spark, path, "o_custkey", 42L)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
  }
  val bloomskipScanSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_custkey = 42""".stripMargin

  // ---------------------------------------------- small-file compaction
  // Compaction gated end to end: documents deliberately shattered into
  // 16 small files, then compacted toward bytes/4-sized targets — a
  // shuffle-free coalesce rewrite (CompactionSpec asserts no exchange
  // and the file-count collapse). The gate reads the COMPACTED layout
  // and must reproduce the per-source profile of the original table:
  // compaction is a layout change, rows are untouched.
  def compactionQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("compacted", dir) { root =>
      val frag = new java.io.File(root, "frag").toString
      val out = new java.io.File(root, "compact").toString
      Tables.load(spark, dir, "documents")
        .repartition(16).write.parquet(frag)
      val (_, bytes) = graft.sources.Compaction.layoutOf(spark, frag)
      graft.sources.Compaction.compact(spark, frag, out,
        targetFileBytes = math.max(bytes / 4, 1L))
      out
    }
    spark.read.parquet(path)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("sum_id"))
  }
  val compactionSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_id
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------- schema evolution
  // Additive schema evolution gated end to end: a v1 batch written
  // without `quality`, a v2 batch written WITH it, one mergeSchema read
  // over both — the lake-table lifecycle every long-lived corpus hits
  // (new metadata columns appear; historical files must keep reading
  // as NULL, no rewrite). Spark's parquet mergeSchema union is the
  // native mechanism; the oracle replays the union with explicit NULLs.
  def schemaEvolutionQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("schema_evo", dir) { root =>
      val t = new java.io.File(root, "t").toString
      val d = Tables.load(spark, dir, "documents")
      d.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("append").parquet(t)
      d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars") % 100).as("quality"))
        .write.mode("append").parquet(t)
      t
    }
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality")).as("n_scored"),
        sum(col("quality")).as("sum_quality"))
  }
  val schemaEvolutionSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, n_chars, NULL AS quality
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, source, n_chars, n_chars % 100
      |  FROM documents WHERE doc_id % 2 = 1)
      |SELECT source, count(*) AS n_docs,
      |  count(quality) AS n_scored,
      |  CAST(sum(quality) AS BIGINT) AS sum_quality
      |FROM t GROUP BY 1""".stripMargin

  // ------------------------------------------------- z-ordered layout
  // ZOrder.writeZOrdered gated end to end: lineitem re-clustered on the
  // Morton interleave of (l_partkey, l_suppkey) — ZOrderSpec proves the
  // 2-D locality (a small box is absent from most files' key bounds);
  // here a box slice read FROM THE Z-ORDERED FILES must equal the same
  // filter over the original table, and the emitted z value gates the
  // bit-interleave arithmetic itself against DuckDB's.
  def zorderScanQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("zorder", dir) { root =>
      val p = new java.io.File(root, "li").toString
      graft.ops.ZOrder.writeZOrdered(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        p, Seq("l_partkey", "l_suppkey"), partitions = 8)
      p
    }
    spark.read.parquet(path)
      .where(col("l_partkey").between(100L, 300L) &&
        col("l_suppkey").between(1L, 40L))
      .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("z"))
  }
  val zorderScanSql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  l_partkey, l_suppkey,
      |  CAST(list_sum(list_transform(range(21), i ->
      |    (((l_partkey >> i) & 1) << (2*i)) +
      |    (((l_suppkey >> i) & 1) << (2*i + 1)))) AS BIGINT) AS z
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300
      |  AND l_suppkey BETWEEN 1 AND 40""".stripMargin

  // ----------------------------------------------- Hilbert-curve layout
  // Hilbert.writeHilbertOrdered gated end to end — the tighter-locality
  // sibling of the z-order layout (every curve step is a 4-neighbor
  // move, so a box predicate spans fewer index ranges; HilbertSpec
  // measures the file-skip advantage on this same fixture). The box
  // slice read FROM THE HILBERT-CLUSTERED FILES must equal the filter
  // over the original table, and the emitted h value gates the native
  // expression's rotate/flip fold (graft.functions.native
  // .HilbertIndexExpr, codegen'd loop) against DuckDB's replay of the
  // SAME fold as 18 unrolled CTE levels — bit-for-bit, no tolerance.
  def hilbertScanQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("hilbert", dir) { root =>
      val p = new java.io.File(root, "li").toString
      graft.ops.Hilbert.writeHilbertOrdered(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        p, "l_partkey", "l_suppkey", partitions = 8)
      p
    }
    spark.read.parquet(path)
      .where(col("l_partkey").between(100L, 300L) &&
        col("l_suppkey").between(1L, 40L))
      .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("h"))
  }
  val hilbertScanSql: String = {
    val bits = 18
    val n1 = (1L << bits) - 1L
    val levels = (0 until bits).map { i =>
      val k = bits - 1 - i
      val s2 = 1L << (2 * k) // s·s for s = 2^k
      s"""h${i + 1} AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    hd + $s2 * xor(3 * ((hx >> $k) & 1), (hy >> $k) & 1) AS hd,
         |    CASE WHEN ((hy >> $k) & 1) = 0 THEN
         |      CASE WHEN ((hx >> $k) & 1) = 1 THEN $n1 - hy ELSE hy END
         |    ELSE hx END AS hx,
         |    CASE WHEN ((hy >> $k) & 1) = 0 THEN
         |      CASE WHEN ((hx >> $k) & 1) = 1 THEN $n1 - hx ELSE hx END
         |    ELSE hy END AS hy
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    CAST(0 AS BIGINT) AS hd,
       |    CAST(l_partkey AS BIGINT) AS hx,
       |    CAST(l_suppkey AS BIGINT) AS hy
       |  FROM lineitem
       |  WHERE l_partkey BETWEEN 100 AND 300
       |    AND l_suppkey BETWEEN 1 AND 40),
       |$levels
       |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  l_partkey, l_suppkey, hd AS h
       |FROM h$bits""".stripMargin
  }

  // ----------------------------------------------- versioned snapshots
  // Versioned (time travel) gated end to end: v1 = the even-id half of
  // documents, v2 = the full table; reading PINNED VERSION 1 after v2
  // has been committed must return exactly the v1 content — history
  // survives later writes (the reference's overwrites destroy it), so
  // "which corpus version trained this model" stays answerable.
  def timeTravelQ(spark: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.cached("versioned", dir) { root =>
      val t = new java.io.File(root, "docs").toString
      val d = Tables.load(spark, dir, "documents")
      graft.sources.Versioned.write(
        d.where(col("doc_id") % 2 === 0), t)
      graft.sources.Versioned.write(d, t)
      t
    }
    graft.sources.Versioned.read(spark, table, version = Some(1))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }
  val timeTravelSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents WHERE doc_id % 2 = 0""".stripMargin

  // ----------------------------------------------- data-quality gate
  // Quality.report gated end to end over orders: three row-local rules
  // (ONE extra scan total — violations are conditional counts inside a
  // single aggregate), a uniqueness rule, and a referential-integrity
  // rule against customer. The oracle recomputes each count
  // relationally; all integers.
  def qualityChecksQ(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    graft.ops.Quality.report(ord, Seq(
      graft.ops.Quality.Check("status_known",
        col("o_orderstatus").isin("F", "O", "P")),
      graft.ops.Quality.Check("price_positive", col("o_totalprice") > 0d),
      graft.ops.Quality.Check("priority_nonnull",
        col("o_orderpriority").isNotNull),
      graft.ops.Quality.Unique("orderkey_unique", Seq("o_orderkey")),
      graft.ops.Quality.ForeignKey("custkey_in_customer", "o_custkey",
        cust, "c_custkey")))
  }
  val qualityChecksSql: String =
    """SELECT 'status_known' AS rule,
      |  CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END)
      |       AS BIGINT) AS n_violations FROM orders
      |UNION ALL
      |SELECT 'price_positive',
      |  CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM orders
      |UNION ALL
      |SELECT 'priority_nonnull',
      |  CAST(sum(CASE WHEN o_orderpriority IS NOT NULL THEN 0 ELSE 1 END)
      |       AS BIGINT)
      |  FROM orders
      |UNION ALL
      |SELECT 'orderkey_unique',
      |  COALESCE((SELECT CAST(sum(n - 1) AS BIGINT) FROM
      |    (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)), 0)
      |UNION ALL
      |SELECT 'custkey_in_customer',
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey IS NULL
      |      OR NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE c.c_custkey = o.o_custkey))""".stripMargin

  // ----------------------------------------------- snapshot diff
  // Versioned.diff gated end to end: v1 = documents minus the %7 ids,
  // v2 = documents minus the %3 ids with n_chars bumped on the %5 ids —
  // so the diff must report exactly the set-algebra of adds (%7 ids
  // that survived v2's filter), removes (%3 ids that were in v1), and
  // changes (%5 survivors of both filters). One full-outer join on the
  // key; non-key columns compared as canonical JSON.
  def snapshotDiffQ(spark: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.cached("versioned-diff", dir) { root =>
      val t = new java.io.File(root, "docs").toString
      val d = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.Versioned.write(d.where(col("doc_id") % 7 =!= 0), t)
      graft.sources.Versioned.write(
        d.where(col("doc_id") % 3 =!= 0)
          .withColumn("n_chars", when(col("doc_id") % 5 === 0,
            col("n_chars") + 1L).otherwise(col("n_chars"))), t)
      t
    }
    graft.sources.Versioned.diff(spark, table, Seq("doc_id"), 1, 2)
  }
  val snapshotDiffSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN 'added'
      |       WHEN doc_id % 3 = 0 THEN 'removed'
      |       ELSE 'changed' END AS op
      |FROM documents
      |WHERE (doc_id % 7 = 0 AND doc_id % 3 <> 0)
      |   OR (doc_id % 7 <> 0 AND doc_id % 3 = 0)
      |   OR (doc_id % 7 <> 0 AND doc_id % 3 <> 0 AND doc_id % 5 = 0)""".stripMargin

  // ------------------------------------------- incremental aggregates
  // IncrementalAgg gated end to end: the per-(user, event_type) count
  // and exact cent-sum snapshot built from events BEFORE the cutoff,
  // merged with the raw post-cutoff batch — must equal re-aggregating
  // all of history (the oracle). Integer lanes throughout, so the
  // equivalence is exact, and refresh cost is O(batch), never
  // O(history).
  def incrementalAggQ(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = 1705363200000000000L
    val ev = Tables.load(spark, dir, "events").select(
      col("user_id"), col("event_type"), col("ts"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val base = graft.ops.IncrementalAgg.snapshot(
      ev.where(col("ts") < cutoff), Seq("user_id", "event_type"),
      Seq("cents"))
    graft.ops.IncrementalAgg.merge(base,
      ev.where(col("ts") >= cutoff), Seq("user_id", "event_type"),
      Seq("cents"))
  }
  val incrementalAggSql: String =
    """SELECT user_id, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY 1, 2""".stripMargin

  // ------------------------------------- sargable rowkey-prefix scan
  // The S3/P9 keyed-scan pattern on its SCALE path: an ^-anchored
  // rowkey regex over a stored key column, which the
  // RegexPrefixPruning optimizer rule augments with the implied
  // [src1, src2) range — pushed to parquet min/max pruning (asserted
  // in RegexPrefixPruningSpec) while the regex stays for exactness.
  // Contrast p_keyed_snapshot_scan, whose deliberately unanchored
  // `.*`-style regex the conservative rule leaves untouched.
  def rowkeyPrefixScanQ(spark: SparkSession, dir: String): DataFrame =
    EtlOps.keyedSnapshotScan(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars")),
      "source", "^src1[0-9]$")
  val rowkeyPrefixScanSql: String =
    """SELECT doc_id, source, lang, n_chars
      |FROM documents
      |WHERE regexp_matches(source, '^src1[0-9]$')""".stripMargin

  // ------------------------------------------- incremental join view
  // IncrementalAgg.joinViewDelta gated end to end: the stored
  // orders ⋈ customer view plus the delta-join decomposition
  // V ∪ (ΔL ⋈ R) ∪ (L ⋈ ΔR) ∪ (ΔL ⋈ ΔR) under appends on BOTH sides
  // (orders by orderkey residue, customers by custkey residue) must
  // equal the from-scratch join over the full tables — the oracle.
  // Per-refresh cost is Δ-proportional; history never joins history.
  def joinViewIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders").select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_nationkey"))
    val (oOld, oNew) = (o.where(col("o_orderkey") % 5 =!= 0),
      o.where(col("o_orderkey") % 5 === 0))
    val (cOld, cNew) = (c.where(col("custkey") % 7 =!= 0),
      c.where(col("custkey") % 7 === 0))
    val vOld = oOld.join(cOld, Seq("custkey"))
    vOld.unionByName(graft.ops.IncrementalAgg.joinViewDelta(
      oOld, oNew, cOld, cNew, Seq("custkey")))
  }
  val joinViewIncrSql: String =
    """SELECT o_custkey AS custkey, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |  c_nationkey
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ------------------------------------------------- bucketed join
  // Write-time co-location gated end to end: orders and customer are
  // written as catalog tables bucketed on the customer key, then joined
  // and aggregated READING FROM THE BUCKETED TABLES — the repeated-join
  // pre-partitioning strategy (bucket join runs with no exchange,
  // asserted by BucketedJoinSpec; this gates the content round-trip
  // through the bucketed layout). The tables are path tables under the
  // fixture's scratch dir, so their files go with the JVM and none land
  // in the session's warehouse; table names carry a per-JVM tag so a
  // persistent catalog's entries from other sessions can't collide.
  private lazy val bucketTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)
  def bucketedJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val prefix = Fixtures.cached("bkt", dir) { root =>
      val tag = s"${bucketTag}_${math.abs(dir.hashCode)}"
      Tables.load(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", new java.io.File(root, "ord").toString)
        .saveAsTable(s"graft_bkt_ord_$tag")
      Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", new java.io.File(root, "cust").toString)
        .saveAsTable(s"graft_bkt_cust_$tag")
      tag
    }
    spark.table(s"graft_bkt_ord_$prefix")
      .join(spark.table(s"graft_bkt_cust_$prefix"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
  }
  val bucketedJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---------------------------------------- streaming aggregate upkeep
  // continuousAggMaintenance gated end to end: the two-batch events
  // feed maintains a per-(user, event_type) count + cent-sum snapshot,
  // each refresh committing a NEW Versioned snapshot (atomic pointer,
  // never read-and-overwrite-in-place). After the drain the LATEST
  // snapshot must equal re-aggregating all of history — the O(batch)
  // refresh is provably lossless, and the refresh history stays
  // diffable.
  def streamIncrAggQ(spark: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.cached("streamagg", dir) { root =>
      val schema = Tables.load(spark, dir, "events").schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(twoBatchEventsDir(spark, dir))
        .select(col("user_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val t = new java.io.File(root, "agg").toString
      graft.streaming.StreamingOps.continuousAggMaintenance(
        src, t, Seq("user_id", "event_type"), Seq("cents"))
      t
    }
    graft.sources.Versioned.read(spark, table)
  }
  // same oracle as p_incremental_agg: the maintained snapshot must
  // equal the full-history aggregate
  val streamIncrAggSql: String =
    """SELECT user_id, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- S4/S5
  // Typed byte-cell decode: the customer table is exported to HBase-style
  // binary cells (UTF-8 / big-endian, ByteDecode.encodeCells) and lifted
  // back through per-column typed converters + an explicit StructType via
  // createDataFrame(rdd, schema) — the reference's exact ingestion shape
  // (OrderMasterDataClean.scala:98-154, HbaseCliUtil.scala:8-11). The
  // round-trip is bit-exact (IEEE-754 bits for doubles), so the oracle is
  // the plain relational projection.
  def typedDecodeQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.sources.ByteDecode
    val src = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val cells = ByteDecode.encodeCells(src)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    ByteDecode.decodeTyped(spark, cells, schema)
      .withColumn("c_nationkey", col("c_nationkey").cast("long"))
  }
  val typedDecodeSql: String =
    """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
      |       c_acctbal, c_mktsegment
      |FROM customer""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("p_insert_into", insertIntoQ, insertIntoSql),
    Query("p_typed_decode", typedDecodeQ, typedDecodeSql),
    Query("p_latest_partition", latestPartitionQ, latestPartitionSql),
    Query("p_latest_partition_pruned", latestPartitionPrunedQ,
      latestPartitionPrunedSql),
    Query("p_audit_append", auditAppendQ, auditAppendSql),
    Query("p_dedup_latest", dedupLatestQ, dedupLatestSql),
    Query("p_scd_merge", scdMergeQ, scdMergeSql),
    Query("p_coalesce_merge", coalesceMergeQ, coalesceMergeSql),
    Query("p_keyed_snapshot_scan", keyedSnapshotScanQ, keyedSnapshotScanSql),
    Query("p_denormalize", denormalizeQ, denormalizeSql),
    Query("p_union_by_name", unionByNameQ, unionByNameSql),
    Query("p_sql_scalar_subquery", sqlScalarSubqueryQ, sqlScalarSubquerySql),
    Query("p_bistore_merge", bistoreMergeQ, bistoreMergeSql),
    Query("p_scd2_history", scd2HistoryQ, scd2HistorySql),
    Query("p_stream_scd", streamScdQ, streamScdSql),
    Query("p_stream_window", streamWindowQ, streamWindowSql),
    Query("p_stream_sessions", streamSessionsQ, streamSessionsSql),
    Query("p_stream_join", streamJoinQ, streamJoinSql),
    Query("p_stream_dedup", streamDedupQ, streamDedupSql),
    Query("p_stream_state", streamStateQ, streamStateSql),
    Query("p_cdc_apply", cdcApplyQ, cdcApplySql),
    Query("p_jsonl_ingest", jsonlIngestQ, ingestRoundtripSql),
    Query("p_csv_ingest", csvIngestQ, ingestRoundtripSql),
    Query("p_orc_roundtrip", orcRoundtripQ, ingestRoundtripSql),
    Query("p_clustered_scan", clusteredScanQ, clusteredScanSql),
    Query("p_fileskip_scan", fileskipScanQ, fileskipScanSql),
    Query("p_bloomskip_scan", bloomskipScanQ, bloomskipScanSql),
    Query("p_compaction", compactionQ, compactionSql),
    Query("p_schema_evolution", schemaEvolutionQ, schemaEvolutionSql),
    Query("p_zorder_scan", zorderScanQ, zorderScanSql),
    Query("p_hilbert_scan", hilbertScanQ, hilbertScanSql),
    Query("p_time_travel", timeTravelQ, timeTravelSql),
    Query("p_quality_checks", qualityChecksQ, qualityChecksSql),
    Query("p_snapshot_diff", snapshotDiffQ, snapshotDiffSql),
    Query("p_incremental_agg", incrementalAggQ, incrementalAggSql),
    Query("p_join_view_incr", joinViewIncrQ, joinViewIncrSql),
    Query("p_rowkey_prefix_scan", rowkeyPrefixScanQ, rowkeyPrefixScanSql),
    Query("p_bucketed_join", bucketedJoinQ, bucketedJoinSql),
    Query("p_stream_incr_agg", streamIncrAggQ, streamIncrAggSql))
}
