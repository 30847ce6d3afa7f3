"""warehouse_nightly: N nightly ODS landings through patterns A-D.

Night i lands a period slice of orders and lineitem, a seed-chosen set
of customer updates and a keyed (HBase-style) snapshot of order status
changes, then runs
  A  withAudit -> latestPartition -> appendPartitioned   (lineitem fact)
  B  scdMerge into the previous night's DWD -> overwriteDynamicPartitions
  C  keyedSnapshotScan + coalesceMerge -> appendPartitioned (orders)
  D  denormalize -> withAudit -> overwriteAll            (DWS order wide)
One episode replays every night from an empty warehouse; the timed pass
repeats episodes. Each pattern of each night is one step.
"""
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa

import gen
from harness import copy_tree, dir_stats, fresh

NIGHTS = 2
N_CUST = 4000
ORDERS_PER_NIGHT = 2500
UPDATE_RATE = 0.1
KV_RATE = 0.2
FIRST_DAY = 1000          # day offset of night 1 (1997-09-28)
CLOCK = "2024-06-01 00:00:00"


def night_date(i):
    return gen.day_string(FIRST_DAY + i)


class Warehouse:
    name = "warehouse_nightly"
    min_episodes = 2

    def generate(self, ctx, base):
        """Generate the landings under `base`."""
        seed = ctx.seed
        tabs = gen.dims(seed, N_CUST, 200, 2000)
        for t in ("region", "nation"):
            gen.write(tabs[t], os.path.join(base, "dims", f"{t}.parquet"))
        cust = tabs["customer"]
        r = gen.rng_for(seed, "warehouse")
        t0 = np.datetime64(f"{gen.day_string(FIRST_DAY)[:4]}-"
                           f"{gen.day_string(FIRST_DAY)[4:6]}-"
                           f"{gen.day_string(FIRST_DAY)[6:]}", "us")
        utc = pa.timestamp("us", tz="UTC")
        clock0 = np.datetime64("2024-01-01T00:00:00", "us")
        n = cust.num_rows
        # night-0 DWD customer snapshot, already audited
        dwd0 = cust.append_column("modified_time", pa.array(
            t0 - np.timedelta64(1, "D") + r.integers(0, 86_400_000_000, n).astype("timedelta64[us]"), utc))
        for c in ("dwd_insert_user", "dwd_modify_user"):
            dwd0 = dwd0.append_column(c, pa.array(["user1"] * n))
        for c in ("dwd_insert_time", "dwd_modify_time"):
            dwd0 = dwd0.append_column(c, pa.array(np.full(n, clock0), utc))
        dwd0 = dwd0.select(["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                            "c_mktsegment", "modified_time", "dwd_insert_user",
                            "dwd_insert_time", "dwd_modify_user", "dwd_modify_time"])
        gen.write(dwd0, os.path.join(base, "dwd0", f"etl_date={night_date(0)}"))
        self.input_rows = 0
        for i in range(1, NIGHTS + 1):
            d = night_date(i)
            nd = os.path.join(base, "nights", str(i))
            o, li = gen.orders_lineitem(seed, ORDERS_PER_NIGHT, N_CUST, 200, 2000,
                                        days=1, key0=(i - 1) * ORDERS_PER_NIGHT,
                                        day0=FIRST_DAY + i, tag=f"night{i}")
            gen.write(li, os.path.join(nd, "lineitem", f"etl_date={d}"))
            gen.write(o, os.path.join(nd, "orders", f"etl_date={d}"))
            k = int(N_CUST * UPDATE_RATE)
            ids = np.sort(r.choice(N_CUST, k, replace=False))
            upd = pa.table({
                "c_custkey": pa.array(ids, pa.int64()),
                "c_name": pa.array([f"Customer#{x:09d}" for x in ids]),
                "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, k), 2)),
                "c_mktsegment": gen._pick(r, gen.SEGMENTS, k),
                "modified_time": pa.array(
                    t0 + np.timedelta64(i, "D") + r.integers(0, 86_400_000_000, k).astype("timedelta64[us]"), utc)})
            gen.write(upd, os.path.join(nd, "customer_upd", f"etl_date={d}"))
            # keyed snapshot: status changes of tonight's and earlier orders
            kk = int(ORDERS_PER_NIGHT * KV_RATE)
            keys = np.sort(r.choice(i * ORDERS_PER_NIGHT, kk, replace=False))
            kv = pa.table({
                "rowkey": pa.array([f"{x:010d}{d}" for x in keys]),
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_orderstatus": gen._pick(r, ["P", "O", "F"], kk),
                "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, kk), 2))})
            gen.write(kv, os.path.join(nd, "orders_kv", f"n{i}"))
            self.input_rows += li.num_rows + o.num_rows + upd.num_rows + kv.num_rows
        self.base = base
        self.input_bytes = dir_stats(os.path.join(base, "nights"))[1]

    def prepare(self, ctx):
        pass

    # ---- one episode -----------------------------------------------------
    def reset(self, ctx):
        self.live = fresh(os.path.join(ctx.work, "live"))
        self.ods = fresh(os.path.join(self.live, "ods"))
        self.dwd = os.path.join(self.live, "dwd")
        self.dws = os.path.join(self.live, "dws")
        copy_tree(os.path.join(self.base, "dwd0"), os.path.join(self.dwd, "customer"))

    def land(self, i):
        nd = os.path.join(self.base, "nights", str(i))
        for t in ("lineitem", "orders", "customer_upd"):
            src = os.path.join(nd, t)
            for sub in os.listdir(src):
                copy_tree(os.path.join(src, sub),
                          os.path.join(self.ods, f"{t}.parquet", sub))
        # the keyed snapshot store is one flat table that grows nightly
        kv = os.path.join(self.ods, "orders_kv.parquet")
        os.makedirs(kv, exist_ok=True)
        shutil.copy(os.path.join(nd, "orders_kv", f"n{i}", "part-00000.parquet"),
                    os.path.join(kv, f"n{i}.parquet"))

    def night(self, ctx, i):
        j, E, S = ctx.j, ctx.j.graft.ops.EtlOps, ctx.j.graft.sources.Sinks
        d = night_date(i)
        etl = ctx.j.seq(["etl_date"])
        self.land(i)

        def a():
            li = ctx.load(self.ods, "lineitem")
            audited = ctx.op("EtlOps.withAudit", lambda: E.withAudit(li, "dwd", "user1", CLOCK))
            latest = ctx.op("EtlOps.latestPartition", lambda: E.latestPartition(audited, "etl_date"))
            p = os.path.join(self.dwd, "fact_lineitem")
            ctx.sink("Sinks.appendPartitioned", lambda: S.appendPartitioned(latest, p, etl), p)

        def b():
            upd = ctx.load(self.ods, "customer_upd")
            ods = ctx.op("EtlOps.latestPartitionPruned",
                         lambda: E.latestPartitionPruned(upd, "etl_date").drop("etl_date"))
            p = os.path.join(self.dwd, "customer")
            prev_df = ctx.op("EtlOps.latestPartitionPruned", lambda: E.latestPartitionPruned(
                ctx.spark._jsparkSession.read().parquet(p), "etl_date").drop("etl_date"))
            merged = ctx.op("EtlOps.scdMerge", lambda: E.scdMerge(
                ods, prev_df, j.seq(["c_custkey"]), "modified_time",
                j.seq([j.col("c_custkey")]), "user1", CLOCK)
                .withColumn("etl_date", ctx.j.jvm.org.apache.spark.sql.functions.lit(d)))
            ctx.sink("Sinks.overwriteDynamicPartitions",
                     lambda: S.overwriteDynamicPartitions(merged, p, etl), p)

        def c():
            hive = ctx.op("EtlOps.latestPartitionPruned", lambda: E.latestPartitionPruned(
                ctx.load(self.ods, "orders"), "etl_date"))
            kv_all = ctx.load(self.ods, "orders_kv")
            kv = ctx.op("EtlOps.keyedSnapshotScan",
                        lambda: E.keyedSnapshotScan(kv_all, "rowkey", f".*{d}.*").drop("rowkey"))
            merged = ctx.op("EtlOps.coalesceMerge", lambda: E.coalesceMerge(hive, kv, "o_orderkey")
                            .withColumn("etl_date", ctx.j.jvm.org.apache.spark.sql.functions.lit(d)))
            p = os.path.join(self.dwd, "orders")
            ctx.sink("Sinks.appendPartitioned", lambda: S.appendPartitioned(merged, p, etl), p)

        def dd():
            read = ctx.spark._jsparkSession.read()
            fact = read.parquet(os.path.join(self.dwd, "orders"))
            cust = ctx.op("EtlOps.latestPartitionPruned", lambda: E.latestPartitionPruned(
                read.parquet(os.path.join(self.dwd, "customer")), "etl_date")
                .withColumnRenamed("c_custkey", "o_custkey"))
            nation = ctx.load(os.path.join(self.base, "dims"), "nation") \
                .withColumnRenamed("n_nationkey", "c_nationkey")
            region = ctx.load(os.path.join(self.base, "dims"), "region") \
                .withColumnRenamed("r_regionkey", "n_regionkey")
            T = ctx.j.jvm.scala.Tuple3
            dims = j.seq([
                T(cust, j.seq(["o_custkey"]), j.seq(["c_nationkey", "c_mktsegment"])),
                T(nation, j.seq(["c_nationkey"]), j.seq(["n_name", "n_regionkey"])),
                T(region, j.seq(["n_regionkey"]), j.seq(["r_name"]))])
            wide = ctx.op("EtlOps.denormalize", lambda: E.withAudit(
                E.denormalize(fact, dims), "dws", "user1", CLOCK))
            p = os.path.join(self.dws, "order_wide")
            ctx.sink("Sinks.overwriteAll",
                     lambda: S.overwriteAll(wide, p, j.seq(["r_name"])), p)

        for tag, fn in (("A", a), ("B", b), ("C", c), ("D", dd)):
            ctx.step(f"night{i}.{tag}", fn)

    def warmup(self, ctx):
        self.episode(ctx)

    def episode(self, ctx):
        self.reset(ctx)
        for i in range(1, NIGHTS + 1):
            self.night(ctx, i)

    # ---- correctness -------------------------------------------------------
    def check(self, ctx):
        """Final DWD, fact and DWS state against DuckDB over the landings."""
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        nb = os.path.join(self.base, "nights")

        def rd(path):
            return (f"read_parquet('{path}/**/*.parquet', hive_partitioning=true, "
                    f"hive_types_autocast=false)")

        dwd0 = rd(os.path.join(self.base, "dwd0"))
        cust_u = rd(os.path.join(nb, "*", "customer_upd"))
        cust_final = (f"SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, modified_time "
                      f"FROM (SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, modified_time FROM {dwd0} "
                      f"UNION ALL SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, modified_time FROM {cust_u}) "
                      f"QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY modified_time DESC) = 1")
        last = night_date(NIGHTS)
        got_cust = (f"SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, modified_time "
                    f"FROM {rd(os.path.join(self.dwd, 'customer'))} WHERE etl_date = '{last}'")
        fact_exp = (f"SELECT l_orderkey, l_linenumber, l_extendedprice, etl_date, "
                    f"'user1' AS u FROM {rd(os.path.join(nb, '*', 'lineitem'))}")
        fact_got = (f"SELECT l_orderkey, l_linenumber, l_extendedprice, etl_date, "
                    f"dwd_insert_user AS u FROM {rd(os.path.join(self.dwd, 'fact_lineitem'))}")
        nights = []
        for i in range(1, NIGHTS + 1):
            d = night_date(i)
            h = rd(os.path.join(nb, str(i), "orders"))
            kv = (f"(SELECT o_orderkey, o_orderstatus, o_totalprice FROM "
                  f"read_parquet('{nb}/*/orders_kv/*/*.parquet') "
                  f"WHERE regexp_matches(rowkey, '.*{d}.*'))")
            nights.append(
                f"SELECT coalesce(h.o_orderkey, k.o_orderkey) AS o_orderkey, "
                f"coalesce(h.o_orderstatus, k.o_orderstatus) AS o_orderstatus, "
                f"coalesce(h.o_totalprice, k.o_totalprice) AS o_totalprice, "
                f"h.o_custkey AS o_custkey, '{d}' AS etl_date "
                f"FROM {h} h FULL OUTER JOIN {kv} k ON h.o_orderkey = k.o_orderkey")
        orders_exp = " UNION ALL ".join(nights)
        orders_got = (f"SELECT o_orderkey, o_orderstatus, o_totalprice, o_custkey, etl_date "
                      f"FROM {rd(os.path.join(self.dwd, 'orders'))}")
        dims = os.path.join(self.base, "dims")
        wide_exp = (f"SELECT o.o_orderkey, o.etl_date, c.c_mktsegment, n.n_name, r.r_name "
                    f"FROM ({orders_exp}) o LEFT JOIN ({cust_final}) c ON o.o_custkey = c.c_custkey "
                    f"LEFT JOIN read_parquet('{dims}/nation.parquet/*.parquet') n "
                    f"ON c.c_nationkey = n.n_nationkey "
                    f"LEFT JOIN read_parquet('{dims}/region.parquet/*.parquet') r "
                    f"ON n.n_regionkey = r.r_regionkey")
        # Spark writes a null partition value as __HIVE_DEFAULT_PARTITION__
        wide_got = (f"SELECT o_orderkey, etl_date, c_mktsegment, n_name, "
                    f"nullif(r_name, '__HIVE_DEFAULT_PARTITION__') AS r_name "
                    f"FROM {rd(os.path.join(self.dws, 'order_wide'))}")
        for name, got, exp in (("dwd.customer", got_cust, cust_final),
                               ("dwd.fact_lineitem", fact_got, fact_exp),
                               ("dwd.orders", orders_got, orders_exp),
                               ("dws.order_wide", wide_got, wide_exp)):
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (({got}) EXCEPT ALL ({exp}))), "
                f"(SELECT count(*) FROM (({exp}) EXCEPT ALL ({got}))), "
                f"(SELECT count(*) FROM ({exp}))").fetchone()
            if diff[0] or diff[1] or not diff[2]:
                ctx.fail(f"check.{name}", f"{diff[0]} extra, {diff[1]} missing of {diff[2]} rows")
        con.close()
        return 4
