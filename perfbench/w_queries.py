"""query_mix: a fixed list of batch SparkEntry.queries, each to the noop sink.

The list spans the Graph, Similarity/ANN, Sketches, robust-stats and
Analytics families and includes rows whose plans `count()` prunes
(x_dup_longest). The seed sets the input values, the
number of part files per table and the query order of every round. The
warm-up round collects every query once and compares it with
`SparkEntry.oracleSql` in DuckDB, outside the timed pass; a timed round
runs every query once to the noop sink, and each query is one step.
"""
import os

import duckdb

import gen
from harness import dir_stats
from oracle import compare

# (query, family); family names the operator layer the query exercises
QUERIES = [
    ("q_region_revenue", "analytics"),
    ("q_mad", "robust"),
    ("q_hll_merge", "sketches"),
    ("x_triangles", "graph"),
    ("x_cosine_topk", "similarity"),
    ("x_dup_longest", "dedup"),
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SIZES = {"cust": 300, "supp": 20, "part": 400, "orders": 2000, "events": 3000,
         "users": 100, "docs": 80, "vecs": 300}


class QueryMix:
    name = "query_mix"
    min_episodes = 1

    def generate(self, ctx, base):
        s, seed = SIZES, ctx.seed
        r = gen.rng_for(seed, "layout")
        tabs = gen.dims(seed, s["cust"], s["supp"], s["part"])
        tabs["orders"], tabs["lineitem"] = gen.orders_lineitem(
            seed, s["orders"], s["cust"], s["supp"], s["part"])
        tabs["events"] = gen.events(seed, s["events"], s["users"])
        tabs["documents"], _ = gen.documents(seed, s["docs"], exact_rate=0.05,
                                             near_rate=0.05, excerpt_rate=0.05)
        tabs["embeddings"] = gen.embeddings(seed, s["vecs"])
        self.input_rows = 0
        for name in TABLES:
            t = tabs[name]
            files = int(r.integers(1, 5)) if t.num_rows > 1000 else 1
            gen.write(t, os.path.join(base, f"{name}.parquet"), files)
            self.input_rows += t.num_rows
        self.base = base
        self.input_bytes = dir_stats(base)[1]
        self.rng = gen.rng_for(seed, "query-order")
        self.family = dict(QUERIES)

    def frame(self, ctx, name):
        """The query's DataFrame, as the timed step writes it."""
        return ctx.j.graft.SparkEntry.queries().apply(name).apply(ctx.j.jss, self.base)

    def run(self, ctx, name):
        with ctx.span("queries", f"query.{self.family.get(name, 'other')}.{name}"):
            ctx.j.df(self.frame(ctx, name)).write.format("noop").mode("overwrite").save()

    def prepare(self, ctx):
        pass

    def warmup(self, ctx):
        """Collect every query once and check it against its oracle."""
        self.problems = []
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.base}/{t}.parquet/*.parquet')")
        oracles = ctx.j.graft.SparkEntry.oracleSql()
        queries = ctx.j.graft.SparkEntry.queries()
        for name, _ in QUERIES:
            try:
                got = ctx.j.df(queries.apply(name).apply(ctx.j.jss, self.base)).toPandas()
                why = compare(got, con.execute(oracles.apply(name)).df())
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                why = f"{type(e).__name__}: {str(e)[:200]}"
            if why:
                self.problems.append((name, why))
        con.close()

    def episode(self, ctx):
        order = [QUERIES[i][0] for i in self.rng.permutation(len(QUERIES))]
        for name in order:
            ctx.step(name, lambda n=name: self.run(ctx, n))
        if ctx.tracer.enabled:
            ctx.native(self.base)

    def check(self, ctx):
        for name, why in self.problems:
            ctx.fail(f"check.{name}", why)
        return len(QUERIES)
