"""stream_curate: StreamingOps.continuousCurate drains a backlog of small
feed files, one file per trigger.

The fixtures are a maintained MinHash signature table and a winnow
(quote) table over a seeded corpus, plus a blocklist. Each feed file
holds fresh documents, exact copies, near copies and excerpts of corpus
documents, and documents that carry a blocked term. One episode copies
the fixtures fresh and drains the whole backlog; each micro-batch
(trigger start to commit, from StreamingQueryProgress) is one step.
"""
import datetime as dt
import json
import os
import time
import traceback

import duckdb
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import gen
from harness import NATIVE_TERMS, bytes_written, copy_tree, data_files, dir_stats, fresh
from oracle import compare

N_CORPUS = 300
FILES = 2
PER_FILE_NEW, PER_FILE_EXACT, PER_FILE_NEAR, PER_FILE_EXCERPT = 40, 12, 12, 12
BLOCKLIST = NATIVE_TERMS
BLOCKED_TEXTS = ["spark forbidden data line merge table value stream batch",
                 "customer secret token row key query scan join filter"]
K = 5
ORACLE_DOCS = 40
ORACLE_QUERY = "x_stream_curate_quotes"


class Progress(StreamingQueryListener):
    def __init__(self):
        self.items = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.items.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamCurate:
    name = "stream_curate"
    min_episodes = 1

    def generate(self, ctx, base):
        corpus, _ = gen.documents(ctx.seed, N_CORPUS, tag="stream-corpus")
        cdir = os.path.join(base, "corpus")
        gen.write(corpus, os.path.join(cdir, "documents.parquet"))
        ids, texts = corpus["doc_id"].to_pylist(), corpus["text"].to_pylist()
        self.planted = {"exact": [], "extra": []}
        self.feed_ids = []
        fd = fresh(os.path.join(base, "feed"))
        for f in range(FILES):
            t, planted = gen.derived(ctx.seed, f"feed{f}", ids, texts, PER_FILE_NEW,
                                     PER_FILE_EXACT, PER_FILE_NEAR, PER_FILE_EXCERPT,
                                     id0=10_000_000 + 1000 * f, extra=BLOCKED_TEXTS)
            p = os.path.join(fd, f"f{f:03d}.parquet")
            pq.write_table(t, p)
            os.utime(p, (1_000_000_000 + 60 * f, 1_000_000_000 + 60 * f))
            self.planted["exact"] += planted["exact"]
            self.planted["extra"] += planted["extra"]
            self.feed_ids += t["doc_id"].to_pylist()
        odocs, _ = gen.documents(ctx.seed, ORACLE_DOCS, tag="stream-oracle")
        gen.write(odocs, os.path.join(base, "oracle", "documents.parquet"))
        self.base = base
        self.input_rows = len(self.feed_ids)
        self.input_bytes = dir_stats(os.path.join(base, "feed"))[1]

    def prepare(self, ctx):
        """The maintained tables, built by the program."""
        j = ctx.j
        d = ctx.load(os.path.join(self.base, "corpus"), "documents") \
            .select(j.seq([j.col("doc_id"), j.col("text")]))
        sig, fp = os.path.join(self.base, "sigs"), os.path.join(self.base, "fps")
        j.graft.operators.Dedup.writeSignatureTable(d, "text", "doc_id", sig, K)
        j.graft.operators.Corpus.writeWinnowTable(d, "text", "doc_id", fp, K, 4)
        self.listener = Progress()
        ctx.spark.streams.addListener(self.listener)

    def reset(self, ctx):
        self.live = fresh(os.path.join(ctx.work, "live"))
        for t in ("sigs", "fps"):
            copy_tree(os.path.join(self.base, t), os.path.join(self.live, t))

    def drain(self, ctx):
        """Drain the whole backlog once."""
        j = ctx.j
        self.reset(ctx)
        sig, fp = os.path.join(self.live, "sigs"), os.path.join(self.live, "fps")
        self.admitted = os.path.join(self.live, "admitted")
        fdir = os.path.join(self.base, "feed")
        schema = ctx.spark.read.parquet(fdir).schema
        src = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(fdir)
        bus = ctx.spark._jsc.sc().listenerBus()
        # progress of earlier queries lands before this drain's first record
        bus.waitUntilEmpty()
        n0 = len(self.listener.items)
        t0 = time.perf_counter()
        ok = True
        try:
            with ctx.span("harness", "step.drain"):
                before = data_files(self.live)
                with ctx.span("streaming", "StreamingOps.continuousCurate"):
                    j.graft.streaming.StreamingOps.continuousCurate(
                        src._jdf, sig, self.admitted, "text", "doc_id", K, 0.5,
                        os.path.join(self.live, "ckpt"), j.some(4), fp, 8000, 50,
                        j.seq(BLOCKLIST), 1, True)
                ctx.bytes_written += bytes_written(self.live, before)
        except Exception:  # noqa: BLE001 - a failed drain is a failed step
            ok = False
            traceback.print_exc()
        wall = time.perf_counter() - t0
        bus.waitUntilEmpty()
        batches = [p for p in self.listener.items[n0:] if p.get("numInputRows", 0) > 0]
        if not ok or len(batches) != FILES:
            ctx.failures.append("drain")
            if ctx.timing:
                ctx.steps.append(("drain", wall, False))
            return
        if ctx.timing:
            for p in batches:
                ctx.steps.append((f"batch{p['batchId']}",
                                  p["durationMs"]["triggerExecution"] / 1000.0, True))

    def warmup(self, ctx):
        """The x_stream_curate_quotes lane (continuousCurate over its own
        signature and winnow tables) on a small seeded corpus, checked
        against its DuckDB oracle: it warms the curate path and is the
        lane-level correctness check."""
        odir = os.path.join(self.base, "oracle")
        try:
            got = ctx.j.df(ctx.j.graft.SparkEntry.queries().apply(ORACLE_QUERY)
                           .apply(ctx.j.jss, odir)).toPandas()
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{odir}/documents.parquet/*.parquet')")
            exp = con.execute(ctx.j.graft.SparkEntry.oracleSql().apply(ORACLE_QUERY)).df()
            con.close()
            self.oracle_problem = compare(got, exp)
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            self.oracle_problem = f"{type(e).__name__}: {str(e)[:200]}"

    def episode(self, ctx):
        self.drain(ctx)
        if ctx.tracer.enabled:
            ctx.native(os.path.join(self.base, "corpus"))

    def progress_in(self, lo, hi):
        """Progress records of the batches triggered inside [lo, hi]."""
        def start(p):
            return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        return [p for p in self.listener.items if lo <= start(p) <= hi]

    # ---- correctness -------------------------------------------------------
    def check(self, ctx):
        adm = pq.read_table(self.admitted).column("doc_id").to_pylist()
        feed = set(self.feed_ids)
        # admitted + rejected = rows_in, where rejected = feed - admitted,
        # holds exactly when every admitted row is a feed row, once
        if len(adm) != len(set(adm)) or not set(adm) <= feed:
            ctx.fail("check.admitted", "admitted rows are not a subset of the feed, once each")
        if any(b in set(adm) for b, _ in self.planted["exact"]):
            ctx.fail("check.exact", "a planted exact copy was admitted")
        if any(b in set(adm) for b in self.planted["extra"]):
            ctx.fail("check.blocklist", "a document with a blocked term was admitted")
        if self.oracle_problem:
            ctx.fail(f"check.{ORACLE_QUERY}", self.oracle_problem)
        return 4
