"""Per-run context: timed steps, spans, sinks and the run record."""
import math
import os
import shutil
import statistics
import time
import traceback

from sparkenv import proc_cpu_s, proc_hwm_mb


def data_files(path):
    """{file: (bytes, mtime)} of the data files under `path`."""
    out = {}
    for root, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_stats(path):
    """(files, bytes) of the data files under `path`."""
    files = data_files(path)
    return len(files), sum(size for size, _ in files.values())


def bytes_written(path, before):
    """Bytes of the data files under `path` that are new or rewritten
    since the `data_files` snapshot `before`."""
    return sum(size for f, (size, mtime) in data_files(path).items()
               if before.get(f) != (size, mtime))


NATIVE_TERMS = ["forbidden", "secret token"]


class Context:
    def __init__(self, spark, jvm, tracer, work, seed):
        self.spark = spark
        self.j = jvm
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.steps = []          # (name, seconds, ok)
        self.failures = []       # names of failed or incorrect steps
        self.bytes_written = 0
        self.timing = False

    # ---- layer calls ---------------------------------------------------
    def span(self, layer, name):
        return self.tracer.span(layer, name)

    def load(self, base, name):
        """`graft.Tables.load` of `<base>/<name>.parquet`."""
        with self.span("tables", f"Tables.load.{name}"):
            return self.j.graft.Tables.load(self.j.jss, base, name)

    def op(self, name, fn):
        """A lazy EtlOps call. The traced run materializes its output to
        the noop sink inside the span, so the layer gets its own
        execution time."""
        with self.span("ops", name):
            jdf = fn()
            if self.tracer.enabled:
                self.j.df(jdf).write.format("noop").mode("overwrite").save()
            return jdf

    def sink(self, name, fn, path):
        """A call that writes under `path`; what it writes counts toward
        write_amp."""
        before = data_files(path)
        with self.span("sinks", name):
            fn()
        self.bytes_written += bytes_written(path, before)

    # ---- steps ---------------------------------------------------------
    def step(self, name, fn):
        """Run one timed step. A failure is recorded by name; the step's
        latency is kept out of the latency figures."""
        t0 = time.perf_counter()
        ok = True
        try:
            with self.span("harness", f"step.{name}"):
                fn()
        except Exception:  # noqa: BLE001 - any program failure is a failed step
            ok = False
            self.failures.append(name)
            traceback.print_exc()
        dt = time.perf_counter() - t0
        if self.timing:
            self.steps.append((name, dt, ok))
        return ok

    def fail(self, name, why):
        self.failures.append(f"{name}: {why}")

    def native(self, base):
        """The native Catalyst expressions of the curation path, projected
        in isolation to the noop sink over `<base>/documents.parquet`."""
        j = self.j
        N = j.graft.functions.native.NativeFns
        F = j.jvm.org.apache.spark.sql.functions
        t = F.col("text")
        d = self.load(base, "documents")
        proj = d.select(j.seq([
            N.minhashSig(N.shingleHashes(t, 5)).alias("sig"),
            N.simhashNative(t).alias("simhash"),
            N.ahoFoldCounts(t, j.seq(NATIVE_TERMS)).alias("hits")]))
        with self.span("native", "native.project"):
            j.df(proj).write.format("noop").mode("overwrite").save()


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def copy_tree(src, dst):
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


class Meter:
    """Process CPU, peak RSS and JVM counters across the timed pass."""

    def __init__(self, jvm):
        self.j = jvm
        self.pid = jvm.pid()

    def sample(self):
        c = self.j.jvm_counters()
        c["cpu_s"] = proc_cpu_s(self.pid) + sum(os.times()[:2])
        c["t"] = time.perf_counter()
        c["wall"] = time.time()
        sc = self.j.spark._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        c["shuffle_write_b"] = sum(int(e.totalShuffleWrite())
                                   for e in self.j.iterate(store.executorList(True)))
        return c

    def delta(self, a, b):
        return {"cpu_s": b["cpu_s"] - a["cpu_s"], "wall_s": b["t"] - a["t"],
                "gc_ms": b["gc_ms"] - a["gc_ms"], "jit_ms": b["jit_ms"] - a["jit_ms"],
                "codecache_mb": b["codecache_mb"],
                "shuffle_write_b": b["shuffle_write_b"] - a["shuffle_write_b"]}

    def peak_rss_mb(self):
        return proc_hwm_mb(self.pid)


def step_stats(steps):
    """(typical, slowest) latency of the steps that succeeded. Typical is
    the geometric mean, over the distinct steps of an episode, of each
    step's median latency: unlike the median of all latencies it does not
    jump between steps of different cost as their order shifts."""
    kinds = {}
    for name, dt, ok in steps:
        if ok:
            kinds.setdefault(name, []).append(dt)
    if not kinds:
        return None, None
    logs = [math.log(statistics.median(v)) for v in kinds.values()]
    return math.exp(sum(logs) / len(logs)), max(max(v) for v in kinds.values())
