"""Spans, Spark job attribution and per-layer metrics for the traced run.

A span is (id, name, layer, parent, start, end, run). Every call the
harness makes into one of the program's layers is wrapped in a span, and
every Spark job submitted inside it carries the span id as the local
property `perfbench.span`. After the run the Spark event log (enabled
only in the traced run) is read back: jobs map to spans through that
property, stages to jobs, SQL executions to jobs through
`spark.sql.execution.id`. A span's self time is its wall minus its child
spans and minus the jobs it submitted (their union, since jobs from
concurrent threads overlap); the jobs' time is booked to the `spark`
engine under the span's layer.
"""
import contextlib
import glob
import json
import os
import statistics
import time
import uuid

SPAN_PROP = "perfbench.span"



class Tracer:
    def __init__(self, spark, enabled):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.run = uuid.uuid4().hex[:12]
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, layer, name):
        if not self.enabled:
            yield None
            return
        sid = f"s{len(self.spans)}"
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "run": self.run, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROP, sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, self._stack[-1]["id"] if self._stack else None)

    def dump(self, path):
        with open(path, "w") as f:
            json.dump({"run": self.run, "spans": self.spans}, f)


# ---------------------------------------------------------------- event log

def _union(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, clipped."""
    iv = sorted((max(a, lo) if lo is not None else a,
                 min(b, hi) if hi is not None else b) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, directory):
        self.jobs = {}        # job id -> dict(span, exec_id, start, end, stages)
        self.stages = {}      # stage id -> dict(tasks, acc{name: value}, accid{id: value})
        self.execs = {}       # execution id -> plan root
        self.plan_acc = {}  # accumulator id -> value
        # rolling logs (Spark 4's default) are a directory of event files
        files = sorted(p for p in glob.glob(os.path.join(directory, "**", "*"), recursive=True)
                       if os.path.isfile(p))
        for path in files:
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue
                    self._event(ev)
        self.acc = {}
        for st in self.stages.values():
            for k, v in st["accid"].items():
                self.acc[k] = self.acc.get(k, 0) + v
        for k, v in self.plan_acc.items():
            self.acc[k] = self.acc.get(k, 0) + v

    def _event(self, ev):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "span": props.get(SPAN_PROP),
                "exec": int(eid) if eid not in (None, "") else None,
                "start": ev["Submission Time"] / 1000.0, "end": None,
                "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            j = self.jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            accid, acc = {}, {}
            for a in info.get("Accumulables", []):
                try:
                    v = float(a.get("Value", 0))
                except (TypeError, ValueError):
                    continue
                accid[a["ID"]] = v
                acc[a.get("Name", "")] = acc.get(a.get("Name", ""), 0) + v
            self.stages[info["Stage ID"]] = {
                "tasks": info.get("Number of Tasks", 0), "acc": acc,
                "accid": accid}
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.execs[ev["executionId"]] = ev.get("sparkPlanInfo", {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.execs[ev["executionId"]] = ev.get("sparkPlanInfo", {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for k, v in ev.get("accumUpdates", []):
                self.plan_acc[k] = self.plan_acc.get(k, 0) + v

    def plan_metric(self, exec_ids, node_pred, metric):
        """Sum of SQL metric `metric` over plan nodes matching `node_pred`."""
        total = 0.0
        for e in exec_ids:
            for n in _walk(self.execs.get(e, {})):
                if node_pred(n.get("nodeName", "")):
                    for m in n.get("metrics", []):
                        if m.get("name") == metric:
                            total += self.acc.get(m.get("accumulatorId"), 0)
        return total

    def count_nodes(self, exec_ids, node_pred):
        return sum(1 for e in exec_ids for n in _walk(self.execs.get(e, {}))
                   if node_pred(n.get("nodeName", "")))


def _is_scan(n):
    return n.startswith("Scan ") or n.startswith("FileScan")


def _is_write(n):
    return "InsertIntoHadoopFsRelationCommand" in n or n == "WriteFiles" \
        or n.startswith("Execute ") and "Write" in n


def layer_metrics(tracer, log, window, progress, jvm_delta, wall_untraced,
                  wall_traced, sink_batches, families):
    """Every per-layer metric of BENCHMARK.json from one traced run.

    `window` is (start, end) of the traced timed pass; `progress` the
    streaming progress records; `sink_batches` the number of micro-batches
    whose write executions are counted for `streaming.sink_*`;
    `families` the operator families of the query mix.
    """
    lo, hi = window
    spans = [s for s in tracer.spans if s["end"] is not None
             and s["start"] >= lo - 1e-6 and s["end"] <= hi + 1e-6]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs = [j for j in log.jobs.values() if j["end"] is not None
            and j["start"] >= lo - 0.5 and j["end"] <= hi + 0.5]
    # A job is booked to the span it was tagged with when that span was
    # open at submission; otherwise (jobs from pooled JVM threads carry a
    # stale tag) to the innermost span open at submission. The harness
    # drives the program from one thread, so open spans form one stack.
    by_id = {s["id"]: s for s in spans}
    span_jobs = {}
    for j in jobs:
        s = by_id.get(j["span"])
        if s is None or not s["start"] <= j["start"] <= s["end"]:
            open_ = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            s = max(open_, key=lambda x: x["start"]) if open_ else None
        j["span"] = s["id"] if s else None
        span_jobs.setdefault(j["span"], []).append(j)

    def job_iv(sid):
        return [(j["start"], j["end"]) for j in span_jobs.get(sid, [])]

    def self_time(s):
        iv = [(c["start"], c["end"]) for c in kids.get(s["id"], [])] + job_iv(s["id"])
        return (s["end"] - s["start"]) - _union(iv, s["start"], s["end"])

    def exec_time(s):
        """Job time of `s` not under a child span."""
        child = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        iv = job_iv(s["id"])
        return _union(iv, s["start"], s["end"]) - _union(
            [(max(a, c0), min(b, c1)) for a, b in iv for c0, c1 in child],
            s["start"], s["end"])

    def sel(pred):
        return [s for s in spans if pred(s)]

    def jobs_of(ss):
        ids = {s["id"] for s in ss}
        return [j for j in jobs if j["span"] in ids]

    def execs_of(ss):
        return sorted({j["exec"] for j in jobs_of(ss) if j["exec"] is not None})

    def stage_sum(js, name):
        return sum(log.stages.get(st, {}).get("acc", {}).get(name, 0)
                   for j in js for st in j["stages"])

    def sum_exec(ss):
        return sum(exec_time(s) for s in ss)

    def sum_self(ss):
        return sum(self_time(s) for s in ss)

    MB = 2.0 ** 20
    m = {}
    tables = sel(lambda s: s["layer"] == "tables")
    m["tables.load_s"] = sum(s["end"] - s["start"] for s in tables)
    all_execs = sorted({j["exec"] for j in jobs if j["exec"] is not None})
    m["tables.scan_mb"] = log.plan_metric(all_execs, _is_scan, "size of files read") / MB
    m["tables.scan_files"] = log.plan_metric(all_execs, _is_scan, "number of files read")

    ops = sel(lambda s: s["layer"] == "ops")
    m["ops.driver_s"] = sum_self(ops)
    m["ops.exec_s"] = sum_exec(ops)
    m["ops.shuffle_write_mb"] = stage_sum(jobs_of(ops), "internal.metrics.shuffle.write.bytesWritten") / MB
    ops_ex = execs_of(ops)
    m["ops.rows_in"] = log.plan_metric(ops_ex, _is_scan, "number of output rows")
    m["ops.rows_out"] = sum(
        next((log.acc.get(x.get("accumulatorId"), 0)
              for n in _walk(log.execs.get(e, {}))
              for x in n.get("metrics", []) if x.get("name") == "number of output rows"), 0)
        for e in ops_ex)

    sinks = sel(lambda s: s["layer"] == "sinks")
    sink_ex = execs_of(sinks)
    m["sinks.write_s"] = sum_exec(sinks)
    m["sinks.commit_s"] = sum_self(sinks)
    m["sinks.files_written"] = log.plan_metric(sink_ex, _is_write, "number of written files")
    m["sinks.bytes_written_mb"] = log.plan_metric(sink_ex, _is_write, "written output") / MB

    def named(prefix):
        return sel(lambda s: s["name"].startswith(prefix))

    # operator families, as exercised by the query mix
    for fam in families:
        m[f"{fam}.exec_s"] = sum_exec(named(f"query.{fam}."))
    m["native.exec_s"] = sum_exec(sel(lambda s: s["layer"] == "native"))

    m.update(streaming_metrics(progress))
    stream = sel(lambda s: s["layer"] == "streaming")
    stream_ex = execs_of(stream)
    writes = [e for e in stream_ex if log.count_nodes([e], _is_write)]
    nb = max(sink_batches, 1)
    m["streaming.sink_writes_per_batch"] = len(writes) / nb if sink_batches else 0.0
    wjobs = [j for j in jobs_of(stream) if j["exec"] in set(writes)]
    m["streaming.sink_write_s"] = (_union([(j["start"], j["end"]) for j in wjobs]) / nb
                                   if sink_batches else 0.0)

    qs = sel(lambda s: s["layer"] == "queries")
    q_ex = execs_of(qs)
    nq = max(len(qs), 1)
    m["queries.driver_s"] = sum_self(qs)
    m["queries.exec_s"] = sum_exec(qs)
    m["queries.exchanges"] = log.count_nodes(q_ex, lambda n: "Exchange" in n) / nq if qs else 0.0
    m["queries.stages"] = sum(len(j["stages"]) for j in jobs_of(qs)) / nq if qs else 0.0

    m["spark.jobs"] = len(jobs)
    stage_ids = {st for j in jobs for st in j["stages"] if st in log.stages}
    m["spark.stages"] = len(stage_ids)
    m["spark.tasks"] = sum(log.stages[st]["tasks"] for st in stage_ids)

    def tot(name):
        return sum(log.stages[st]["acc"].get(name, 0) for st in stage_ids)

    run_s = tot("internal.metrics.executorRunTime") / 1000.0
    m["spark.task_run_s"] = run_s
    m["spark.task_cpu_s"] = tot("internal.metrics.executorCpuTime") / 1e9
    m["spark.shuffle_read_mb"] = (tot("internal.metrics.shuffle.read.remoteBytesRead")
                                  + tot("internal.metrics.shuffle.read.localBytesRead")) / MB
    m["spark.shuffle_write_mb"] = tot("internal.metrics.shuffle.write.bytesWritten") / MB
    m["spark.spill_mb"] = (tot("internal.metrics.memoryBytesSpilled")
                           + tot("internal.metrics.diskBytesSpilled")) / MB
    m["spark.core_util"] = run_s / ((hi - lo) * 4) if hi > lo else 0.0

    m["jvm.gc_s"] = jvm_delta["gc_ms"] / 1000.0
    m["jvm.jit_s"] = jvm_delta["jit_ms"] / 1000.0
    m["jvm.codecache_mb"] = jvm_delta["codecache_mb"]

    # self times (spans + the jobs booked to the engine) against the wall
    # of the timed pass: 1.0 when every second is attributed exactly once
    m["trace.self_sum_ratio"] = ((sum_self(spans) + sum_exec(spans)) / (hi - lo)
                                 if hi > lo else 0.0)
    m["trace.overhead_s"] = wall_traced - wall_untraced
    m["trace.overhead_ratio"] = (wall_traced / wall_untraced - 1.0) if wall_untraced else 0.0
    return m


STREAM_PHASES = {"streaming.trigger_s": "triggerExecution",
                 "streaming.add_batch_s": "addBatch",
                 "streaming.wal_commit_s": "walCommit",
                 "streaming.commit_offsets_s": "commitOffsets",
                 "streaming.latest_offset_s": "latestOffset",
                 "streaming.query_planning_s": "queryPlanning"}


def streaming_metrics(progress):
    """Median per-batch phase times from StreamingQueryProgress.durationMs."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    m = {"streaming.batches": float(len(data))}
    for name, key in STREAM_PHASES.items():
        vals = [p["durationMs"].get(key, 0) / 1000.0 for p in data]
        m[name] = statistics.median(vals) if vals else 0.0
    return m
