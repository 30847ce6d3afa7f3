#!/usr/bin/env python3
"""spark-graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is built from source first
(sbt, once per source digest). The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Each run also appends a full record to .bench_work/runs.jsonl.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import sparkenv  # noqa: E402
from harness import Context, Meter, fresh, step_stats  # noqa: E402
from trace import EventLog, Tracer, layer_metrics  # noqa: E402
from w_queries import QUERIES  # noqa: E402

WORKLOADS = ["warehouse_nightly", "stream_curate", "query_mix"]
SETUP_REPS = 3


def make(name):
    if name == "warehouse_nightly":
        from w_warehouse import Warehouse
        return Warehouse()
    if name == "stream_curate":
        from w_stream import StreamCurate
        return StreamCurate()
    if name == "query_mix":
        from w_queries import QueryMix
        return QueryMix()
    raise SystemExit(f"unknown workload {name}")


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def stop(spark):
    """Stop the session and wait for the py4j JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_pass(wl, ctx, meter, seconds):
    """Closed loop: whole episodes until `seconds` have passed, and at
    least the workload's `min_episodes`. The minimum keeps the episode
    count from following the speed of the first episode: a slow first
    episode would otherwise end the pass alone, unaveraged."""
    ctx.timing = True
    ctx.bytes_written = 0
    a = meter.sample()
    ep_walls = []
    while True:
        t = time.perf_counter()
        wl.episode(ctx)
        ep_walls.append(time.perf_counter() - t)
        if len(ep_walls) >= wl.min_episodes and time.perf_counter() - a["t"] >= seconds:
            break
    b = meter.sample()
    ctx.timing = False
    return a, b, ep_walls


def run_one(args, root):
    digest, build_s = sparkenv.ensure_built(root)
    rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "source_digest": digest,
           "git_commit": git_commit(root), "cores_used": sparkenv.CORES,
           "cores_host": os.cpu_count(), "load1_start": sparkenv.load1(),
           "build_s": build_s}
    base = os.path.join(root, ".bench_work")
    work = fresh(os.path.join(base, f"{args.workload}-{os.getpid()}"))
    evdir = os.path.join(work, "eventlog") if args.trace else None
    t_session = time.time()
    spark = sparkenv.start_session(root, work, evdir)
    try:
        session_s = time.time() - t_session + (t_session - T_START - build_s)
        j = sparkenv.Jvm(spark)
        tracer = Tracer(spark, False)
        ctx = Context(spark, j, tracer, work, args.seed)
        wl = make(args.workload)
        # generation is repeated and its median kept; the program-built
        # fixtures and the warm-up run once
        reps = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate(ctx, fresh(os.path.join(work, f"in{r}")))
            reps.append(time.perf_counter() - t)
            if r + 1 < SETUP_REPS:
                shutil.rmtree(os.path.join(work, f"in{r}"), ignore_errors=True)
        t = time.perf_counter()
        wl.prepare(ctx)
        prep_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(ctx)
        warm_s = time.perf_counter() - t
        rec.update(session_s=session_s, generate_reps_s=reps, prepare_s=prep_s,
                   warmup_s=warm_s)
        setup_s = session_s + statistics.median(reps) + prep_s + warm_s
        meter = Meter(j)
        tracer.enabled = bool(args.trace)
        with tracer.span("harness", "timed_pass") as root:
            a, b, ep_walls = timed_pass(wl, ctx, meter, args.seconds)
        tracer.enabled = False
        untraced_wall = None
        if args.trace:
            # one untraced episode after the traced pass: it runs warmer,
            # so the overhead it implies errs high, never low
            t = time.perf_counter()
            wl.episode(ctx)
            untraced_wall = time.perf_counter() - t
        t = time.perf_counter()
        n_checks = wl.check(ctx) or 1
        rec["check_s"] = time.perf_counter() - t
        rec["load1_end"] = sparkenv.load1()
        d = meter.delta(a, b)
        rec.update(jit_ms=d["jit_ms"], gc_ms=d["gc_ms"], codecache_mb=d["codecache_mb"],
                   episodes=len(ep_walls), episode_walls_s=ep_walls,
                   steps=[[n, round(s, 6), ok] for n, s, ok in ctx.steps],
                   failed_steps=ctx.failures)
        attempted = len(ctx.steps) + n_checks
        failed = len(ctx.failures)
        if args.trace:
            # every event so far is in the log once the listener bus drains
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            window = (root["start"], root["end"])
            progress = getattr(wl, "progress_in", lambda lo, hi: [])(*window)
            metrics = layer_metrics(tracer, EventLog(evdir), window, progress,
                                    d, untraced_wall, statistics.median(ep_walls),
                                    len(progress), sorted({f for _, f in QUERIES}))
            tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
            units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        else:
            p50, slowest = step_stats(ctx.steps)
            wall = d["wall_s"]
            n_ok = max(1, sum(1 for _, _, ok in ctx.steps if ok))
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": wl.input_rows * len(ep_walls) / wall,
                "step_p50_s": p50 if p50 is not None else float("nan"),
                "cpu_s": d["cpu_s"] / n_ok,
                "peak_rss_mb": meter.peak_rss_mb(),
                "write_amp": (ctx.bytes_written + d["shuffle_write_b"])
                / (wl.input_bytes * len(ep_walls)),
            }
            rec["failed_ratio"] = failed / attempted
            rec["step_max_s"] = slowest
            units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}}
        rec["metrics"] = out["metrics"]
        rec["run_wall_s"] = time.time() - T_START
        with open(os.path.join(base, "runs.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        for name in ctx.failures:
            print(f"[perfbench] FAILED {name}", file=sys.stderr)
        return out
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if args.workload == "all":
        merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                "--seed", str(args.seed), "--seconds", str(args.seconds),
                                "--trace", str(args.trace)], cwd=root, capture_output=True,
                               text=True)
            sys.stderr.write(p.stderr)
            if p.returncode != 0 or not p.stdout.strip():
                print(f"[perfbench] {w} did not finish", file=sys.stderr)
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            print(json.dumps({"workload": w, **res}))
            merged["correct"] &= res["correct"]
            merged["attempted"] += res["attempted"]
            merged["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                merged["metrics"][f"{w}.{k}"] = v
        print(json.dumps(merged))
        return 0
    try:
        out = run_one(args, root)
    except sparkenv.SetupError as e:
        print(f"[perfbench] cannot run: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
