#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify first
(sbt "runMain graft.Verify <sfDir> <outDir>"), then this script compares
each <outDir>/<name> parquet against oracle_sql.json run in DuckDB over
the same sfDir tables.

Compare semantics (mirroring the stated driver behavior): sort columns by
name, then row-wise compare after sorting rows by all columns; values
compared with a small float tolerance report plus an exact-hash verdict.
Each verdict line carries the seconds DuckDB spent on that oracle, and the
run ends with the five slowest oracles.

    python3 tools/verify_local.py --against <parentOut> <out>

compares two graft.Verify dumps instead, e.g. of a parent commit and of a
change. graft.Verify's row order is not stable between runs, so each
query's two parquet outputs are compared as `canon`-sorted frames (the
sort the oracle compare uses), with exact values. Prints one line per
query, `same`, `DIFFERS` (with the reason) or `MISSING` (dumped on one
side only), then a count line; exits 1 on any DIFFERS or MISSING.
"""
import json
import os
import sys
import time
import duckdb
import pandas as pd
import numpy as np

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints to int64, floats to float64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    secs = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
            t0 = time.perf_counter()
            exp = con.execute(sql).df()
            secs[name] = time.perf_counter() - t0
            dt = f"{secs[name]:.1f}s"
            g, e = canon(got), canon(exp)
            if list(g.columns) != list(e.columns):
                print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)} ({dt})")
                n_fail += 1
                continue
            if len(g) != len(e):
                print(f"FAIL {name}: rows {len(g)} != {len(e)} ({dt})")
                n_fail += 1
                continue
            diffs = []
            for c in g.columns:
                a, b = g[c], e[c]
                if pd.api.types.is_float_dtype(a):
                    eq = np.isclose(a.fillna(np.nan), b.fillna(np.nan),
                                    rtol=0, atol=0, equal_nan=True)
                    exact = eq.all()
                else:
                    exact = a.equals(b)
                if not exact:
                    diffs.append(c)
            if diffs:
                print(f"FAIL {name}: value mismatch in {diffs} ({dt})")
                for c in diffs[:2]:
                    mask = ~(g[c].fillna("§") == e[c].fillna("§")) if not pd.api.types.is_float_dtype(g[c]) \
                        else ~np.isclose(g[c], e[c], rtol=0, atol=0, equal_nan=True)
                    print("  got:", g.loc[mask, c].head(3).tolist(),
                          " exp:", e.loc[mask, c].head(3).tolist())
                n_fail += 1
            else:
                print(f"PASS {name} ({len(g)} rows, {dt})")
                n_pass += 1
        except Exception as ex:
            print(f"ERROR {name}: {str(ex)[:300]}")
            n_fail += 1
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    print("slowest oracles: " +
          ", ".join(f"{n} {t:.1f}s" for n, t in slowest))
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

def dump_names(out_dir: str) -> set:
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}

def compare_dumps(parent_dir: str, out_dir: str) -> int:
    """Per-query row-multiset compare of two Verify dumps."""
    names = dump_names(parent_dir) | dump_names(out_dir)
    counts = {"same": 0, "DIFFERS": 0, "MISSING": 0}
    for name in sorted(names):
        where = [d for d in (parent_dir, out_dir)
                 if not os.path.isdir(os.path.join(d, name))]
        if where:
            print(f"MISSING {name}: not in {where[0]}")
            counts["MISSING"] += 1
            continue
        try:
            p = canon(pd.read_parquet(f"{parent_dir}/{name}"))
            g = canon(pd.read_parquet(f"{out_dir}/{name}"))
            if list(p.columns) != list(g.columns):
                why = f"columns {list(p.columns)} -> {list(g.columns)}"
            elif len(p) != len(g):
                why = f"rows {len(p)} -> {len(g)}"
            else:
                cols = [c for c in p.columns if not p[c].equals(g[c])]
                why = f"values in {cols}" if cols else None
        except Exception as ex:
            why = str(ex)[:300]
        if why:
            print(f"DIFFERS {name}: {why}")
            counts["DIFFERS"] += 1
        else:
            print(f"same {name} ({len(g)} rows)")
            counts["same"] += 1
    print("== " + " / ".join(f"{n} {k}" for k, n in counts.items()) + " ==")
    return 1 if counts["DIFFERS"] or counts["MISSING"] else 0

def check_bands(bench_path: str, bands_path: str = "BANDS.json",
                tol=2.0) -> int:
    """Adjudicate a bench reading against the committed per-query bands
    (BANDS.json, built by tools/make_bands.py from same-code runs): a
    wall time above tol*hi is flagged as a REGRESSION candidate, inside
    [lo, tol*hi] is within band (contention/JIT envelope), below lo is
    just faster. A query present in BANDS.json but MISSING from the
    bench artifact is also flagged — a vanished query must not
    adjudicate as clean. Converts BASELINE.md's prose precedents into an
    automatic check the driver/judge can run on any BENCH artifact."""
    tol = float(tol)  # CLI args arrive as strings
    bench = json.load(open(bench_path))
    bands_doc = json.load(open(bands_path))
    bands = bands_doc["queries"]
    flagged, unknown, n_ok = [], [], 0
    ran = bench.get("queries", {})
    t_start = bench.get("queries_t_start_sec", {})
    for name, wall in sorted(ran.items()):
        if wall < 0:
            flagged.append((name, wall, None, "errored"))
            continue
        b = bands.get(name)
        if b is None:
            unknown.append(name)
            continue
        if wall > tol * b["hi"]:
            flagged.append((name, wall, b, f"above {tol}x band hi"))
        else:
            n_ok += 1
    for name in sorted(set(bands) - set(ran)):
        flagged.append((name, float("nan"), bands[name],
                        "missing from bench artifact"))
    for name, wall, b, why in flagged:
        hint = f" band [{b['lo']}, {b['hi']}] (n={b['n']})" if b else ""
        at = f" at t+{t_start[name]:.1f}s" if name in t_start else ""
        print(f"OUT-OF-BAND {name}: {wall}s {why}{hint}{at}")
    # a flagged WINDOW's wall-clock span correlates with the run's load
    # trajectory (contention) where alphabetical adjacency can't
    spans = sorted(t_start[n] for n, _, _, _ in flagged if n in t_start)
    if len(spans) >= 2:
        print(f"flagged window spans t+{spans[0]:.1f}s .. "
              f"t+{spans[-1]:.1f}s of the run")
    if unknown:
        print(f"NO-BAND ({len(unknown)}): {', '.join(unknown)}")
    # headline total: adjudicate the CLEAN total (flagged rows replaced
    # by their in-run second readings) against the committed band
    total_bad = False
    if "total_lo" in bands_doc and "total_hi" in bands_doc:
        tv = bench.get("value_clean", bench.get("value"))
        lo, hi = bands_doc["total_lo"], bands_doc["total_hi"]
        which = "value_clean" if "value_clean" in bench else "value"
        if tv is not None and tv > tol * hi:
            total_bad = True
            print(f"OUT-OF-BAND TOTAL: {which} {tv}s above {tol}x "
                  f"band hi (total band [{lo}, {hi}])")
        else:
            print(f"total OK: {which} {tv}s vs band [{lo}, {hi}] "
                  f"(tol {tol}x)")
    print(f"== bands: {n_ok} in-band / {len(flagged)} flagged / "
          f"{len(unknown)} unbanded (tol {tol}x) ==")
    return 1 if (flagged or total_bad) else 0

if __name__ == "__main__":
    if sys.argv[1] == "--bands":
        sys.exit(check_bands(*sys.argv[2:]))
    if sys.argv[1] == "--against":
        sys.exit(compare_dumps(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
