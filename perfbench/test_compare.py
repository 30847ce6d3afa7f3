"""Tests of the A/B compare tool on synthetic runs.

    python3 -m unittest discover -s perfbench -p 'test_compare.py'
"""
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "step_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.1}]}


def runs(center, noise, n=10, seed=0, key="step_p50_s"):
    r = random.Random(seed)
    return [(s, {key: center * (1 + r.uniform(-noise, noise))}) for s in range(n)]


def one(parent, change, key="step_p50_s"):
    rows = compare.compare({"w": parent}, {"w": change}, SPEC)
    return next(r for w, name, *_, r in rows if name == key)["verdict"]


class CompareTest(unittest.TestCase):
    def test_same_code_is_no_worse(self):
        self.assertEqual(one(runs(1.0, 0.02, seed=1), runs(1.0, 0.02, seed=2)), "no worse")

    def test_clear_speedup_is_improved(self):
        self.assertEqual(one(runs(1.0, 0.02, seed=1), runs(0.8, 0.02, seed=2)), "improved")

    def test_slowdown_beyond_bound_is_worse(self):
        self.assertEqual(one(runs(1.0, 0.02, seed=1), runs(1.3, 0.02, seed=2)), "worse")

    def test_slowdown_within_bound_is_no_worse(self):
        self.assertEqual(one(runs(1.0, 0.02, seed=1), runs(1.05, 0.02, seed=2)), "no worse")

    def test_wide_spread_is_unresolved(self):
        self.assertEqual(one(runs(1.0, 0.4, seed=1), runs(1.05, 0.4, seed=2)), "unresolved")

    def test_higher_is_better_direction(self):
        par = runs(100.0, 0.02, seed=1, key="rows_per_s")
        self.assertEqual(one(par, runs(130.0, 0.02, seed=2, key="rows_per_s"),
                             key="rows_per_s"), "improved")
        self.assertEqual(one(par, runs(70.0, 0.02, seed=2, key="rows_per_s"),
                             key="rows_per_s"), "worse")

    def test_pairs_by_seed(self):
        par = [(3, {"step_p50_s": 1.0}), (4, {"step_p50_s": 2.0})]
        chg = [(4, {"step_p50_s": 1.9}), (3, {"step_p50_s": 0.9})]
        self.assertEqual(compare.pairs(par, chg),
                         [({"step_p50_s": 1.0}, {"step_p50_s": 0.9}),
                          ({"step_p50_s": 2.0}, {"step_p50_s": 1.9})])

    def test_cli_reads_run_records(self):
        with tempfile.TemporaryDirectory() as d:
            for side, center in (("parent", 1.0), ("change", 1.5)):
                with open(os.path.join(d, f"{side}.jsonl"), "w") as f:
                    for s, v in runs(center, 0.01, seed=len(side)):
                        f.write(json.dumps({"workload": "w", "seed": s, "trace": 0, "metrics": {
                            k: {"value": x, "unit": "s"} for k, x in v.items()}}) + "\n")
                    # traced runs carry per-layer metrics and are skipped
                    f.write(json.dumps({"workload": "w", "seed": 0, "trace": 1,
                                        "metrics": {"step_p50_s": {"value": 99.0}}}) + "\n")
            spec = os.path.join(d, "spec.json")
            with open(spec, "w") as f:
                json.dump(SPEC, f)
            code = compare.main([os.path.join(d, "parent.jsonl"),
                                 os.path.join(d, "change.jsonl"), "--spec", spec])
            self.assertEqual(code, 1)


if __name__ == "__main__":
    unittest.main()
