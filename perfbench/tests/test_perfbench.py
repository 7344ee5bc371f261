"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The generator tests take seconds. The harness tests run short battery
workloads through run.py (building the program on first use) and take a
few minutes.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_bronze  # noqa: E402


def load(path):
    with open(path) as f:
        return json.load(f)


def run(*args):
    """Runs run.py and returns its parsed last stdout line."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench"))
        self.n = 0

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, seed, rows=3000):
        self.n += 1
        d = os.path.join(self.tmp.name, str(self.n))
        truth = gen_bronze.write(seed, rows, d)
        with open(f"{d}/bronze/part-00000.parquet", "rb") as f:
            return f.read(), truth, pq.read_table(f"{d}/bronze/part-00000.parquet").to_pandas()

    def test_same_seed_same_bytes(self):
        a, ta, _ = self.write(7)
        b, tb, _ = self.write(7)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.write(7)[0], self.write(8)[0])

    def test_shape(self):
        _, truth, t = self.write(3, rows=20000)
        self.assertEqual(len(t), truth["bronzeCount"])
        dup_share = 1 - t.review_id.nunique() / len(t)
        self.assertTrue(0.03 < dup_share < 0.07, dup_share)
        # Re-collected copies come later than the first copy.
        first = t.groupby("review_id").collected_at.transform("min")
        self.assertEqual(((t.collected_at > first).sum()), len(t) - t.review_id.nunique())
        # place_id -> (bank_name, branch_name) is functional.
        per_place = t.fillna({"bank_name": "Unknown"}).groupby("place_id")[["bank_name", "branch_name"]].nunique()
        self.assertEqual(int(per_place.max().max()), 1)
        self.assertGreater(t.rating.isna().mean(), 0.005)
        self.assertGreater(t.bank_name.isna().mean(), 0.0)
        words = t.text.str.split().str.len().fillna(0)
        for lo, hi in ((1, 20), (20, 50), (50, 10_000)):
            self.assertGreater(((words >= lo) & (words < hi)).mean(), 0.05, (lo, hi))
        short = t.text.str.strip().str.len() < 10
        self.assertTrue(0.01 < short.mean() < 0.08, short.mean())
        years = pd.to_datetime(t.time, unit="s").dt.year
        self.assertEqual((years.min(), years.max()), (2020, 2025))
        self.assertEqual(t.bank_name.nunique(), 9)


class HarnessTest(unittest.TestCase):
    """Short runs of both workloads."""

    def test_throwing_query_counts_and_is_not_faster(self):
        args = ["--workload", "query_tail", "--seed", "1", "--seconds", "3"]
        ok = run(*args, "--trace", "0")
        victim = load(os.path.join(BENCH, "workloads.json"))["workloads"]["query_tail"]["queries"][0]
        bad = run(*args, "--trace", "0", "--inject-fail", victim)
        self.assertTrue(ok["correct"])
        self.assertEqual(ok["failed"], 0)
        self.assertFalse(bad["correct"])
        self.assertGreater(bad["failed"], 0)
        self.assertGreater(bad["failed"] / bad["attempted"], ok["failed"] / ok["attempted"])
        # The two runs are separate JVMs, so only a margin larger than their
        # noise is compared: each failed call is charged the 3 s budget.
        self.assertGreaterEqual(bad["metrics"]["wall_s"]["value"], ok["metrics"]["wall_s"]["value"])
        # The victim also fails in every set-up pass, where it is charged
        # the same way.
        self.assertGreaterEqual(bad["metrics"]["setup_s"]["value"], ok["metrics"]["setup_s"]["value"])

    def test_traced_run_accounts_for_wall_time(self):
        out = run("--workload", "query_tail", "--seed", "2", "--seconds", "3", "--trace", "1")
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertTrue(out["correct"])
        art = load(os.path.join(ROOT, ".perfbench", "artifacts", "query_tail_seed2_trace.json"))
        # Driver gap + job-busy time = wall time, per traced pass and per
        # query (busy and gaps are computed independently).
        traced = [p for p in art["passes"] if p["traced"]]
        self.assertTrue(traced)
        for p in traced:
            self.assertEqual(p["gap_ms"] + p["busy_ms"], p["window_ms"])
            self.assertGreater(p["busy_ms"], 0)
            self.assertGreater(p["gap_ms"], 0)
        for r in art["rows"]:
            self.assertAlmostEqual(r["gap_ms"] + r["busy_ms"], r["window_ms"], delta=1e-6, msg=r["query"])
            # The attributed parts of a call add up to its wall time.
            self.assertLess(abs(r["parts_total_ms"] - r["wall_total_ms"]),
                            0.1 * r["wall_total_ms"], r["query"])
        self.assertGreater(m["spark.jobs"], 0)
        self.assertGreater(m["trace_overhead"], 0)

    def test_warehouse_sinks_account_for_the_build(self):
        out = run("--workload", "warehouse_build", "--seed", "3", "--seconds", "3", "--trace", "1")
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertTrue(out["correct"])
        parts = sum(v for k, v in m.items() if k.startswith("domain.sink.")) + m["domain.validate_s"]
        self.assertLess(abs(parts - m["spark.wall_s"]), 0.1 * m["spark.wall_s"])
        for sink in ("dim_bank", "fact_reviews", "mart_geographic", "run_stats"):
            self.assertGreater(m[f"domain.sink.{sink}_s"], 0, sink)
        self.assertGreater(m["domain.gold_mb"], 0)
        self.assertGreater(m["domain.silver_mb"], 0)


if __name__ == "__main__":
    unittest.main()
