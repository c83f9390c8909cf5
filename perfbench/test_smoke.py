#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/test_smoke.py        # from the repository root

For every workload it runs one small benchmark run and asserts that every
metric prints by name with its unit (and sample count, on the workload's own
line), that the outputs pass their checks, and that each check trips once an
output is deliberately corrupted.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

SPEC = json.load(open("BENCHMARK.json"))
OWN = {"elt_daily": ["elt_day_s", "elt_rows_per_s"],
       "query_mix": ["query_p50_ms", "mix_pass_s", "corpus_pass_s", "corpus_docs_per_s"]}
COMMON = ["setup_s", "failed_ratio", "peak_rss_mb"]


def run(workload, trace, work):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace), "--small",
                        "--keep", work], capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    return lines[0], lines[-1]


def outputs(work):
    """Every output file the checks read."""
    return sorted(glob.glob(f"{work}/out/*/*/*.parquet") + glob.glob(f"{work}/hist/*/*.parquet")
                  + glob.glob(f"{work}/qout/*/*.parquet") + glob.glob(f"{work}/cout/*/*/*.parquet"))


def nonempty(path):
    return pq.read_metadata(path).num_rows > 0


def drop_first_row(path):
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def duplicate_rows(path):
    t = pq.read_table(path)
    pq.write_table(pa.concat_tables([t, t]), path)


class Smoke(unittest.TestCase):
    def setUp(self):
        self.work = tempfile.mkdtemp(dir=os.path.join(".bench_build"), prefix="smoke-")

    def tearDown(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def metrics_print(self, workload, trace):
        own, last = run(workload, trace, self.work)
        self.assertTrue(last["correct"])
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(last["failed"], 0)
        for name in OWN[workload] + COMMON:
            m = own["metrics"][name]
            self.assertEqual(set(m), {"value", "unit", "n"}, name)
            self.assertGreaterEqual(m["n"], 1, name)
        listed = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in listed})
        for m in listed:
            self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        return own

    def corrupted(self, check, files, corrupt):
        self.assertTrue(files)
        for f in files:
            backup = f + ".bak"
            shutil.copy(f, backup)
            corrupt(f)
            self.assertTrue(check(), f"check passed on corrupted {f}")
            shutil.move(backup, f)
        self.assertEqual(check(), [])

    def test_elt_daily(self):
        self.metrics_print("elt_daily", 1)
        days = sorted(os.listdir(f"{self.work}/out"))
        check = lambda: checks.check_elt(self.work, days)  # noqa: E731
        files = [f for f in outputs(self.work) if "/out/" in f and nonempty(f)]
        stages = {f.split("/")[-2]: f for f in reversed(files)}
        self.assertEqual(sorted(stages), sorted(s for s, _ in checks.ELT_STAGES))
        self.corrupted(check, sorted(stages.values()), drop_first_row)
        hist = [f for f in outputs(self.work) if "/hist/" in f]
        self.corrupted(check, hist[:1], duplicate_rows)

    def test_query_mix(self):
        self.metrics_print("query_mix", 0)
        names = sorted(os.listdir(f"{self.work}/qout"))
        passes = sorted(os.listdir(f"{self.work}/cout"))
        files = [f for f in outputs(self.work) if "/qout/" in f and nonempty(f)]
        self.corrupted(lambda: checks.check_query(self.work, names), files[:3], drop_first_row)
        files = [f for f in outputs(self.work) if "/d23/" in f]
        self.corrupted(lambda: checks.check_corpus(self.work, passes), files, drop_first_row)


if __name__ == "__main__":
    unittest.main(verbosity=2)
