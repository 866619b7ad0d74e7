#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py            # check tests and smoke runs
    python3 perfbench/selftest.py CheckTest  # check tests only (seconds)

``CheckTest`` shows that each correctness check rejects a perturbed
result: one swapped doc_id, one score off by 1 ulp, one missing row, and
for the docs table a duplicate, stale or missing URL.  ``close_topk``,
which compares results before and after compaction, accepts a score off
by 1 ulp and rejects the other perturbations.  ``SmokeTest`` runs
every workload on tiny inputs, untraced and traced, and requires a correct
run whose metrics are exactly those BENCHMARK.json declares (about a
minute and a half per run).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.trace import self_times  # noqa: E402


def _rows():
    return [{"doc_id": f"d{i}", "score": 10.0 - i * 0.5} for i in range(5)]


class CheckTest(unittest.TestCase):
    def test_identical_results_pass(self):
        self.assertEqual(checks.same_topk(_rows(), _rows(), "q"), [])

    def test_tied_rows_in_either_order_pass(self):
        got = [{"doc_id": "a", "score": 1.0}, {"doc_id": "b", "score": 1.0}]
        self.assertEqual(checks.same_topk(got, got[::-1], "q"), [])

    def test_swapped_doc_id_fails(self):
        got = _rows()
        got[1]["doc_id"], got[2]["doc_id"] = got[2]["doc_id"], got[1]["doc_id"]
        self.assertTrue(checks.same_topk(got, _rows(), "q"))

    def test_score_off_by_one_ulp_fails(self):
        got = _rows()
        got[3]["score"] = math.nextafter(got[3]["score"], math.inf)
        self.assertTrue(checks.same_topk(got, _rows(), "q"))

    def test_missing_row_fails(self):
        self.assertTrue(checks.same_topk(_rows()[:-1], _rows(), "q"))

    def test_close_topk_accepts_rounding(self):
        got = _rows()
        got[3]["score"] = math.nextafter(got[3]["score"], math.inf)
        self.assertEqual(checks.close_topk(got, _rows(), "q"), [])

    def test_close_topk_accepts_rounding_across_cutoff(self):
        got = _rows()
        got[-1] = {"doc_id": "e", "score": math.nextafter(got[-1]["score"], 0.0)}
        self.assertEqual(checks.close_topk(got, _rows(), "q"), [])

    def test_close_topk_swapped_doc_id_fails(self):
        got = _rows()
        got[1]["doc_id"], got[2]["doc_id"] = got[2]["doc_id"], got[1]["doc_id"]
        self.assertTrue(checks.close_topk(got, _rows(), "q"))

    def test_close_topk_score_off_fails(self):
        got = _rows()
        got[3]["score"] *= 1 + 1e-9
        self.assertTrue(checks.close_topk(got, _rows(), "q"))

    def test_close_topk_missing_row_fails(self):
        self.assertTrue(checks.close_topk(_rows()[:-1], _rows(), "q"))

    def test_close_topk_other_doc_above_cutoff_fails(self):
        got = _rows()
        got[0] = {"doc_id": "z", "score": got[0]["score"]}
        self.assertTrue(checks.close_topk(got, _rows(), "q"))

    def test_split_batch_groups_by_qid(self):
        rows = [{"qid": 1, "doc_id": "x", "score": 1.0},
                {"qid": 0, "doc_id": "y", "score": 2.0}]
        self.assertEqual(checks.split_batch(rows, 3), [[rows[1]], [rows[0]], []])

    def _docs(self):
        t = dt.datetime(2025, 1, 1)
        expected = {"u1": t, "u2": t + dt.timedelta(days=400)}
        return [{"url": u, "warc_ts": ts} for u, ts in expected.items()], expected

    def test_newest_version_passes(self):
        rows, expected = self._docs()
        self.assertEqual(checks.newest_version_per_url(rows, expected), [])

    def test_duplicate_docs_row_fails(self):
        rows, expected = self._docs()
        self.assertTrue(checks.newest_version_per_url(rows + rows[:1], expected))

    def test_stale_version_fails(self):
        rows, expected = self._docs()
        rows[1] = {"url": "u2", "warc_ts": dt.datetime(2025, 1, 1)}
        self.assertTrue(checks.newest_version_per_url(rows, expected))

    def test_missing_url_fails(self):
        rows, expected = self._docs()
        self.assertTrue(checks.newest_version_per_url(rows[:1], expected))

    def test_self_time_excludes_children(self):
        spans = [{"id": 2, "parent": 1, "name": "child", "start": 1.0, "end": 3.0},
                 {"id": 1, "parent": None, "name": "root", "start": 0.0, "end": 4.0}]
        self.assertEqual(self_times(spans), {"child": 2.0, "root": 2.0})


class SmokeTest(unittest.TestCase):
    def _run(self, workload: str, trace: int) -> dict:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--small"],
            capture_output=True, text=True, timeout=300)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"], proc.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreater(out["attempted"], 0)
        declared = {m["name"]: m["unit"]
                    for m in bench["per_layer" if trace else "end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, declared)
        return out

    def test_serve(self):
        self._run("serve", 0)

    def test_serve_traced(self):
        self._run("serve", 1)

    def test_update(self):
        self._run("update", 0)

    def test_update_traced(self):
        self._run("update", 1)


if __name__ == "__main__":
    unittest.main()
