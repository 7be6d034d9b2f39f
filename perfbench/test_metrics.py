"""Self-tests of the harness arithmetic: `python3 -m unittest discover perfbench`."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import metrics  # noqa: E402


def op(label, t0, t1, ok=True, problem="", h=None, cat="read"):
    r = {"kind": "op", "phase": "untraced", "label": label, "cat": cat, "t0": t0, "t1": t1,
         "ok": ok, "problem": problem}
    if h is not None:
        r["hash"] = h
    return r


class PercentileTest(unittest.TestCase):
    def test_median_reports_its_sample_count(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(metrics.percentile([], 50), (None, 0))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.percentile([float(i) for i in range(99)], 90), (None, 99))
        value, n = metrics.percentile([float(i) for i in range(1, 101)], 90)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(value, 90.1)


class FailureCountingTest(unittest.TestCase):
    def test_throwing_and_wrong_ops_both_count(self):
        reference = {"q": ("h1", True), "bad": ("h2", False)}
        ops = [op("q", 0, 1, h="h1"),                 # correct
               op("q", 1, 2, ok=False),               # threw
               op("q", 2, 3, h="h9"),                 # result differs from the verified one
               op("bad", 3, 4, h="h2"),               # reference failed its oracle
               op("etl", 4, 5, problem="count 3 != 4"),  # harness check failed
               op("etl", 5, 6)]                       # harness check passed
        self.assertEqual([metrics.failed(o, reference) for o in ops],
                         [False, True, True, True, True, False])

    def test_end_to_end_counts_failures_against_attempts(self):
        records = [
            {"kind": "setup", "ready_s": 30.0, "fixture_s": [9.0, 2.0, 3.0]},
            {"kind": "phase", "phase": "untraced", "t0": 0.0, "t1": 4000.0, "passes": 1,
             "steal_frac": 0.1},
            {"kind": "jvm", "vmhwm_mb": 100.0},
            op("a", 0, 1000), op("b", 1000, 2000, ok=False), op("c", 2000, 4000, cat="write")]
        e2e, extra = metrics.end_to_end(records, {})
        self.assertEqual(e2e["setup_s"], (19.0, "s"))
        self.assertAlmostEqual(e2e["latency_gmean_s"][0], 2 ** (1 / 3))
        self.assertEqual(extra["latency_p50_s"], 1.0)
        self.assertEqual(e2e["throughput_ops_per_s"], (0.75, "1/s"))
        self.assertAlmostEqual(extra["failed_frac"], 1 / 3)
        self.assertEqual(extra["samples"], 3)


class LedgerTest(unittest.TestCase):
    def test_self_time_counts_overlapping_children_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3)
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(-5, 20)]), 0)

    def test_layers_partition_the_wall_time(self):
        traced = {"t0": 0.0, "t1": 100.0,
                  "jobs": [[10, 40, [[12, 20], [25, 38]]], [60, 70, [[60, 70]]]],
                  "executions": [{"phases": {"analysis": [0, 5], "planning": [5, 12]},
                                  "files": 1, "reflection": False}],
                  "spans": [["sources.resolve", 0, 50], ["sources.resolve", 80, 90]]}
        led = metrics.ledger(traced)
        self.assertEqual(led, {"wall": 100.0, "jobs": 40, "catalyst_outside_jobs": 10,
                               "graft_driver": 20, "residual": 30.0})
        self.assertEqual(led["jobs"] + led["catalyst_outside_jobs"] + led["graft_driver"]
                         + led["residual"], led["wall"])
        self.assertEqual(metrics.stage_gap(traced), 30 - 21)

    def test_every_layer_metric_is_reported_per_label(self):
        def traced(label, t0, t1, cat="write", **kw):
            return {"kind": "op", "phase": "traced", "pass": 1, "label": label, "cat": cat,
                    "t0": t0, "t1": t1, "ok": True, "gc_ms": 0, "jobs": [[t0, t1, []]],
                    "sums": {"run_ms": 4.0 * (t1 - t0)}, "executions": [],
                    "spans": [["sources." + label, t0, t1]], "counts": {}, **kw}
        records = [
            {"kind": "phase", "phase": "traced", "heap_peak_mb": 1.0},
            dict(traced("append", 0, 10), phase="untraced"),
            dict(traced("sql_merge", 10, 30), phase="untraced"),
            dict(traced("append", 100, 114), phase="after"),
            dict(traced("sql_merge", 114, 134), phase="after"),
            traced("append", 30, 41),
            traced("sql_merge", 41, 61, ok=False,
                   error="graft.sources.SnapshotTable$CommitConflictException: v3")]
        workload, by_label = metrics.layers(records, cores=4)
        self.assertEqual(set(by_label), {"append", "sql_merge"})
        per_label = set(metrics.LAYER_UNITS) - metrics.RUN_LEVEL
        for d in by_label.values():
            self.assertLessEqual(per_label, set(d))
        self.assertEqual(by_label["append"]["sources.append_ms"], 11)
        self.assertEqual(by_label["append"]["sources.merge_ms"], 0)
        self.assertAlmostEqual(by_label["append"]["trace.overhead_frac"], 11 / 12 - 1)
        self.assertEqual(by_label["sql_merge"]["sources.conflict_retries"], 1)
        self.assertEqual(workload["sources.conflict_retries"], 1)
        self.assertAlmostEqual(workload["executor.busy_frac"], 1.0)
        self.assertAlmostEqual(workload["trace.overhead_frac"], 31 / 32 - 1)


class PairCheckTest(unittest.TestCase):
    def test_families_find_planted_pairs_and_reject_a_wrong_one(self):
        import pandas as pd
        base = "a b c d e f g h i j k l"
        docs = pd.DataFrame({"doc_id": [1, 2, 3],
                             "text": ["z y x w v u t s r q p o", base, base + " dup"]})
        fam = check.Families(docs, {"3": 2}, k=1)
        self.assertEqual(fam.expected_pairs(), {(2, 3): round(10 / 11, 6)})
        good = pd.DataFrame({"id_a": [2], "id_b": [3], "jaccard": [round(10 / 11, 6)]})
        self.assertEqual(check.check_pairs(fam, good), "")
        self.assertIn("missed", check.check_pairs(fam, good.iloc[:0]))
        wrong = pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3], "jaccard": [0.9, round(10 / 11, 6)]})
        self.assertIn("exact Jaccard", check.check_pairs(fam, wrong))


if __name__ == "__main__":
    unittest.main()
