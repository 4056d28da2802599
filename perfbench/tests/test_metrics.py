"""Metric arithmetic and output checks of the benchmark.

Run: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import run  # noqa: E402


def op(i, key, start, end, ok=True, rows=1, h="aa", kind="query", split=None):
    return {"id": f"q{i}", "kind": kind, "key": key, "start_us": start,
            "split_us": split if split is not None else start, "end_us": end,
            "ok": ok, "error": None if ok else "java.lang.RuntimeException: boom",
            "rows": rows if ok else -1, "hash": h if ok else None}


class NoOracle:
    verdicts = {}

    def compare(self, *a):
        raise AssertionError("no oracle comparison expected")


class P90Rule(unittest.TestCase):
    def test_omitted_below_100_samples(self):
        self.assertIsNone(M.p90([1.0] * 99))
        self.assertIsNone(M.p90([]))

    def test_nearest_rank_from_100_samples(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(M.p90(xs), 90.0)
        self.assertEqual(M.p90(list(reversed(xs)) + [1000.0]), 91.0)


class FailedOperations(unittest.TestCase):
    wl = {"rows_only": {"k_rows": 7}}

    def checked(self, ops):
        raw = {"ops": ops, "oracle_sql": {}, "dumped": []}
        run.check_query_ops(raw, self.wl, NoOracle())
        return raw["ops"]

    def test_throwing_key_adds_no_sample_and_counts_as_failed(self):
        ops = self.checked([op(0, "k_rows", 0, 1_000_000, rows=7),
                            op(1, "k_rows", 2_000_000, 2_500_000, ok=False),
                            op(2, "k_rows", 3_000_000, 5_000_000, rows=7)])
        self.assertEqual(M.latencies(ops, "query"), [1.0, 2.0])
        self.assertEqual(M.failed_share(ops), (1, 3, 1 / 3))
        self.assertTrue(ops[1]["verdict"].startswith("fail: java.lang.RuntimeException"))

    def test_wrong_row_count_fails_the_check(self):
        ops = self.checked([op(0, "k_rows", 0, 1_000_000, rows=6)])
        self.assertEqual(M.latencies(ops, "query"), [])
        self.assertEqual(M.failed_share(ops)[0], 1)

    def test_pass_is_sum_of_per_key_medians_over_successes(self):
        ops = [dict(o, verdict="pass") for o in
               (op(0, "a", 0, 1_000_000), op(1, "a", 0, 3_000_000), op(2, "a", 0, 2_000_000),
                op(3, "b", 0, 500_000))]
        ops.append(dict(op(4, "b", 0, 9_000_000), verdict="fail: x"))
        self.assertAlmostEqual(M.pass_seconds(ops), 2.5)


class IngestChecks(unittest.TestCase):
    dims_idle = {"loaded": 0, "rejected": 0, "files": [], "evolved": []}
    plan = {"inflight_ticks": [1],
            "ticks": [{"expect": {"metrics": {"loaded": 10, "rejected": 1,
                                              "files": ["b000.csv"], "evolved": []},
                                  "dims": dims_idle}},
                      {"expect": {"metrics": {"loaded": 10, "rejected": 1,
                                              "files": ["b001.csv"], "evolved": []},
                                  "dims": dims_idle}}]}

    def tick(self, loaded, archived=True, i=0, dims_failed=None, rejected=1):
        f = f"b{i:03d}.csv"
        reports = [{"table": "metrics", "files": [f], "loaded": loaded,
                    "rejected": rejected, "evolved": [], "failed": None}]
        if dims_failed:
            reports.insert(0, {"table": "dims", "files": [], "loaded": 0, "rejected": 0,
                               "evolved": [], "failed": dims_failed})
        return {"id": f"t{i}", "kind": "tick", "key": f"tick{i}", "ok": True, "error": None,
                "reports": reports,
                "upload": [] if archived else [f"metrics/{f}"],
                "archive": [f"metrics/{f}"] if archived else []}

    def checked(self, *ops):
        raw = {"ops": list(ops)}
        run.check_ingest_ops(raw, self.plan)
        return raw["ops"]

    def verdict(self, o):
        return self.checked(o)[0]["verdict"]

    def audit(self, got_n):
        return {"id": "audit", "kind": "audit", "key": "audit", "ok": True, "error": None,
                "audit": {"metrics": [got_n, 5]}, "expected": {"metrics": [20, 6]}}

    def test_expected_report_passes(self):
        ops = self.checked(self.tick(10))
        self.assertEqual(ops[0]["verdict"], "pass")
        self.assertTrue(run.correct(ops))

    def test_extra_rows_fail(self):
        self.assertIn("loaded 13 != expected 10", self.verdict(self.tick(13)))

    def test_unarchived_input_fails(self):
        self.assertIn("not archived", self.verdict(self.tick(10, archived=False)))

    def test_known_defects_fail_but_keep_correct(self):
        ops = self.checked(self.tick(10, dims_failed="[PATH_NOT_FOUND] Path does not exist"),
                           self.tick(17, i=1, rejected=2), self.audit(27))
        self.assertEqual([o["known"] for o in ops],
                         [["manifest_only"], ["part_glob"], ["part_glob"]])
        self.assertEqual(M.failed_share(ops)[0], 3)
        self.assertEqual(M.latencies(ops, "tick"), [])
        self.assertTrue(run.correct(ops))

    def test_unexpected_failures_make_correct_false(self):
        # too many rows on a tick with nothing in flight
        self.assertFalse(run.correct(self.checked(self.tick(13))))
        # too few rows on the tick with a batch in flight
        self.assertFalse(run.correct(self.checked(self.tick(9, i=1))))
        # another failure of the dims table
        self.assertFalse(run.correct(self.checked(self.tick(10, dims_failed="disk full"))))
        # a lake that does not hold the double-loaded rows exactly
        ops = self.checked(self.tick(17, i=1), self.audit(28))
        self.assertEqual(ops[1]["known"], None)
        self.assertFalse(run.correct(ops))
        # a failed query is never known
        q = [op(0, "k_rows", 0, 1_000_000, ok=False)]
        run.check_query_ops({"ops": q, "oracle_sql": {}, "dumped": []},
                            {"rows_only": {"k_rows": 7}}, NoOracle())
        self.assertFalse(run.correct(q))

    def test_jdbc(self):
        jdbc = {"id": "jdbc", "kind": "jdbc", "key": "jdbc", "ok": True, "error": None,
                "check": {"DIMS": {"landed": [2, 9], "read_back": [2, 9]}}}
        self.assertEqual(self.verdict(jdbc), "pass")
        jdbc["check"]["DIMS"]["read_back"] = [1, 9]
        self.assertIn("read-back", self.verdict(jdbc))


class SpanSelfTime(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(M.union_us([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(M.union_us([]), 0)
        self.assertEqual(M.union_us([(5, 5), (7, 3)]), 0)

    def test_self_time_subtracts_children_not_grandchildren(self):
        spans = [
            {"id": 1, "parent": None, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 30},
            {"id": 3, "parent": 1, "start_us": 20, "end_us": 50},
            {"id": 4, "parent": 3, "start_us": 25, "end_us": 45},
        ]
        self.assertEqual(M.self_times(spans), {1: 60, 2: 20, 3: 10, 4: 20})

    def test_spans_of_a_query(self):
        o = dict(op(0, "k", 1_000_000, 2_000_000, split=1_200_000), verdict="pass")
        records = {
            "jobs": [{"id": 7, "op": "q0", "phase": "exec", "start_ms": 1300, "end_ms": 1900,
                      "ok": True, "stage_ids": [3], "sql_details": ""}],
            "stages": [{"job": 7, "id": 3, "attempt": 0, "name": "collect", "details": "",
                        "tasks": 4, "start_ms": 1400, "end_ms": 1800, "input_bytes": 0,
                        "input_records": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0, "run_ms": 1000,
                        "task_ms": [250, 250, 250, 250]}],
            "phases": [{"name": "optimization", "start_ms": 1200, "end_ms": 1250,
                        "func": "collect"}],
            "scans": [],
        }
        spans = M.build_spans([o], records)
        self.assertEqual({s["trace"] for s in spans}, {"q0"})
        self.assertEqual(M.layer_self_ms(spans), {
            "query": 0.0, "construct": 200.0, "collect": 800 - 50 - 600.0,
            "catalyst.optimization": 50.0, "job": 200.0, "stage": 400.0})
        layers = M.per_layer([o], records, 4, {})
        self.assertEqual(layers["exec.ms"], 600.0)
        self.assertEqual(layers["exec.busy_share"], 1000 / (600 * 4))
        self.assertEqual(layers["tables.construct_ms"], 200.0)
        self.assertEqual(layers["ingest.parse_ms"], 0.0)


if __name__ == "__main__":
    unittest.main()
