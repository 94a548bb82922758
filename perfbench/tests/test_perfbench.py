"""Tests of the benchmark's own logic (no Spark needed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402
import workloads  # noqa: E402


def fake_output(workload):
    """A harness output with the shape Main.scala writes."""
    plan = workloads.plan(workload, 7)
    ops, t = [], 1000
    for unit in plan["units"]:
        for op in unit:
            ops.append({"id": op["id"], "kind": op["kind"], "name": op["name"],
                        "module": "Relational" if op["kind"] == "gate"
                        else op["kind"], "ms": 10.0 + op["id"],
                        "start_ms": t, "end_ms": t + 9, "rows": 3, "ok": True,
                        "error": None})
            t += 10
    spans = [["op", 0, 100, -1, 1], ["ops.build", 10, 30, 0, 1],
             ["ops.action", 30, 90, 0, 1]]
    cycles = [[0, "/w/c0"]] if workload == "etl-store" else []
    etl = {"/w/c0": {"store_bytes": 100, "store_live_rows": 10}} \
        if cycles else {}
    timed = {"wall_s": 2.0, "ops": ops, "bytes_written": 500,
             "compact_files": [[4, 12]] if cycles else [], "cycles": cycles,
             "spans": spans,
             "counters": {"per_op": {"1": {"jobs": 2, "task_ms": 40.0,
                                           "job_wall_ms": 50.0,
                                           "scan_rows": 30}},
                          "queries": [[1000, 1.0, 2.0, 3.0, 1]]}}
    return {"workload": workload, "timed": timed, "untraced": timed,
            "setup_s": 12.5, "peak_rss_mb": 1800.0,
            "inputs": {"0": 1000} if cycles else {},
            "checks": {"sql": [{"id": o["id"], "refused": True}
                               for o in ops if o["kind"] == "sql"][:1],
                       "etl": etl}}


class StreamTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(json.dumps(workloads.plan(w, 3)),
                             json.dumps(workloads.plan(w, 3)), w)

    def test_other_seed_other_stream(self):
        for w in workloads.WORKLOADS:
            self.assertNotEqual(json.dumps(workloads.plan(w, 3)),
                                json.dumps(workloads.plan(w, 4)), w)

    def test_setup_same_for_every_seed(self):
        for w in workloads.WORKLOADS:
            def warm(seed):
                return [[{k: v for k, v in o.items() if k != "id"}
                         for o in unit]
                        for unit in workloads.plan(w, seed)["warmup"]]
            for seed in range(1, 10):
                self.assertEqual(warm(0), warm(seed), w)

    def test_sql_unit_mix_is_fixed(self):
        for seed in range(20):
            unit = workloads.plan("sql-interactive", seed)["units"][0]
            self.assertEqual(sorted(o["name"] for o in unit
                                    if o["kind"] == "gate"),
                             sorted(workloads.SQL_GATES))
            self.assertEqual(sum(1 for o in unit if o.get("unsafe")),
                             workloads.UNSAFE_PER_UNIT)
            tables = [o["table"] for o in unit if "request" in o]
            self.assertEqual(sorted(tables), sorted(
                workloads.DEMO_TABLES * workloads.REQUESTS_PER_TABLE))

    def test_requests_name_only_their_table(self):
        # the planner takes the first catalog table named in the request
        for t in workloads.DEMO_TABLES:
            for r in workloads.REQUESTS:
                text = r.format(t=t)
                self.assertEqual([x for x in workloads.DEMO_TABLES
                                  if x in text], [t], text)

    def test_op_ids_unique(self):
        for w in workloads.WORKLOADS:
            p = workloads.plan(w, 5)
            ids = [o["id"] for u in p["warmup"] + p["units"] for o in u]
            self.assertEqual(len(ids), len(set(ids)), w)


class ArithmeticTest(unittest.TestCase):
    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 0.5), 50)
        self.assertEqual(report.percentile(xs, 0.9), 90)
        self.assertEqual(report.percentile([5.0], 0.9), 5.0)
        self.assertEqual(report.percentile([3, 1, 2], 0.5), 2)
        # ten samples lie beyond p90 of a hundred
        self.assertEqual(sum(1 for x in xs if x > report.percentile(xs, 0.9)),
                         10)

    def test_self_time_subtracts_children(self):
        spans = [["op", 0, 100, -1, 1], ["a", 10, 40, 0, 1],
                 ["b", 50, 90, 0, 1], ["c", 20, 30, 1, 1]]
        self.assertEqual(report.self_times(spans), [30, 20, 40, 10])

    def test_self_time_overlapping_children_counted_once(self):
        spans = [["op", 0, 100, -1, 1], ["a", 10, 60, 0, 1],
                 ["b", 40, 80, 0, 1]]
        self.assertEqual(report.self_times(spans)[0], 30)

    def test_layer_self_sums_to_root_duration(self):
        spans = [["op", 0, 100, -1, 1], ["a", 10, 40, 0, 1],
                 ["b", 50, 90, 0, 1], ["c", 20, 30, 1, 1]]
        total = sum(t for t, _ in report.layer_self_ns(spans).values())
        self.assertEqual(total, 100)


class OutputTest(unittest.TestCase):
    def test_every_end_to_end_metric_on_every_workload(self):
        for w in workloads.WORKLOADS:
            out = fake_output(w)
            line = report.result_line(True, len(out["timed"]["ops"]), 0,
                                      report.end_to_end(out),
                                      report.END_TO_END)
            got = report.parse_result("diagnostics\n" + line)
            self.assertEqual(set(got["metrics"]), set(report.END_TO_END), w)
            for name, m in got["metrics"].items():
                self.assertEqual(m["unit"], report.END_TO_END[name])
                self.assertGreater(m["value"], 0, f"{w} {name}")

    def test_every_per_layer_metric_on_every_workload(self):
        for w in workloads.WORKLOADS:
            out = fake_output(w)
            line = report.result_line(True, 1, 0, report.per_layer(out, 0, 4),
                                      report.PER_LAYER)
            got = report.parse_result(line)
            self.assertEqual(set(got["metrics"]), set(report.PER_LAYER), w)

    def test_benchmark_json_names_match_report(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         report.PER_LAYER)
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             set(workloads.WORKLOADS))

    def test_parser_rejects_extra_keys(self):
        with self.assertRaises(ValueError):
            report.parse_result(json.dumps({"correct": True, "attempted": 1,
                                            "failed": 0, "metrics": {},
                                            "extra": 1}))


if __name__ == "__main__":
    unittest.main()
