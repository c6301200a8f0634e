"""Tests of the benchmark's own code. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The seed test builds the JVM half first if it is not built yet.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

MS = metrics.MS


def span(id, name, start_ms, end_ms, parent=0, **attrs):
    return {"id": id, "parent": parent, "name": name, "start": int(start_ms * MS),
            "end": int(end_ms * MS), "attrs": attrs}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 80)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([7.0], 75), 7.0)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 75), 3)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (2, 3)]), 15)
        self.assertEqual(metrics.union_length([(0, 10), (10, 12)]), 12)

    def test_union_clips_to_the_window(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 30)], 0, 10), 7)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_self_time_subtracts_covered_part(self):
        parent = span(1, "op", 0, 100)
        kids = [span(2, "a", 10, 40, 1), span(3, "b", 30, 50, 1), span(4, "c", 90, 120, 1)]
        self.assertEqual(metrics.self_time(parent, kids), 50 * MS)
        selfs = {s["id"]: s["self"] for s in metrics.with_self_times([parent] + kids)}
        self.assertEqual(selfs, {1: 50 * MS, 2: 30 * MS, 3: 20 * MS, 4: 30 * MS})

    def test_outside_job_time_is_wall_minus_job_union(self):
        spans = [span(1, "op", 0, 100, kind="query", query="q", module="Relational", traced=True),
                 span(2, "construct", 0, 40, 1, role="construct"),
                 span(3, "exec", 40, 100, 1, role="exec"),
                 span(4, "spark.job", 10, 30, 2, linked=2, tasks=1),
                 span(5, "spark.job", 20, 35, 2, linked=2, tasks=2),
                 span(6, "spark.job", 60, 90, 0, tasks=4)]
        f = metrics.Trace(spans).layers(spans[0])
        self.assertEqual(f["spark.jobs"], 3)
        self.assertEqual(f["spark.tasks"], 7)
        self.assertAlmostEqual(f["spark.in_job_ms"], 55)
        self.assertAlmostEqual(f["spark.outside_job_ms"], 45)
        self.assertAlmostEqual(f["read.construct_ms"] + f["read.exec_ms"], f["wall_ms"])
        self.assertEqual(f["read.construct_jobs"], 2)


class FailureCounting(unittest.TestCase):
    def raw(self, failed, checks, spans):
        return {"attempted": 4, "failed": failed, "checks": checks, "setup_s": [1.0],
                "spans": spans, "extra": {}}

    def ops(self):
        return [span(1, "op", 0, 10, items=5), span(2, "read", 10, 12),
                span(3, "op", 20, 40, items=5), span(4, "read", 40, 43)]

    def test_clean_run_is_correct(self):
        r = run.result_line("doc_stream", 0, self.raw(0, [{"ok": True}], self.ops()))
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 4, 0))
        self.assertEqual(r["metrics"]["op_ms"]["value"], 15)

    def test_a_failed_check_makes_the_run_incorrect(self):
        r = run.result_line("doc_stream", 0, self.raw(1, [{"ok": False}], self.ops()))
        self.assertEqual((r["correct"], r["failed"]), (False, 1))

    def test_failures_never_exceed_attempts(self):
        r = run.result_line("doc_stream", 0, self.raw(9, [{"ok": True}], self.ops()))
        self.assertEqual((r["correct"], r["failed"]), (False, 4))

    def test_failed_operations_are_left_out_of_the_latencies(self):
        spans = self.ops() + [span(5, "op", 50, 5000, items=5, error="boom")]
        r = run.result_line("doc_stream", 0, self.raw(1, [{"ok": True}], spans))
        self.assertEqual(r["metrics"]["op_ms"]["value"], 15)
        self.assertFalse(r["correct"])

    def test_a_weather_dashboard_read_sums_its_panels(self):
        spans = [span(1, "op", 0, 10), span(2, "read", 10, 12, tick=1, poll=1),
                 span(3, "read", 12, 15, tick=1, poll=1), span(4, "read", 15, 16, tick=1, poll=2),
                 span(5, "read", 16, 17, tick=1, poll=2), span(6, "op", 20, 30),
                 span(7, "read", 30, 31, tick=2, poll=1), span(8, "read", 31, 35, tick=2, poll=1)]
        r = run.result_line("weather_schedule", 0, self.raw(0, [{"ok": True}], spans))
        self.assertEqual(r["metrics"]["read_p50_ms"]["value"], 5)

    def test_the_first_query_pass_is_left_out(self):
        q = lambda id, start, end, name, p: span(id, "op", start, end, query=name, **{"pass": p})
        spans = [q(1, 0, 900, "q", 0), q(2, 900, 1000, "q", 1), q(3, 1000, 1200, "q", 2),
                 q(4, 1200, 1240, "r", 1), q(5, 1240, 1300, "r", 2)]
        r = run.result_line("query_suite", 0, self.raw(0, [{"ok": True}], spans))
        self.assertEqual(r["metrics"]["op_ms"]["value"], 150 + 50)
        self.assertEqual(r["metrics"]["read_p50_ms"]["value"], 80)

    def test_an_oracle_mismatch_counts_once(self):
        fixtures = os.path.join(run.fixtures_dir(), "sf0.001")
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
                json.dump({"a_missing": "SELECT 1 AS x", "b_failed_before": "SELECT 1 AS x"}, fh)
            bad = run.oracle_failures(fixtures, d, {"b_failed_before"}, 120)
        self.assertEqual([b.split(":")[0] for b in bad], ["a_missing"])

    def test_every_metric_is_reported(self):
        r = run.result_line("doc_stream", 0, self.raw(0, [{"ok": True}], self.ops()))
        self.assertEqual(set(r["metrics"]), {n for n, _ in metrics.END_TO_END})


class Declared(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


class SeededInputs(unittest.TestCase):
    def dump(self, seed):
        cp = build.build()
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "inputs.json")
            subprocess.run(["java", "-cp", cp, "graftbench.Main", "--dump-inputs", out,
                            "--seed", str(seed)], check=True, timeout=120)
            with open(out, "rb") as fh:
                return fh.read()

    def test_same_seed_same_bytes(self):
        a, b, c = self.dump(7), self.dump(7), self.dump(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        d = json.loads(a)
        sizes = d["batch_sizes"]
        self.assertEqual(sum(sizes), 500)
        self.assertEqual(sizes[0], 10)
        self.assertTrue(all(sorted(sizes[i:i + 3]) == [7, 10, 13] for i in range(1, 49, 3)))
        self.assertEqual([t["changed"] for t in d["ticks"]].count(True), 2)
        self.assertEqual(len(json.loads(d["ticks"][0]["cities"])), 146)


if __name__ == "__main__":
    unittest.main()
