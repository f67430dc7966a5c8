"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest discover -s cubebench/tests

The locale test compiles the harness on first use (see build.py).
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)

import build  # noqa: E402
import metrics  # noqa: E402
import scenes  # noqa: E402


class MetricNames(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(PKG), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(metrics.MAIN_OP))

    def test_untraced_result_reports_every_end_to_end_metric(self):
        records = [{"ev": "setup", "end_ms": 2500.0},
                   {"ev": "op", "kind": "query", "round": 0, "s": 0.5, "cpu_s": 1.0,
                    "ok": True},
                   {"ev": "op", "kind": "query", "round": 0, "s": 0.7, "cpu_s": 2.0,
                    "ok": True}]
        checks = {"attempted": 2, "failed": 0, "errors": []}
        r = metrics.result("query_suite", records, checks, 1.0, 0)
        self.assertEqual(set(r["metrics"]), set(metrics.E2E))
        self.assertTrue(r["correct"])
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 1.5)
        self.assertAlmostEqual(r["metrics"]["round_s.p50"]["value"], 1.2)
        traced = metrics.result("query_suite", records, checks, 1.0, 1)
        self.assertTrue(set(traced["metrics"]) <= set(metrics.PER_LAYER))
        self.assertAlmostEqual(traced["metrics"]["trace.op_s.p50"]["value"], 0.6)
        self.assertAlmostEqual(traced["metrics"]["trace.op_cpu_s.p50"]["value"], 1.5)


class OutputChecks(unittest.TestCase):
    def _records(self, planned, sums):
        return [
            {"ev": "op", "kind": "build", "round": 0, "s": 9.0, "cpu_s": 20.0, "ok": True,
             "planned": planned, "items": 4, "blocks": 8, "errors": 0},
            {"ev": "op", "kind": "noop", "round": 0, "s": 0.5, "cpu_s": 1.0, "ok": True,
             "planned": 0, "items": 0, "blocks": 0, "errors": 0},
            {"ev": "outputs", "round": 0, "cogs": 12, "pngs": 4, "out_bytes": 1,
             "sums": [{"tile": "T0001", "p_start": "2020-01-01", "band": "B04", "sum": sums}]}]

    def test_each_failing_operation_or_check_counts_once(self):
        expect = dict(tiles=2, periods=2, px=256, sums={("T0001", "2020-01-01", "B04"): 5})
        ok = metrics.check("cube_build", self._records(12, 5), expect)
        self.assertEqual((ok["attempted"], ok["failed"]), (3, 0))
        bad = metrics.check("cube_build", self._records(11, 6), expect)
        self.assertEqual((bad["attempted"], bad["failed"]), (3, 2))


class Median(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertTrue(math.isnan(metrics.median([])))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "name": "run", "start": 0, "end": 20000},
            {"id": 1, "parent": 0, "name": "build", "start": 0, "end": 10000},
            # two overlapping children cover [1000, 5000]
            {"id": 2, "parent": 1, "name": "job:cube:plan", "start": 1000, "end": 4000},
            {"id": -1, "parent": 1, "name": "job:cube:plan", "start": 3000, "end": 5000},
            # a child running past its parent counts only inside it
            {"id": -1, "parent": 1, "name": "job:cube:readback", "start": 9000,
             "end": 12000},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["run"], 10.0)
        self.assertAlmostEqual(st["build"], 5.0)
        self.assertAlmostEqual(st["job:cube:plan"], 5.0)
        self.assertAlmostEqual(st["job:cube:readback"], 3.0)

    def test_query_time_outside_jobs_and_job_time_stay_apart(self):
        spans = [
            {"id": 0, "parent": -1, "name": "run", "start": 0, "end": 5000},
            {"id": 1, "parent": 0, "name": "query", "start": 0, "end": 3000},
            {"id": -1, "parent": 1, "name": "job:query:q1", "start": 500, "end": 2500},
            {"id": 2, "parent": 0, "name": "query", "start": 3000, "end": 5000},
            {"id": -1, "parent": 2, "name": "job:query:q2", "start": 3000, "end": 4000},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["query"], 2.0)
        self.assertAlmostEqual(st["job:query:q1"], 2.0)
        self.assertAlmostEqual(st["job:query:q2"], 1.0)


class Scenes(unittest.TestCase):
    def _write(self, seed, d):
        scenes.write_period(seed, d, 1, 0, 2, 256)
        out = {}
        for n in sorted(os.listdir(d)):
            with open(os.path.join(d, n), "rb") as f:
                out[n] = f.read()
        return out

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        work = os.path.join(PKG, ".work")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as a, \
                tempfile.TemporaryDirectory(dir=work) as b, \
                tempfile.TemporaryDirectory(dir=work) as c:
            first, again, other = self._write(7, a), self._write(7, b), self._write(8, c)
        self.assertEqual(len(first), 6)
        self.assertEqual(first, again)
        self.assertEqual(set(first), set(other))
        for name in first:
            self.assertNotEqual(first[name], other[name], name)

    def test_lcf_reference_takes_latest_clear_date(self):
        d1, d2 = scenes.period_dates(0, 2)
        clear = scenes.np.zeros((2, 2), dtype=scenes.np.uint8)
        cloudy = clear.copy()
        cloudy[0, 0] = scenes.QA_CLOUD
        arrays = {(1, d1, "QA"): clear, (1, d2, "QA"): cloudy}
        for b, base in (("B04", 100), ("B8A", 300)):
            arrays[(1, d1, b)] = scenes.np.full((2, 2), base, dtype=scenes.np.int16)
            arrays[(1, d2, b)] = scenes.np.full((2, 2), base + 1, dtype=scenes.np.int16)
        sums = scenes.lcf_reference(arrays, 1, 0, 2)
        # pixel (0, 0) is cloudy on the later date, so it takes the earlier one
        self.assertEqual(sums[("T0001", "2020-01-01", "B04")], 100 + 3 * 101)
        self.assertEqual(sums[("T0001", "2020-01-01", "B8A")], 300 + 3 * 301)
        ndvi = int(10000.0 * (200 / 400)) + 3 * int(10000.0 * (200 / 402))
        self.assertEqual(sums[("T0001", "2020-01-01", "NDVI")], ndvi)


class LocaleIndependentJson(unittest.TestCase):
    def test_harness_json_parses_under_decimal_comma_locale(self):
        classes = build.ensure()
        jars = os.path.join(build.spark_jars(), "*")
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Duser.language=de", "-Duser.country=DE",
             "-cp", classes + os.pathsep + jars, "graftbench.JsonProbe"],
            env=dict(os.environ, LC_ALL="de_DE.UTF-8", LANG="de_DE.UTF-8"),
            capture_output=True, text=True, check=True).stdout
        line = [l for l in out.splitlines() if l.startswith("@@ ")][-1]
        got = json.loads(line[3:])
        self.assertAlmostEqual(got["pi"], math.pi, places=8)
        self.assertEqual(got["big"], 1.5e12)
        self.assertAlmostEqual(got["small"], 1.25e-7)
        self.assertEqual(got["neg"], -2.5)
        self.assertEqual(got["count"], 42)
        self.assertEqual(got["whole"], 3)
        self.assertIsNone(got["nan"])


if __name__ == "__main__":
    unittest.main()
