"""Tests of the benchmark itself: generator, model, metric names, checks.

    python3 -m unittest discover -s perfbench/tests

The last test runs the benchmark end to end (building it first if
needed), so the suite takes about a minute.
"""

import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import hpvmodel  # noqa: E402
import run  # noqa: E402

T24 = "September 2023 to August 2024"
T25 = "September 2024 to August 2025"
D = "2026-01-15"


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_workbooks(self):
        a = hpvmodel.generate_grids(7, 4, 30)
        self.assertEqual(a, hpvmodel.generate_grids(7, 4, 30))
        self.assertNotEqual(a, hpvmodel.generate_grids(8, 4, 30))
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            hpvmodel.write_workbooks(a, d1)
            hpvmodel.write_workbooks(hpvmodel.generate_grids(7, 4, 30), d2)
            names = sorted(os.listdir(d1))
            self.assertEqual(names, sorted(os.listdir(d2)))
            match, mismatch, errors = filecmp.cmpfiles(d1, d2, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_quirks_present(self):
        grids = hpvmodel.generate_grids(1, 8, 150)
        banners = [g[0][0] for g in grids.values()]
        self.assertTrue(any(not re.search(r"\d{4} to [A-Za-z]+ \d{4}", b) for b in banners))
        headers = [c for g in grids.values() for c in g[2]]
        self.assertTrue(any("%" in c for c in headers))
        self.assertTrue(any("2 doses" in c for c in headers))
        self.assertGreater(len({frozenset(g[2][1:]) for g in grids.values()}), 1)
        keys = [row[0] for g in grids.values() for row in g[3:]]
        measures = [v for g in grids.values() for row in g[3:] for v in row[1:]]
        for s in hpvmodel.SENTINELS:
            self.assertTrue(s in keys, s)
            self.assertTrue(s in measures, s)
        self.assertTrue("" in measures)
        self.assertTrue(any(k != k.strip() for k in keys))
        years = [hpvmodel.model_rows({n: g})[0][5] for n, g in grids.items()]
        self.assertEqual(len(years), len(set(years)))


class ModelTest(unittest.TestCase):

    def test_reproduces_pipeline_golden_rows(self):
        # the two workbooks and hand-computed rows of HpvPipelineSpec
        file_a = [
            ["HPV vaccination coverage for " + T24], [""],
            ["Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated",
             "Year 8 females: % vaccinated", "Year 8 males: Number",
             "Year 8 males: Number vaccinated", "Year 8 2 doses: Number"],
            [" camden ", "100", "80", "80.0", "90", "70", "5"],
            ["ISLINGTON", "*", "60", "50.0", "50", "40", "3"],
            ["enfield", "", "10", "10.0", "30", "20", "2"]]
        file_b = [
            ["Coverage " + T25], [""],
            ["Local authority", "Year 9 females: Number", "Year 9 females: Number vaccinated"],
            ["camden", "110", "95"]]

        def r(b, yg, g, t, v, y, txt):
            return (b, yg, g, t, v, y, txt, D)
        expected = {
            r("Camden", "8", "Female", 100, 80, 2024, T24),
            r("Camden", "8", "Male", 90, 70, 2024, T24),
            r("Islington", "8", "Female", None, 60, 2024, T24),
            r("Islington", "8", "Male", 50, 40, 2024, T24),
            r("Enfield", "8", "Male", 30, 20, 2024, T24),
            r("Camden", "9", "Female", 110, 95, 2025, T25),
            r("Camden", "8", "Both", 190, 150, 2024, T24),
            r("Islington", "8", "Both", 50, 100, 2024, T24),
            r("Enfield", "8", "Both", 30, 20, 2024, T24),
            r("Camden", "9", "Both", 110, 95, 2025, T25),
            r("Camden", "All", "Female", 100, 80, 2024, T24),
            r("Camden", "All", "Male", 90, 70, 2024, T24),
            r("Camden", "All", "Both", 190, 150, 2024, T24),
            r("Islington", "All", "Female", None, 60, 2024, T24),
            r("Islington", "All", "Male", 50, 40, 2024, T24),
            r("Islington", "All", "Both", 50, 100, 2024, T24),
            r("Enfield", "All", "Male", 30, 20, 2024, T24),
            r("Enfield", "All", "Both", 30, 20, 2024, T24),
            r("Camden", "All", "Female", 110, 95, 2025, T25),
            r("Camden", "All", "Both", 110, 95, 2025, T25),
        }
        got = hpvmodel.model_rows({"a.xlsx": file_a, "b.xlsx": file_b}, D)
        self.assertEqual(len(got), len(set(got)))
        self.assertEqual(set(got), expected)

    def test_key_sentinels_and_unmatched_banner(self):
        grid = [["garbage header"], [],
                ["Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated"],
                ["*", "10", "5"], ["[E]", "20", "[DS]"]]
        rows = hpvmodel.model_rows({"x.xlsx": grid}, D)
        base = {(b, yg, g): (t, v, y, txt) for b, yg, g, t, v, y, txt, _ in rows}
        # '*' scrubs to a null key; '[E]' is initcapped to '[e]' first and survives
        self.assertEqual(base[(None, "8", "Female")], (10, 5, None, None))
        self.assertEqual(base[("[e]", "8", "Female")], (20, None, None, None))

    def test_fingerprint_is_order_independent(self):
        rows = hpvmodel.model_rows(hpvmodel.generate_grids(2, 3, 20))
        self.assertEqual(hpvmodel.fingerprint(rows), hpvmodel.fingerprint(rows[::-1]))
        self.assertNotEqual(hpvmodel.fingerprint(rows), hpvmodel.fingerprint(rows[1:]))


class MetricNameTest(unittest.TestCase):

    def test_names_are_well_formed(self):
        bench = run.load_json("../BENCHMARK.json")
        name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
        names = ([w["name"] for w in bench["workloads"]]
                 + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, name)
            self.assertIsNotNone(name.fullmatch(n), n)
        spec = run.load_json("workloads.json")["workloads"]
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(spec))
        families = run.load_json("families.json")
        for f in set(families.values()):
            self.assertIn("queries.%s.wall_s" % f, names)
        fake = {"ops": [{"name": "q", "kind": k, "s": 1.0} for k in ("cold", "warm", "traced")],
                "peak_rss_mb": 1.0, "setup_s": 1.0, "steal_s": 0.0, "load1": 0.0}
        self.assertEqual(set(run.end_to_end(fake)),
                         {m["name"] for m in bench["end_to_end"]})
        layer_names = [m["name"] for m in bench["per_layer"]]
        got = run.per_layer(fake, {"passes": 1}, {"kind": "engine"}, {"q": "text"}, layer_names)
        self.assertEqual(set(got), set(layer_names))


class CheckTest(unittest.TestCase):

    def test_mismatch_and_error_count_as_failed(self):
        ops = [{"name": "a", "ok": True, "rows": 3, "hash": "00ff", "error": ""},
               {"name": "b", "ok": False, "rows": -1, "hash": "", "error": "boom"}]
        want = {"a": [3, "00ff"], "b": [1, "0001"]}
        self.assertEqual(len(run.check_ops(ops, want.get)), 1)
        want["a"] = [4, "00ff"]
        self.assertEqual(len(run.check_ops(ops, want.get)), 2)

    def test_corrupted_expected_value_fails_the_run(self):
        root = os.path.dirname(HERE)
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "hpv_nightly",
             "--seed", "3", "--seconds", "1", "--trace", "0", "--corrupt-expected"],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertGreater(record["failed_frac"], 0)


if __name__ == "__main__":
    unittest.main()
