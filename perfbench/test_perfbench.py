"""Self-tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import json
import os
import shutil
import tempfile
import unittest

import metrics
import omsgen


def _tree(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.tmp)

    def gen(self, name, seed):
        d = os.path.join(self.tmp, name)
        return d, omsgen.generate(d, seed)

    def test_same_seed_gives_byte_identical_inputs(self):
        a, ta = self.gen("a", 7)
        b, tb = self.gen("b", 7)
        self.assertEqual(_tree(a), _tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, _tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(ta, tb)

    def test_other_seed_gives_other_inputs(self):
        a, ta = self.gen("a", 7)
        b, tb = self.gen("b", 8)
        _, mismatch, _ = filecmp.cmpfiles(a, b, _tree(a), shallow=False)
        self.assertTrue(mismatch)
        self.assertNotEqual(ta, tb)

    def test_every_dialect_and_an_unmappable_file(self):
        d, truth = self.gen("a", 1)
        heads = {}
        for f in os.listdir(os.path.join(d, "landing")):
            with open(os.path.join(d, "landing", f)) as fh:
                heads[f] = fh.readline()
        self.assertTrue(any(h.startswith("Province/State,Country/Region,Lat,"
                                          "Long,Date") for h in heads.values()))
        self.assertTrue(any("location,date,total_cases,new_cases" in h and
                            "per_million" in h for h in heads.values()))
        self.assertTrue(any(h.startswith("country,report_date,cases,"
                                          "fatalities,latitude,longitude")
                            for h in heads.values()))
        self.assertTrue(any(h.startswith("[{") for h in heads.values()))
        self.assertIn(omsgen.UNMAPPABLE, heads)
        self.assertEqual(truth["skipped"], 1)
        self.assertEqual(truth["processed"], len(omsgen.LANDING))


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.tail_percentile(list(range(99)), 90))
        self.assertEqual(metrics.tail_percentile(list(range(100)), 90), 89)

    def test_empty(self):
        self.assertIsNone(metrics.tail_percentile([], 90))


def _write_star(out, truth, fact_delta=0):
    os.makedirs(out)

    def table(name, n, row):
        with open(os.path.join(out, name + ".json"), "w") as f:
            json.dump([row(i) for i in range(n)], f)
    table("Pays", truth["pays"], lambda i: {"country": str(i)})
    table("Region", truth["region"], lambda i: {"nom_region": str(i)})
    table("Maladie", truth["maladie"], lambda i: {"nom_maladie": str(i)})
    table("RegionGeo", truth["region_geo"], lambda i: {"nom_region": str(i)})
    n = truth["fact_rows"]
    total = truth["sum_nouveau_cas"] + fact_delta
    table("Statistique", n, lambda i: {
        "nouveau_cas": total - (n - 1) if i == 0 else 1.0})


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.tmp)
        self.truth = omsgen.generate(os.path.join(self.tmp, "in"), 3)

    def oms_obs(self, fact_delta):
        out = os.path.join(self.tmp, "out")
        _write_star(out, self.truth, fact_delta)
        want = self.truth
        return {"workload": "oms_dir", "session_cpu_s": 1.0,
                "state_cpu_s": [0.1], "rss_peak_mb": 100.0,
                "round": {"traced": False, "wall_s": 2.0, "cpu_s": 5.0},
                "ops": [{"kind": "load", "s": 2.0, "ok": True,
                         "rows": 0, "out": out,
                         "processed": want["processed"],
                         "skipped": want["skipped"]}]}

    def result(self, obs, problems):
        return metrics.assemble(obs, {"gen_cpu_s": 0.1}, problems)

    def test_correct_star_passes(self):
        obs = self.oms_obs(0)
        res = self.result(obs, metrics.check_oms(obs, self.truth))
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (1, 0))

    def test_corrupted_star_fails_and_counts(self):
        obs = self.oms_obs(5)
        problems = metrics.check_oms(obs, self.truth)
        res = self.result(obs, problems)
        self.assertEqual(len(problems), 1)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (1, 1))


class AttributionTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 0, "parent": -1, "layer": "pipeline",
             "name": "a", "start_ns": 0, "end_ns": 10 * 10**9},
            {"id": 1, "parent": 0, "layer": "storage",
             "name": "b", "start_ns": 2 * 10**9, "end_ns": 5 * 10**9},
            {"id": 2, "parent": -1, "layer": "input",
             "name": "c", "start_ns": 11 * 10**9, "end_ns": 12 * 10**9}]
        layers, covered = metrics.layer_times(spans)
        self.assertAlmostEqual(layers["pipeline"], 7.0)
        self.assertAlmostEqual(layers["storage"], 3.0)
        self.assertAlmostEqual(covered, 11.0)

    def test_overhead_is_median_traced_minus_median_untraced(self):
        obs = {"workload": "oms_dir", "spans": [], "ops": [],
               "round": {"wall_s": 12.0, "cpu_s": 30.0, "gc_s": 0.5,
                         "no_task_s": 6.0, "counters": {}, "extras": {}}}
        walls = [(True, 12.0), (True, 14.0), (True, 13.0),
                 (False, 11.0), (False, 10.0)]
        m = metrics.per_layer(obs, walls)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 13.0 - 10.5)
        self.assertEqual(m["trace.untraced_runs"][0], 2)
        m = metrics.per_layer(obs, [(True, 12.0)])
        self.assertEqual(m["trace.overhead_s"][0], 0.0)
        self.assertEqual(m["trace.untraced_runs"][0], 0)


if __name__ == "__main__":
    unittest.main()
