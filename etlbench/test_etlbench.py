"""Tests of the benchmark's own Python logic:

    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""

import json
import pathlib
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_odd_and_even_medians(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_quartiles_match_python(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.spread([2.0] * 5), 0.0)

    def test_trend_flags_a_slope_not_noise(self):
        self.assertTrue(stats.trend([5.0, 4.6, 4.2, 3.8], 0.08))
        self.assertFalse(stats.trend([4.0, 4.1, 3.9, 4.0], 0.08))
        self.assertFalse(stats.trend([5.0, 4.0], 0.08))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((10, 50), []), 40)

    def test_nested_children_are_subtracted(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (30, 60)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 50)]), 60)
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (20, 30)]), 70)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 100), [(-20, 10), (90, 130)]),
                         80)
        self.assertEqual(stats.self_time((0, 100), [(200, 300)]), 100)

    def test_pass_spans_split_build_into_self_and_pins(self):
        ms = 10**6
        p = {"label": "timed1", "start": 0, "end": 100 * ms, "wall_s": 0.1,
             "aqe_updates": 2,
             "queries": [{"query": "q", "start": 0, "built": 40 * ms,
                          "planned": 50 * ms, "delivered": 98 * ms,
                          "export_ns": 0, "scan_bytes": 2**20,
                          "scan_files": 3, "analysis_ms": 5,
                          "optimizer_ms": 4, "physical_ms": 1,
                          "plan_nodes": 9, "exprs": 30}],
             "jobs": [{"id": 1, "group": "w/timed1/q", "phase": "build",
                       "start_ms": 10, "end_ms": 30, "stages": 1,
                       "tasks": 4, "run_ms": 60, "cpu_ns": 5 * 10**7,
                       "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
                       "spill": 0},
                      {"id": 2, "group": "w/timed1/q", "phase": "deliver",
                       "start_ms": 55, "end_ms": 95, "stages": 2,
                       "tasks": 8, "run_ms": 96, "cpu_ns": 9 * 10**7,
                       "gc_ms": 1, "shuffle_read": 2**20,
                       "shuffle_write": 2**20, "spill": 0}]}
        spans, v = run.pass_spans(p, "w", 4)
        self.assertAlmostEqual(v["operators.build_s"], 0.020)
        self.assertAlmostEqual(v["operators.pin_s"], 0.020)
        self.assertEqual(v["operators.pin_jobs"], 1)
        self.assertEqual(v["exec.jobs"], 2)
        self.assertAlmostEqual(v["exec.deliver_s"], 0.048)
        self.assertAlmostEqual(v["exec.busy_share"], 0.096 / (0.048 * 4))
        self.assertAlmostEqual(v["trace.unaccounted_share"], 0.02)
        self.assertEqual(v["planner.aqe_replans"], 2)
        names = [s["name"] for s in spans]
        self.assertEqual(names, ["timed1", "q", "build", "job1", "plan",
                                 "deliver", "job2"])
        self.assertEqual(spans[2]["self"], 20 * ms)


class Metrics(unittest.TestCase):
    def test_names_and_units(self):
        ok = {"pass_s": {"value": 1.5, "unit": "s"},
              "plans.vec_dot.ns_per_row": {"value": 3, "unit": "ns/row"}}
        self.assertIs(stats.check_metrics(ok), ok)
        for bad in ({"pass s": {"value": 1.0, "unit": "s"}},
                    {"_pass": {"value": 1.0, "unit": "s"}},
                    {"pass_s": {"value": 1.0}},
                    {"pass_s": {"value": 1.0, "unit": ""}},
                    {"pass_s": {"value": float("nan"), "unit": "s"}}):
            with self.assertRaises(ValueError):
                stats.check_metrics(bad)

    def test_units_by_suffix(self):
        self.assertEqual(run.unit_of("exec.gc_s"), "s")
        self.assertEqual(run.unit_of("exec.spill_mb"), "MB")
        self.assertEqual(run.unit_of("exec.busy_share"), "ratio")
        self.assertEqual(run.unit_of("plans.cdc_chunks.ns_per_byte"), "ns/B")
        self.assertEqual(run.unit_of("exec.tasks"), "count")

    def test_benchmark_file_matches_the_runner(self):
        root = pathlib.Path(__file__).resolve().parent.parent
        spec = json.loads((root / "BENCHMARK.json").read_text())
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))
        for m in spec["end_to_end"] + spec["per_layer"]:
            stats.check_metrics({m["name"]: {"value": 1.0,
                                             "unit": m["unit"]}})
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


class Failures(unittest.TestCase):
    def test_each_kind_of_failure_counts(self):
        q = {"query": "q", "digest": "1:a", "store_build_ns": 0}
        rec = {"cold": {"label": "cold", "queries": [
                   dict(q, store_build_ns=5)]},
               "warm": [{"label": "warm1", "queries": [
                   dict(q, store_build_ns=5)]}],
               "timed": [{"label": "timed0", "queries": [
                   dict(q, digest="1:b"), {"query": "q", "error": "boom"},
                   dict(q, export_rebuilt=False), q]}]}
        failures = run.check(rec, {"q": "1:a"})
        self.assertEqual(len(failures), 4)
        self.assertTrue(failures[0].startswith("warm1/q: store rebuilt"))


class Expected(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.saved = run.EXPECTED_DIR
        run.EXPECTED_DIR = pathlib.Path(self.dir.name)

    def tearDown(self):
        run.EXPECTED_DIR = self.saved
        self.dir.cleanup()

    def write(self, digests, **inputs):
        want = {k: run.CONFIG[k] for k in ("scale", "doc_mult")}
        (run.EXPECTED_DIR / "w.json").write_text(json.dumps(
            {"inputs": dict(want, **inputs), "digests": digests}))

    def test_per_seed_entries_and_the_any_seed_entry(self):
        self.assertIsNone(run.committed_expected("w", 1))
        self.write({"1": {"q": "1:a"}})
        self.assertEqual(run.committed_expected("w", 1), {"q": "1:a"})
        self.assertIsNone(run.committed_expected("w", 2))
        self.write({"*": {"q": "1:b"}})
        self.assertEqual(run.committed_expected("w", 2), {"q": "1:b"})

    def test_digests_of_other_inputs_are_refused(self):
        self.write({"*": {"q": "1:b"}}, doc_mult=-1)
        with self.assertRaises(ValueError):
            run.committed_expected("w", 1)


class Inputs(unittest.TestCase):
    def test_length_mix_keeps_its_mean(self):
        import numpy as np
        for seed in (1, 2):
            m = inputs.doc_multipliers(500, 4, np.random.default_rng(seed))
            self.assertEqual(m.mean(), 4)
            self.assertEqual((m.min(), m.max()), (2, 6))

    def test_same_seed_same_files(self):
        src = pathlib.Path(run.CONFIG["testdata"]) / "sf0.001"
        if not src.is_dir():
            self.skipTest("no fixture tables")
        with tempfile.TemporaryDirectory() as d:
            a = inputs.derive(src, pathlib.Path(d) / "a", 7, 3)
            b = inputs.derive(src, pathlib.Path(d) / "b", 7, 3)
            c = inputs.derive(src, pathlib.Path(d) / "c", 8, 3)
            read = lambda root: {  # noqa: E731
                f.relative_to(root): f.read_bytes()
                for f in root.rglob("*.parquet") if f.is_file()}
            self.assertEqual(read(a), read(b))
            self.assertNotEqual(read(a), read(c))


if __name__ == "__main__":
    unittest.main()
