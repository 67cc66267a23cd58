"""Self-tests of the benchmark (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import tempfile
import unittest

import build
import gen
import stats


def _tmpdir():
    # scratch space inside the checkout, like every benchmark file
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.BUILD)


def _read(path):
    with open(path) as f:
        return f.read()


def _inputs(workload, seed, root):
    d = os.path.join(root, f"{workload}-{seed}")
    gen.make_inputs(workload, seed, 2, d)
    return d


def _same_tree(a, b):
    fa, fb = sorted(os.listdir(a)), sorted(os.listdir(b))
    if fa != fb:
        return False
    for f in fa:
        if f == "plan.json":
            # plans name their own directory; compare them without it
            pa = _read(os.path.join(a, f)).replace(a, "<dir>")
            pb = _read(os.path.join(b, f)).replace(b, "<dir>")
            if pa != pb:
                return False
        elif not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False):
            return False
    return True


class InputsTest(unittest.TestCase):
    def test_seed_determines_inputs(self):
        with _tmpdir() as root:
            for w in ("ingest_bulk", "ingest_live", "console", "operators"):
                a = _inputs(w, 7, os.path.join(root, "a"))
                b = _inputs(w, 7, os.path.join(root, "b"))
                c = _inputs(w, 8, os.path.join(root, "c"))
                self.assertTrue(_same_tree(a, b), f"{w}: same seed, different inputs")
                self.assertFalse(_same_tree(a, c), f"{w}: other seed, same inputs")

    def test_traffic_shape(self):
        with _tmpdir() as root:
            d = _inputs("ingest_bulk", 3, root)
            plan = json.loads(_read(os.path.join(d, "plan.json")))
            m = plan["stream"]
            import pyarrow.parquet as pq
            t = pq.read_table(m["events"]).to_pandas()
            n = len(t)
            self.assertAlmostEqual((t.redeliver_to >= 0).mean(), 0.10, delta=0.02)
            self.assertAlmostEqual(len(m["corrupt"]) / n, 0.001, delta=0.0005)
            span_days = (t.ts.max() - t.ts.min()).total_seconds() / 86400
            self.assertGreater(span_days, 29)
            # Zipf skew: the busiest user has far more than a fair share
            top = t.user_id.value_counts().iloc[0]
            self.assertGreater(top, 20 * n / t.user_id.nunique())


class ArithmeticTest(unittest.TestCase):
    def test_percentiles(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.median(xs), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([10, 20], 25), 12.5)
        self.assertRaises(ValueError, stats.percentile, [], 50)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4)
        self.assertRaises(ValueError, stats.geomean, [1, 0])

    def test_self_time(self):
        def s(i, parent, a, b, layer="x"):
            return {"id": i, "parent": parent, "start_ms": a, "end_ms": b, "layer": layer}
        spans = [s("r", "", 0, 100, "run"),
                 s("a", "r", 10, 40, "unit"), s("b", "r", 30, 60, "unit"),  # overlap
                 s("c", "a", 15, 20, "job"), s("d", "r", 90, 120, "unit")]  # clipped
        st = stats.self_times(spans)
        self.assertEqual(st["r"], 100 - (60 - 10) - (100 - 90))
        self.assertEqual(st["a"], 30 - 5)
        self.assertEqual(st["b"], 30)
        self.assertEqual(st["c"], 5)
        self.assertEqual(stats.layer_self_ms(spans),
                         {"run": 40, "unit": 25 + 30 + 30, "job": 5})
        self.assertEqual({x["id"] for x in stats.subtree(spans, "a")}, {"a", "c"})


class FailedOperationsTest(unittest.TestCase):
    def phase(self):
        ok = lambda name, ms: {"kind": "request", "name": name, "ok": True, "ms": ms,
                               "info": {}}
        bad = {"kind": "request", "name": "query", "ok": False, "ms": None,
               "info": {}, "error": "boom"}
        return {"units": [ok("query", 100.0), bad, ok("query", 300.0), bad],
                "info": {"rep_wall_ms": [2000.0]}}

    def test_failed_operation_is_counted_not_timed(self):
        ph = self.phase()
        result = {"session_ms": 1000.0, "setup_ms": [500.0, 700.0, 900.0],
                  "peak_rss_kb": 2048}
        m = stats.end_to_end(result, "console", ph)
        self.assertEqual(m["latency_ms_p50"][0], 200.0)
        self.assertAlmostEqual(m["latency_ms_geomean"][0], (100 * 300) ** 0.5)
        self.assertEqual(m["throughput_per_s"][0], 1.0)  # 2 ok in 2 s
        self.assertEqual(m["setup_s"][0], 1.7)
        self.assertEqual(stats.counts(ph), (4, 2))

    def test_no_success_no_time(self):
        ph = self.phase()
        ph["units"] = [u for u in ph["units"] if not u["ok"]]
        self.assertRaises(ValueError, stats.end_to_end,
                          {"session_ms": 0, "setup_ms": [1], "peak_rss_kb": 1},
                          "console", ph)

    def test_repeated_work_counts_its_fastest_run(self):
        units = [{"kind": "gate", "name": g, "ok": ok, "ms": ms if ok else None,
                  "info": {"pass": p}}
                 for p, (g, ms, ok) in enumerate([("a", 100.0, True), ("a", 300.0, True),
                                                  ("a", 200.0, True), ("b", 400.0, True),
                                                  ("b", 0.0, False)])]
        m = stats.end_to_end({"session_ms": 0, "setup_ms": [1], "peak_rss_kb": 1},
                             "operators", {"units": units,
                                           "info": {"rep_wall_ms": [900.0, 800.0, 1000.0]}})
        self.assertEqual(m["latency_ms_p50"][0], 250.0)  # median of {100, 400}
        self.assertEqual(m["wall_s"][0], 0.8)
        self.assertAlmostEqual(m["throughput_per_s"][0], 2 / 0.5)

    def test_first_batch_is_not_a_sample(self):
        units = [{"kind": "batch", "name": f"b{i}", "ok": True, "ms": ms,
                  "info": {"lines": 100, "first": i == 0}}
                 for i, ms in enumerate([5000.0, 1000.0, 1000.0])]
        m = stats.end_to_end({"session_ms": 0, "setup_ms": [1], "peak_rss_kb": 1},
                             "ingest_bulk", {"units": units, "info": {"rep_wall_ms": [7000.0]}})
        self.assertEqual(m["throughput_per_s"][0], 100.0)
        self.assertEqual(m["latency_ms_p50"][0], 1000.0)


if __name__ == "__main__":
    unittest.main()
