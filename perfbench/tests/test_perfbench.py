"""Self-tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import steadiness  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)  # 10 beyond p99
        self.assertEqual(stats.tail_percentile(999), 95.0)   # only 9 beyond p99
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_value_is_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.tail(values), (90.0, 90))
        self.assertEqual(stats.percentile(values, 50), 50)

    def test_few_samples_fall_back_to_median_rank(self):
        p, v = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((p, v), (50.0, 2.0))

    def test_quartiles_match_statistics_module(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               5.5 / 5.5)


def span(i, parent, s, start=0.0, kind="op", name="x", **counters):
    c = dict.fromkeys(metrics.COUNTERS, 0)
    c.update(counters)
    return {"id": i, "parent": parent, "name": name, "kind": kind, "s": s,
            "start_s": start, "counters": c}


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 10.0, kind="measured"),
                 span(2, 1, 6.0), span(3, 2, 2.0, kind="layer"),
                 span(4, 2, 3.5, kind="layer"), span(5, 1, 3.0)]
        self.assertEqual(stats.self_times(spans),
                         {1: 1.0, 2: 0.5, 3: 2.0, 4: 3.5, 5: 3.0})

    def test_layer_self_times_account_for_the_op(self):
        spans = [span(1, 0, 5.0, kind="traced"), span(2, 1, 4.0, name="q"),
                 span(3, 2, 1.0, kind="layer", name="builder", jobs=2),
                 span(4, 2, 0.5, kind="layer", name="planning"),
                 span(5, 2, 2.0, kind="layer", name="exec", jobs=3, tasks=8)]
        rec = metrics.trace_records({"spans": spans})["operations"][0]
        layers = rec["builder_s"] + rec["planning_s"] + rec["exec_s"]
        self.assertAlmostEqual(layers + rec["unattributed_s"], rec["wall_s"])
        self.assertEqual((rec["jobs"], rec["tasks"]), (5, 8))

    def test_counters_roll_up_to_ancestors(self):
        sp = metrics.Spans([span(1, 0, 3.0, kind="measured"),
                            span(2, 1, 2.0, cpu_s=0.5),
                            span(3, 2, 1.0, kind="layer", cpu_s=0.25)])
        self.assertEqual(sp.total(sp.by_id[1])["cpu_s"], 0.75)


class Checker(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]}).to_parquet(
            os.path.join(self.dir, "region.parquet"))
        self.sql = {"q": "SELECT k, v FROM region ORDER BY k"}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, name, df):
        os.makedirs(os.path.join(self.dir, "out", name), exist_ok=True)
        df.to_parquet(os.path.join(self.dir, "out", name, "part-0.parquet"))

    def check(self, names):
        return oracle.check_queries(self.dir, os.path.join(self.dir, "out"),
                                    self.sql, names)

    def test_correct_output_passes(self):
        self.write("q", pd.DataFrame({"v": [10, 20, 30], "k": [1, 2, 3]}))
        self.assertEqual(self.check(["q"]), {})

    def test_corrupted_value_is_flagged_by_name(self):
        self.write("q", pd.DataFrame({"k": [1, 2, 3], "v": [10, 21, 30]}))
        bad = self.check(["q"])
        self.assertEqual(list(bad), ["q"])
        self.assertIn("v[row 1]", bad["q"])

    def test_dropped_row_and_missing_output_are_flagged(self):
        self.write("q", pd.DataFrame({"k": [1, 2], "v": [10, 20]}))
        self.write("r", pd.DataFrame({"k": [1]}))
        bad = self.check(["q", "r", "s"])
        self.assertIn("rows 2 != 3", bad["q"])
        self.assertNotIn("r", bad)  # no oracle: rows-only check passes
        self.assertEqual(bad["s"], "no output")

    def test_empty_output_fails_rows_only_check(self):
        self.write("r", pd.DataFrame({"k": pd.Series([], dtype="int64")}))
        self.assertIn("empty", self.check(["r"])["r"])


class Generator(unittest.TestCase):
    def test_same_seed_same_tables_and_every_seed_same_size(self):
        a, b, c = gen.tables(0.001, 5), gen.tables(0.001, 5), gen.tables(0.001, 6)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].num_rows, c[name].num_rows, name)
        self.assertFalse(a["events"].equals(c["events"]))

    def test_lake_layout_is_date_partitioned_and_multi_file(self):
        d = tempfile.mkdtemp()
        try:
            size, dates = gen.lake_input(d, 0.001, 3)
            root = os.path.join(d, "events.parquet")
            self.assertEqual(sorted(os.listdir(root)), [f"date={x}" for x in dates])
            con = duckdb.connect()
            n = con.sql(f"SELECT count(*), count(DISTINCT event_id) FROM "
                        f"'{root}/*/*.parquet'").fetchone()
            self.assertEqual(n, (10 * gen.sizes(0.001)["events"],) * 2)
            files = sum(len(os.listdir(os.path.join(root, x))) for x in os.listdir(root))
            self.assertGreater(files, len(dates))
        finally:
            shutil.rmtree(d)

    def test_lake_layout_is_the_same_for_every_seed(self):
        """Dates, files, and the replica-days of the last-10-day window do
        not depend on the seed; only the rows in them do."""
        shapes = []
        for seed in (3, 4, 5):
            d = tempfile.mkdtemp()
            try:
                _, dates = gen.lake_input(d, 0.001, seed)
                root = os.path.join(d, "events.parquet")
                files = sorted(os.path.join(x, f) for x in os.listdir(root)
                               for f in os.listdir(os.path.join(root, x)))
                con = duckdb.connect()
                window = con.sql(
                    f"SELECT count(DISTINCT user_id // {gen.sizes(0.001)['users']}"
                    f" * 1000 + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))"
                    f" FROM '{root}/*/*.parquet' WHERE CAST(ts AS DATE) > "
                    f"DATE '{dates[-1]}' - INTERVAL 10 DAY").fetchone()[0]
                shapes.append((dates, files, window))
            finally:
                shutil.rmtree(d)
        self.assertEqual(shapes[0], shapes[1])
        self.assertEqual(shapes[0], shapes[2])

    def test_fanned_catalog_tables_exceed_the_fan_out_floor(self):
        """catalog_mix's fanned call sites read events and documents; each
        is one file above the engine's 512 KiB floor, so the fan-out fires
        at local[2] and up."""
        floor = 512 * 1024  # spark.graft.scan.fanout.minBytes default
        spec = run.WORKLOADS["catalog_mix"]
        d = tempfile.mkdtemp()
        try:
            for seed in (1, 2):
                gen.write_fixture(d, spec["sf"], seed, spec["rows"])
                for name in ("events", "documents"):
                    size = os.path.getsize(os.path.join(d, f"{name}.parquet"))
                    self.assertGreater(size, floor, (name, seed))
        finally:
            shutil.rmtree(d)

def fake_raw(lake):
    """A minimal driver output: one warm, one measured and one traced pass
    of two operations, plus one round of table loads."""
    spans, i = [], 0

    def add(parent, name, kind, s, **counters):
        nonlocal i
        i += 1
        spans.append(span(i, parent, s, name=name, kind=kind, **counters))
        return i
    for kind in ("warm", "measured", "traced"):
        p = add(0, kind, kind, 3.0)
        for name in (("full.stage1", "incremental.stage1") if lake else ("a", "b")):
            o = add(p, name, "op", 1.4, jobs=2, written_bytes=100 if lake else 0)
            spans[-1]["persisted_rdds"] = 1
            if kind == "traced" and not lake:
                for layer in ("builder", "planning", "exec"):
                    add(o, layer, "layer", 0.4, jobs=1, tasks=4, task_s=0.8)
    load = add(0, "load1", "load", 0.3)
    add(load, "events", "table", 0.3, jobs=1)
    return {"spans": spans, "errors": {}, "setup_in_jvm_s": 20.0,
            "session_s": 5.0, "measured_s": 6.0, "last_pass_start_ms": 0,
            "lake": {"full": "/nonexistent", "incremental": "/nonexistent"} if lake else None}


class Report(unittest.TestCase):
    def test_every_declared_metric_is_reported_on_every_workload(self):
        spec = steadiness.bounds()
        with open(os.path.join(os.path.dirname(steadiness.HERE), "BENCHMARK.json")) as fh:
            layer_names = [m["name"] for m in json.load(fh)["per_layer"]]
        for lake in (False, True):
            s = metrics.summarize(fake_raw(lake), gen_s=0.5, input_bytes=1000,
                                  cores=4, mismatches={})
            self.assertEqual(sorted(s["end_to_end"]), sorted(spec))
            self.assertEqual(sorted(s["per_layer"]), sorted(layer_names))
            for m in s["end_to_end"].values():
                self.assertGreater(m["value"], 0)

    def test_mismatch_counts_as_failed_and_not_correct(self):
        s = metrics.summarize(fake_raw(False), gen_s=0.5, input_bytes=1000,
                              cores=4, mismatches={"a": "rows 1 != 2"})
        self.assertFalse(s["correct"])
        self.assertEqual((s["failed"], s["attempted"]), (1, 6))
        self.assertTrue(any("MISMATCH a" in ln for ln in metrics.report_lines(s)))

    def test_layer_metrics_come_from_traced_passes(self):
        s = metrics.summarize(fake_raw(False), gen_s=0.5, input_bytes=1000,
                              cores=4, mismatches={})["per_layer"]
        self.assertAlmostEqual(s["queries.builder_s"]["value"], 0.8)
        self.assertEqual(s["exec.jobs"]["value"], 2)
        self.assertAlmostEqual(s["exec.core_util"]["value"], 1.6 / (0.8 * 4))
        self.assertAlmostEqual(s["trace.unattributed_s"]["value"], 2 * 0.2)
        self.assertEqual(s["cache.leaked_rdds"]["value"], 2)


class Steadiness(unittest.TestCase):
    def test_verdict_uses_spread_and_median_shift_both_ways(self):
        spec = {"bound": 0.1, "better": "lower"}
        steady = [1.0, 1.01, 0.99, 1.0, 1.02]
        ok, _, _, shift = steadiness.verdict(spec, steady, steady)
        self.assertTrue(ok)
        self.assertEqual(shift, 0.0)
        slower = [1.2, 1.21, 1.19, 1.2]
        faster = [0.8, 0.81, 0.79, 0.8]
        self.assertFalse(steadiness.verdict(spec, steady, slower)[0])
        ok, _, _, shift = steadiness.verdict(spec, steady, faster)
        self.assertFalse(ok)
        self.assertAlmostEqual(shift, -0.2)
        self.assertTrue(steadiness.verdict(spec, steady, [0.95, 0.96, 0.94, 0.95])[0])
        noisy = [1.0, 1.5, 0.7, 1.2, 0.9]
        self.assertFalse(steadiness.verdict(spec, noisy, noisy)[0])

if __name__ == "__main__":
    unittest.main()
