"""Unit tests for the benchmark's statistics, trace reduction and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import run  # noqa: E402
import stats  # noqa: E402

BENCH = json.load(open(os.path.join(HERE, "..", "..", "BENCHMARK.json")))


class PercentileChoice(unittest.TestCase):
    def test_reported_percentile_has_ten_samples_beyond_it(self):
        self.assertTrue(stats.supports(100, 0.9))    # ranks 91..100 lie beyond
        self.assertFalse(stats.supports(99, 0.9))    # only 9 beyond p90
        self.assertTrue(stats.supports(200, 0.95))
        self.assertFalse(stats.supports(199, 0.95))
        for n in range(1, 500):
            for q in (0.5, 0.75, 0.9, 0.95, 0.99):
                self.assertEqual(stats.supports(n, q),
                                 stats.samples_beyond(n, q) >= stats.MIN_BEYOND)
                if stats.supports(n, q):
                    xs = list(range(n))
                    beyond = [x for x in xs if x > stats.quantile(xs, q)]
                    self.assertGreaterEqual(len(beyond), stats.MIN_BEYOND)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.quantile(xs, 0.9), 90)
        self.assertEqual(stats.quantile(xs, 0.5), 50)
        self.assertEqual(stats.quantile([7], 0.99), 7)

    def test_workload_tails_are_supported_by_their_sample_counts(self):
        # at the observed SELECT rates (4.4-7.5/s) a run of run_seconds
        # yields at least 100 SELECTs, which p90 needs
        self.assertTrue(stats.supports(int(4.4 * BENCH["run_seconds"]), run.TAIL_Q))


def span(i, parent, start, end, name="x", rid=1):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "rid": rid}


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, -1, 0, 10), span(2, 1, 1, 3), span(3, 1, 2, 5),
                 span(4, 1, 8, 12), span(5, 3, 2, 4)]
        st = stats.self_times(spans)
        # children of 1 cover [1,5] and [8,10] (4 is clipped to the parent)
        self.assertAlmostEqual(st[1], 10 - 4 - 2)
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[3], 3 - 2)
        self.assertAlmostEqual(st[5], 2)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class JobAttribution(unittest.TestCase):
    def test_job_group_names_the_statement(self):
        jobs = [{"id": 0, "group": "q1", "start": 27}, {"id": 1, "group": "q2", "start": 5}]
        self.assertEqual(stats.attribute_jobs(jobs, {"q1": 1, "q2": 3}), {0: 1, 1: 3})

    def test_jobs_of_other_groups_stay_unattributed(self):
        # a server-side or writer job overlapping a traced statement is not its
        jobs = [{"id": 0, "group": "", "start": 5}, {"id": 1, "group": "srv", "start": 35}]
        self.assertEqual(stats.attribute_jobs(jobs, {"q1": 1}), {0: None, 1: None})

    def test_reduction_counts_only_the_replays_jobs(self):
        raw = synthetic_raw("serve-wire")
        raw["jobs"].append(dict(raw["jobs"][0], id=99, group="srv", start=201, end=260))
        m = run.per_layer("serve-wire", raw, raw["ops"])
        self.assertAlmostEqual(m["spark.jobs"][0], 1.0)
        self.assertAlmostEqual(m["spark.in_jobs_ms"][0], 19.0)


def synthetic_raw(workload):
    """A minimal raw record: two untraced and two traced SELECTs (one
    replayed), one connect, two inserts, one job per replay."""
    ops, spans, jobs = [], [], []
    for i in range(4):
        rid, t0 = i + 1, i * 100.0
        ops.append({"kind": "select", "name": "s", "proto": ("native", "http")[i % 2],
                    "inst": i,
                    "rid": rid, "start": t0, "end": t0 + 50, "ok": True, "rows": 2,
                    "traced": i >= 2, "error": ""})
        if i >= 2:
            spans += [span(10 * rid, -1, t0, t0 + 50, "op.select", rid),
                      span(10 * rid + 1, 10 * rid, t0 + 1, t0 + 49,
                           "server." + ops[-1]["proto"], rid),
                      span(10 * rid + 2, -1, t0 + 51, t0 + 90, "replay", rid),
                      span(10 * rid + 3, 10 * rid + 2, t0 + 51, t0 + 52, "parser.parse", rid),
                      span(10 * rid + 4, 10 * rid + 2, t0 + 52, t0 + 60, "exec.sql", rid),
                      span(10 * rid + 5, 10 * rid + 2, t0 + 60, t0 + 90, "spark.drain", rid),
                      span(10 * rid + 6, 10 * rid + 4, t0 + 53, t0 + 57, "catalyst.analysis", rid)]
            jobs.append({"id": i, "group": f"g{rid}", "start": t0 + 61, "end": t0 + 80,
                         "stages": 2, "tasks": 4, "run_ms": 30, "cpu_ms": 20, "gc_ms": 1,
                         "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
                         "spill_bytes": 0, "input_rows": 100})
    ops.append({"kind": "connect", "name": "native", "proto": "native", "inst": -1,
                "rid": 9, "start": 500, "end": 540, "ok": True, "rows": 0,
                "traced": False, "error": ""})
    for k, t in enumerate(("ev_plain", "ev_part")):
        ops.append({"kind": "insert", "name": t, "proto": "native", "inst": -1,
                    "rid": 20 + k, "start": 600, "end": 700 + 100 * k, "ok": True,
                    "rows": 20000, "traced": False, "error": ""})
    return {"workload": workload, "setup_ms": [3000, 1000, 1100], "restore_ms": [40, 20, 21],
            "heap_live_mb": 100.0, "measure_start": 0.0, "measure_end": 1000.0,
            "ops": ops, "spans": spans, "jobs": jobs,
            "group_rid": {"g3": 3, "g4": 4}, "server_ms": {"3": 40.0, "4": 44.0},
            "facts": [{"rid": 3, "plan_rules_ms": 1.0, "files_read": 2,
                       "scan_metadata_ms": 1, "partitions_read": 1, "partitions_total": 4}],
            "extra": {"codegen_compiles": 4, "codegen_mean_ms": 10.0, "gc_pause_ms": 5,
                      "session_new_ms": [10, 11, 12], "files_end": 3, "files_new": 2,
                      "stored_bytes": 1000, "stored_rows": 40000}}


class TracingOverhead(unittest.TestCase):
    def test_ratio_of_untraced_to_traced_select_cycles(self):
        ops = ([{"kind": "select", "traced": False}] * 30
               + [{"kind": "select", "traced": True}] * 20
               + [{"kind": "insert", "traced": True}] * 50)
        # equal slices: 30 untraced cycles fit where 20 traced ones did
        self.assertAlmostEqual(stats.overhead_ratio(ops), 1.5)
        self.assertEqual(stats.overhead_ratio(ops[:30]), 0.0)


class MetricNames(unittest.TestCase):
    def test_names_use_only_allowed_characters(self):
        for key in ("end_to_end", "per_layer", "workloads"):
            for m in BENCH[key]:
                self.assertTrue(stats.valid_name(m["name"]), m["name"])
        self.assertFalse(stats.valid_name("select p50"))
        self.assertFalse(stats.valid_name("_lead"))
        self.assertFalse(stats.valid_name("a/b"))

    def test_reductions_produce_every_declared_metric(self):
        for w in BENCH["workloads"]:
            raw = synthetic_raw(w["name"])
            good = raw["ops"]
            e2e = run.end_to_end(w["name"], raw, good)
            self.assertEqual(set(e2e), {m["name"] for m in BENCH["end_to_end"]})
            layers = run.per_layer(w["name"], raw, good)
            missing = {m["name"] for m in BENCH["per_layer"]} - set(layers)
            self.assertEqual(missing, set())
            for k, (v, unit) in list(e2e.items()) + list(layers.items()):
                self.assertTrue(stats.valid_name(k), k)

    def test_per_layer_means_of_the_synthetic_trace(self):
        raw = synthetic_raw("serve-wire")
        m = run.per_layer("serve-wire", raw, raw["ops"])
        self.assertAlmostEqual(m["exec.sql_ms"][0], 8.0)
        self.assertAlmostEqual(m["parser.parse_us"][0], 1000.0)
        self.assertAlmostEqual(m["exec.frontend_ms"][0], 8 - 1 - 4)
        self.assertAlmostEqual(m["spark.in_jobs_ms"][0], 19.0)
        self.assertAlmostEqual(m["spark.outside_jobs_ms"][0], 39 - 19)
        # round trips span 48 ms; the server reported 40 (native, rid 3)
        # and 44 (HTTP, rid 4)
        self.assertAlmostEqual(m["server.native_overhead_ms"][0], 48 - 40)
        self.assertAlmostEqual(m["server.http_overhead_ms"][0], 48 - 44)
        # op self time 2 + replay self time 0, per traced SELECT
        self.assertAlmostEqual(m["trace.unattributed_ms"][0], 2.0)
        self.assertAlmostEqual(m["storage.partitions_read_ratio"][0], 0.25)


class ResultCheck(unittest.TestCase):
    def test_rows_match_ignores_order_and_float_noise(self):
        got = [["b", "2.0000000001"], ["a", "\\N"]]
        want = [["a", "\\N"], ["b", "2"]]
        self.assertTrue(run.rows_match(got, want))
        self.assertFalse(run.rows_match(got, [["a", "\\N"], ["b", "2.1"]]))
        self.assertFalse(run.rows_match(got, want[:1]))


if __name__ == "__main__":
    unittest.main()
