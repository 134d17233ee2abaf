"""Tests of the benchmark harness itself (not of the engine).

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests -v
The JVM-side checks build the harness first (perfbench/build.py).
"""
import io
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def bench():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, want in [(10000, 99.9), (9999, 99.0), (1000, 99.0),
                        (999, 90.0), (100, 90.0), (99, 50.0), (20, 50.0)]:
            self.assertEqual(stats.tail(list(range(n)))[0], want, n)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_nearest_rank_value_and_sample_count(self):
        xs = [float(i) for i in range(1, 1001)]  # 1..1000
        s = stats.summary(xs)
        self.assertEqual((s["n"], s["tail_pct"], s["tail"]), (1000, 99.0, 990.0))
        self.assertEqual(s["p50"], 500.5)
        self.assertEqual(stats.summary([])["n"], 0)


class FailureAccounting(unittest.TestCase):
    reps = [
        {"rep": 0, "ok": True, "traced": False, "ops": 2, "failed_ops": 0,
         "unit_s": 1.0, "rows": 100, "rows_s": 1.0, "publish_s": 0.5,
         "cpu_s": 2.0, "jit_ms": 300.0, "classes_loaded": 40.0},
        # a thrown rep: excluded from timings, its ops all failed
        {"rep": 1, "ok": False, "traced": False, "ops": 2, "failed_ops": 2,
         "unit_s": 0.001, "rows": 100, "rows_s": 0.001},
        # a live window with three stream restarts and nothing lost
        {"rep": 2, "ok": True, "traced": False, "ops": 1003, "failed_ops": 3,
         "restarts": 3, "unit_s": 3.0, "rows": 100, "rows_s": 2.0,
         "publish_s": 0.5, "cpu_s": 4.0, "jit_ms": 100.0,
         "classes_loaded": 20.0},
        {"rep": 3, "ok": True, "traced": True, "ops": 2, "failed_ops": 0,
         "unit_s": 9.0, "rows": 100, "rows_s": 9.0},
    ]

    def test_failed_reps_are_counted_not_timed(self):
        self.assertEqual(stats.accounting(self.reps), (1009, 5))
        self.assertEqual([r["rep"] for r in stats.usable(self.reps)], [0, 2])
        self.assertEqual([r["rep"] for r in stats.usable(self.reps, True)], [3])

    def test_end_to_end_uses_untraced_successful_reps_only(self):
        raw = {"reps": self.reps, "resources": {"heap_after_gc_mb": 80.0},
               "setup": {"session_s": 1.0, "generate_s": [5.0, 2.0, 3.0],
                         "warmup_s": 1.0}}
        m = run.end_to_end(raw)
        self.assertEqual(m["latency_ms"], 2000.0)   # median of 1 s and 3 s
        self.assertEqual(m["rows_per_s"], 75.0)     # median of 100 and 50
        self.assertEqual(m["setup_s"], 5.0)         # 1 + median(5,2,3) + 1

    def test_a_mismatch_makes_the_run_incorrect(self):
        raw = fake_raw(self.reps + [{"rep": 4, "ok": False, "mismatch": True,
                                     "ops": 1, "failed_ops": 1}])
        res = run.report(raw, 0, bench(), out=io.StringIO(), err=io.StringIO())
        self.assertFalse(res["correct"])
        self.assertTrue(run.report(fake_raw(self.reps), 0, bench(),
                                   out=io.StringIO(), err=io.StringIO())["correct"])


def fake_raw(reps):
    return {"workload": "drain", "seed": 1, "cores": 4, "reps": reps,
            "resources": {"heap_after_gc_mb": 80.0, "threads": 50.0,
                          "persisted_rdds": 0.0, "active_streams": 0.0},
            "setup": {"session_s": 1.0, "generate_s": [1.0], "warmup_s": 1.0},
            "layers": {"epoch.count": 4.0},
            "dists": {"epoch.trigger_ms": [5.0, 7.0, 6.0]}}


def full_raw(workload):
    """A raw traced record holding every per-layer record `workload`
    runs: a scalar, or a distribution for the _p50/_tail/_n names."""
    raw = fake_raw(FailureAccounting.reps)
    raw["workload"] = workload
    for d in bench()["per_layer"]:
        name = d["name"]
        base, _, part = name.rpartition("_")
        if run.not_run(workload, name) or name.startswith(("res.", "jvm.")) \
                or name == "trace.overhead_pct":
            continue
        if name.endswith("_tail_pct"):
            raw["dists"][name[:-9]] = [1.0, 2.0, 3.0]
        elif part in ("p50", "tail", "n"):
            raw["dists"][base] = [1.0, 2.0, 3.0]
        else:
            raw["layers"][name] = 1.0
    return raw


class MetricNames(unittest.TestCase):
    def test_every_printed_metric_is_declared(self):
        b = bench()
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            out = io.StringIO()
            res = run.report(fake_raw(FailureAccounting.reps), trace, b,
                             out=out, err=io.StringIO())
            declared = {d["name"] for d in b[key]}
            self.assertEqual(set(res["metrics"]), declared)
            printed = {line.split()[0] for line in out.getvalue().splitlines()
                       if line.startswith("   ")}
            self.assertEqual(printed, declared)

    def test_per_layer_names_resolve(self):
        raw = fake_raw(FailureAccounting.reps)
        m = run.per_layer(raw, ["epoch.count", "epoch.trigger_ms_p50",
                                "epoch.trigger_ms_tail",
                                "epoch.trigger_ms_tail_pct",
                                "res.threads", "trace.overhead_pct",
                                "jvm.jit_ms_per_rep"])
        self.assertEqual(m["epoch.count"], 4.0)
        self.assertEqual(m["epoch.trigger_ms_p50"], 6.0)
        self.assertEqual((m["epoch.trigger_ms_tail"],
                          m["epoch.trigger_ms_tail_pct"]), (7.0, 100.0))
        self.assertEqual(m["res.threads"], 50.0)
        self.assertEqual(m["trace.overhead_pct"], 350.0)  # 9 s vs 2 s
        self.assertEqual(m["jvm.jit_ms_per_rep"], 200.0)  # untraced reps

    def test_layers_not_run_read_zero_and_missing_records_fail_the_run(self):
        raw = full_raw("drain")
        res = run.report(raw, 1, bench(), out=io.StringIO(), err=io.StringIO())
        self.assertTrue(res["correct"])
        self.assertEqual(res["metrics"]["operators.p06_s"]["value"], 0.0)
        self.assertEqual(res["metrics"]["epoch.trigger_ms_p50"]["value"], 2.0)
        # a distribution that should have samples and has none, one that
        # is missing (renamed on the JVM side), and a scalar never
        # recorded: each is left out, so the run is incorrect
        def empty(r): r["dists"]["epoch.addBatch_ms"] = []
        def renamed(r): del r["dists"]["epoch.trigger_ms"]
        def unrecorded(r): del r["layers"]["TopicStore.bytes_per_msg"]
        for breaks, gone in [(empty, "epoch.addBatch_ms_p50"),
                             (renamed, "epoch.trigger_ms_tail"),
                             (unrecorded, "TopicStore.bytes_per_msg")]:
            raw = full_raw("drain")
            breaks(raw)
            out = io.StringIO()
            res = run.report(raw, 1, bench(), out=out, err=io.StringIO())
            self.assertFalse(res["correct"], gone)
            self.assertRegex(out.getvalue(), re.escape(gone) + r"\s+missing")

    def test_overhead_needs_a_traced_and_an_untraced_rep(self):
        raw = full_raw("drain")
        raw["reps"] = [r for r in raw["reps"] if not r["traced"]]
        self.assertNotIn("trace.overhead_pct",
                         run.per_layer(raw, ["trace.overhead_pct"]))

    def test_benchmark_file_shape(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("higher", "lower"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertLessEqual({w["name"] for w in b["workloads"]},
                             set(run.WORKLOADS))


class JvmSide(unittest.TestCase):
    """Open-loop due-time stamping and supervisor restart counting."""

    def test_selftest(self):
        build.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(),
                            "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
