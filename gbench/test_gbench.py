#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 gbench/test_gbench.py              # everything (a few minutes)
    python3 gbench/test_gbench.py OracleTest ContractTest   # seconds, no JVM

Run from the root of a checkout. `SmokeTest` builds the program and runs
every workload at the `smoke` size for a few seconds each.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def body_of(series):
    """A `/render` JSON body in `bgutil web`'s shape."""
    return json.dumps([{"target": n, "datapoints": [[v, ts] for ts, v in pts]}
                       for n, pts in sorted(series.items())]).encode()


class OracleTest(unittest.TestCase):
    store = run.seeded_store(7, "smoke")
    end = run.NOW - 600

    def expected(self, tree, hours=2, mdp=0):
        return run.expected(self.store, tree, self.end - hours * 3600,
                            self.end, mdp)

    def test_faithful_bodies_pass(self):
        for tree in [("path", "bench.s0.h1.cpu"),
                     ("sumSeries", ("path", "bench.s1.*.load")),
                     ("groupByNode", ("path", "bench.*.*.mem"), 1),
                     ("aliasByNode", ("path", "bench.s0.*.*"), [2, 3]),
                     ("nonNegativeDerivative", ("path", "bench.s1.h0.requests")),
                     ("highestCurrent", ("path", "bench.s0.*.disk"), 2),
                     ("movingAverage", ("path", "bench.s0.h2.{cpu,load}"), 5)]:
            exp = self.expected(tree)
            self.assertTrue(exp, tree)
            self.assertEqual(run.check_render(body_of(exp), exp), [], tree)

    def test_corrupted_value_is_caught(self):
        exp = self.expected(("sumSeries", ("path", "bench.s1.*.load")))
        bad = {n: list(pts) for n, pts in exp.items()}
        name = next(iter(bad))
        ts, v = bad[name][7]
        bad[name][7] = (ts, v + 0.01)
        errs = run.check_render(body_of(bad), exp)
        self.assertEqual(len(errs), 1)
        self.assertIn(str(ts), errs[0])

    def test_missing_point_series_and_slot_are_caught(self):
        exp = self.expected(("path", "bench.s0.*.cpu"))
        nulled = {n: [(ts, None if i == 3 else v) for i, (ts, v) in enumerate(p)]
                  for n, p in exp.items()}
        self.assertTrue(run.check_render(body_of(nulled), exp))
        dropped = dict(list(exp.items())[1:])
        self.assertTrue(run.check_render(body_of(dropped), exp))
        short = {n: p[1:] for n, p in exp.items()}
        self.assertTrue(run.check_render(body_of(short), exp))

    def test_consolidation_averages_the_seeded_values(self):
        glob = "bench.s0.h0.cpu"  # retention A: 60 s stage0
        exp = run.read_series(self.store, glob, run.NOW - 86400 + 3600,
                              run.NOW, 500)[glob]
        self.assertLessEqual(len(exp), 500)
        mi = self.store.metrics[glob][0]
        step = exp[1][0] - exp[0][0]
        raw = [run.value(7, mi, False, t) for t in range(exp[0][0],
                                                         exp[0][0] + step, 60)]
        self.assertAlmostEqual(exp[0][1], sum(raw) / len(raw))

    def test_find_oracle(self):
        nodes = run.expected_nodes(self.store, "bench.s1.*")
        self.assertTrue(nodes and all(not leaf for _, leaf in nodes))
        good = json.dumps([{"text": n, "leaf": leaf} for n, leaf in nodes])
        self.assertEqual(run.check_find("/metrics/find", good.encode(),
                                        self.store, "bench.s1.*", False), [])
        bad = json.dumps([{"text": n, "leaf": leaf} for n, leaf in nodes[1:]])
        self.assertTrue(run.check_find("/metrics/find", bad.encode(),
                                       self.store, "bench.s1.*", False))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)
        for w in b["workloads"]:
            self.assertEqual(set(run.HEADLINE[w["name"]]),
                             set(run.END_TO_END) - {"setup_s",
                                                    "store_bytes_per_point"})


def run_bench(*args):
    r = subprocess.run([sys.executable, RUN, *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    return r.returncode, r.stdout, r.stderr


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace, names):
        code, out, err = run_bench("--workload", workload, "--seed", "5",
                                   "--seconds", "4", "--trace", str(trace),
                                   "--size", "smoke")
        self.assertEqual(code, 0, err[-2000:])
        last = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], out[-3000:])
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(last["failed"], 0)
        self.assertEqual(set(last["metrics"]), set(names))
        for name, unit in names.items():
            self.assertEqual(last["metrics"][name]["unit"], unit)
            self.assertRegex(out, rf"(?m)^{name} = \S+ {unit}$")
        return out

    def test_dashboard(self):
        self.check("dashboard", 0, run.END_TO_END)

    def test_wide(self):
        self.check("wide", 0, run.END_TO_END)

    def test_ingest(self):
        out = self.check("ingest", 0, run.END_TO_END)
        for name in ("ingest_catchup_points_per_s", "ingest_visible_p50_s",
                     "ingest_visible_p90_s", "error_rate"):
            self.assertRegex(out, rf"(?m)^{name} = \S+ {run.WORKLOAD_ONLY[name]}$")

    def test_traced_dashboard(self):
        self.check("dashboard", 1, run.PER_LAYER)

    def test_traced_ingest(self):
        out = self.check("ingest", 1, run.PER_LAYER)
        self.assertNotRegex(out, r"(?m)^ingest\.batches = 0 count$")

    def test_refuses_outside_a_checkout(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copytree(os.path.dirname(RUN), os.path.join(d, "gbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "gbench/run.py", "--workload",
                                "dashboard", "--seed", "1", "--seconds", "1"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
