"""Tests of the benchmark itself (not of the program it measures).

    python3 -m unittest discover -s perfbench/tests -v

Builds the harness like a benchmark run does; the metric-name test also
makes two short runs of wildweb_feed, so the whole file takes about two
minutes.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import run  # noqa: E402


def selftest(seed):
    classpath = build.build(run.BUILD)
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = os.path.join(tmp, "selftest.json")
        subprocess.run(["java", *run.JVM_OPTS, "-cp", classpath, "perfbench.Main", "selftest",
                        "--seed", str(seed), "--fixtures", os.path.join(ROOT, "fixtures", "wildweb"),
                        "--out", out], cwd=ROOT, check=True, capture_output=True)
        with open(out) as fh:
            return json.load(fh)


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_feed(self):
        a, b, c = selftest(7), selftest(7), selftest(8)
        self.assertEqual(a["snapshots"], b["snapshots"])
        for name, snap in a["snapshots"].items():
            self.assertNotEqual(snap["sha256"], c["snapshots"][name]["sha256"], name)
            self.assertGreater(snap["features"], 0, name)

    def test_expectation_matches_golden_fixture(self):
        r = selftest(1)
        self.assertTrue(r["golden_equal"], "expectation for fixtures/wildweb/run_ok != golden file")
        self.assertTrue(r["abort_expected"], "expectation for fixtures/wildweb/run_abort is not an abort")


class MetricNamesTest(unittest.TestCase):
    def test_harness_names_match_benchmark_json(self):
        spec, r = benchmark_json(), selftest(1)
        self.assertEqual(r["workloads"], [w["name"] for w in spec["workloads"]])
        layer = {m["name"] for m in spec["per_layer"]}
        self.assertEqual({n for n in layer if n.startswith("entry.")},
                         {f"entry.{e}.{m}" for e in r["traced_entries"] for m in ("wall_s", "cpu_s")})
        self.assertEqual({n for n in layer if n.startswith("functions.")},
                         {f"functions.{k}.ns_per_row" for k in r["kernels"]})

    def test_printed_names_match_benchmark_json(self):
        spec = benchmark_json()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                                "wildweb_feed", "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True, timeout=300)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            result = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(result["metrics"]), [m["name"] for m in spec[key]])
            for m in spec[key]:
                self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
                self.assertIn(f"{m['name']} ", p.stdout)
            rec_dir = os.path.join(run.BUILD, "records")
            latest = max((os.path.join(rec_dir, f) for f in os.listdir(rec_dir)
                          if f.startswith(f"wildweb_feed-seed1-trace{trace}-")), key=os.path.getmtime)
            with open(latest) as fh:
                emitted = set(json.load(fh)[key])
            self.assertLessEqual(emitted, {m["name"] for m in spec[key]})
            if trace == 0:
                self.assertEqual(emitted, {m["name"] for m in spec[key]})


if __name__ == "__main__":
    unittest.main()
