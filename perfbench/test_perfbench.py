"""Tests of the benchmark itself: seeded inputs are reproducible, the
expected answers follow from the plants, a planted wrong verdict fails
the run, and a checkout without the engine refuses to run.

    python3 perfbench/test_perfbench.py
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TEST_DIR = os.path.join(build.OUT, "test")


def parquet_bytes(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, d)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TEST_DIR, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TEST_DIR, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            a, b, c = (os.path.join(TEST_DIR, w, x) for x in "abc")
            gen.generate(w, 5, a)
            gen.generate(w, 5, b)
            gen.generate(w, 6, c)
            self.assertEqual(parquet_bytes(a), parquet_bytes(b), w)
            self.assertNotEqual(parquet_bytes(a), parquet_bytes(c), w)

    def test_answers_follow_the_plants(self):
        m = gen.generate("dq_gate", 5, os.path.join(TEST_DIR, "dq"))
        self.assertEqual(len(m["landings"]), gen.DQ_LANDINGS)
        for l in m["landings"] + [m["warmup"], m["gate"]]:
            failing = {k for k, (status, _) in l["core"].items() if status == "FAILED"}
            self.assertIn("customer.in_set:c_mktsegment", failing)
            self.assertEqual(bool(l["gate"]), l is m["gate"])
            self.assertEqual(l["whitelist_bad"] > 0, l["kind"] == "defects")
            self.assertEqual("orders.regex:o_orderpriority" in failing, l["kind"] == "defects")
        self.assertEqual(m["gate"]["kind"], "gate")
        c = gen.generate("curation", 5, os.path.join(TEST_DIR, "cur"))["corpus"]
        n, r = gen.CUR_DOCS, gen.CUR_RATES
        dropped = int(n * r["exact"]) + int(n * r["near"]) + int(n * r["contam"])
        self.assertEqual(c["census"]["rows"], n - dropped)
        s = gen.generate("stream_suite", 5, os.path.join(TEST_DIR, "st"))
        late = [f for f in s["files"] if f["rows"] > sum(w[0] for w in f["windows"].values())]
        self.assertTrue(late, "some rows must fall beyond the watermark")


class VerdictTest(unittest.TestCase):
    """A wrong expected answer must fail the run: the check reads the
    engine's output, not the expectation back."""

    @classmethod
    def setUpClass(cls):
        build.build()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(TEST_DIR, ignore_errors=True)

    def plant_and_run(self, workload, corrupt):
        work = os.path.join(TEST_DIR, workload)
        shutil.rmtree(work, ignore_errors=True)
        try:
            manifest = gen.generate(workload, 9, os.path.join(work, "inputs"))
            corrupt(manifest)
            with open(os.path.join(work, "inputs", "manifest.json"), "w") as f:
                json.dump(manifest, f)
            rec = run.harness(workload, work, seconds=1, trace=0)
            return rec, run.report(workload, rec, 0, run.spec())
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_wrong_check_count_is_caught(self):
        def corrupt(m):
            for l in m["landings"]:
                l["core"]["customer.in_set:c_mktsegment"][1] += 1
        rec, result = self.plant_and_run("dq_gate", corrupt)
        self.assertGreater(rec["wrong"], 0)
        self.assertFalse(result["correct"])
        self.assertIn("customer.in_set:c_mktsegment", rec["wrong_detail"][0])

    def test_wrong_gate_count_is_caught(self):
        def corrupt(m):
            (check, k), = m["gate"]["gate"].items()
            m["gate"]["gate"][check] = k + 1  # one null raw key more than planted
        rec, result = self.plant_and_run("dq_gate", corrupt)
        self.assertFalse(result["correct"])
        self.assertEqual(len(rec["wrong_detail"]), 1)
        self.assertIn("raw gate rejected", rec["wrong_detail"][0])

    def test_wrong_window_count_is_caught(self):
        def corrupt(m):
            w = next(iter(m["files"][0]["windows"].values()))
            w[1] += 1  # one null user_id more than planted
        rec, result = self.plant_and_run("stream_suite", corrupt)
        self.assertGreater(rec["wrong"], 0)
        self.assertFalse(result["correct"])


class CheckoutTest(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=build.OUT) as d:
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("out"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "dq_gate",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
