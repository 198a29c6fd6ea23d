"""Self-test of the benchmark harness, at tiny sizes.

Run from the repository root (builds the library once, then takes a few
minutes):
    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import random
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import run  # noqa: E402


def lcs(a, b):
    row = [0] * (len(b) + 1)
    for ca in a:
        diag = 0
        for j, cb in enumerate(b, 1):
            row[j], diag = (diag + 1 if ca == cb else max(row[j], row[j - 1])), row[j]
    return row[-1]


def bench(*args):
    """Runs the benchmark command; returns (exit code, stdout, stderr)."""
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout, proc.stderr


class GeneratorTest(unittest.TestCase):
    def test_dup_matrix_matches_dynamic_programming(self):
        rng = random.Random(7)
        words = gen.vocab(rng, 12)
        titles = [gen.title(rng, words) for _ in range(30)]
        titles += [gen.near_dup(rng, t) for t in titles[:10]]
        dup = gen.dup_matrix(titles)
        for i, a in enumerate(titles):
            for j, b in enumerate(titles):
                if i != j:
                    ratio = round(100.0 * (2 * lcs(a, b)) / (len(a) + len(b)))
                    self.assertEqual(ratio > 80, bool(dup[i, j]), (a, b))

    def test_same_seed_same_inputs(self):
        def files(workload, seed):
            d = tempfile.mkdtemp()
            try:
                run.generate(workload, seed, 2, d, tiny=True)
                out = {}
                for name in sorted(os.listdir(d)):
                    with open(os.path.join(d, name)) as f:
                        out[name] = f.read()
                return out
            finally:
                shutil.rmtree(d)
        for w in run.WORKLOADS:
            self.assertEqual(files(w, 3), files(w, 3), w)
            self.assertNotEqual(files(w, 3), files(w, 4), w)


class HarnessTest(unittest.TestCase):
    """Runs every workload untraced and traced at tiny sizes."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_metrics(self, out, section):
        want = {m["name"]: m["unit"] for m in self.spec[section]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(want, got)
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def run_workload(self, workload, trace):
        code, stdout, stderr = bench("--workload", workload, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--tiny", "--keep")
        self.assertEqual(code, 0, stderr[-3000:])
        out = json.loads(stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"], stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        kept = re.search(r"run directory kept: (\S+)", stderr).group(1)
        return out, os.path.join(ROOT, kept)

    def test_workloads(self):
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload, trace=0):
                out, kept = self.run_workload(workload, 0)
                self.check_metrics(out, "end_to_end")
                shutil.rmtree(kept)
            with self.subTest(workload=workload, trace=1):
                out, kept = self.run_workload(workload, 1)
                self.check_metrics(out, "per_layer")
                with open(os.path.join(kept, "result.json")) as f:
                    res = json.load(f)
                for it in res["items"]:
                    parts = it["construct_s"] + it["action_s"]
                    self.assertLessEqual(abs(parts - it["wall_s"]), 0.05 * it["wall_s"], it)
                m = {k: v["value"] for k, v in out["metrics"].items()}
                modules = sum(m[f"{mod}.jobs"] for mod in run.MODULES)
                self.assertGreater(m["spark.jobs"], 0)
                self.assertAlmostEqual(modules, m["spark.jobs"], places=9)
                with open(os.path.join(kept, "trace.jsonl")) as f:
                    kinds = {json.loads(line)["kind"] for line in f}
                self.assertEqual(kinds, {"workload", "item", "construct", "action",
                                         "job", "stage"})
                shutil.rmtree(kept)

    def test_fails_without_the_program(self):
        bare = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in self.spec["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 self.spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
