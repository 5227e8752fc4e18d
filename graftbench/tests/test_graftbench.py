"""Tests of the benchmark itself (not of graft):

  * the generator is deterministic per seed;
  * the oracle accepts exact answers and rejects planted wrong ones
    (unit level, graftbench.SelfTest), and a run with a planted wrong
    answer exits non-zero;
  * a run prints exactly the metric names BENCHMARK.json declares;
  * two ingest runs of one seed write tables with the same checksum;
  * without the library sources the command fails without a result.

Run from the repository root (takes a few minutes; each case starts a
JVM and a local Spark session):

    python3 -m unittest graftbench/tests/test_graftbench.py
"""
import json
import os
import shutil
import subprocess
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = ["python3", os.path.join("graftbench", "run.py")]


def run(*args, cwd=ROOT):
    return subprocess.run(RUN + list(args), cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def result(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def info(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["graftbench_info"]


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b


class GraftBenchTest(unittest.TestCase):

    def test_oracle_and_generator_unit_checks(self):
        p = run("--self-test")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)

    def test_generator_is_deterministic_per_seed(self):
        for w in ("serve", "ingest"):
            a = run("--workload", w, "--seed", "7", "--seconds", "1", "--digest")
            b = run("--workload", w, "--seed", "7", "--seconds", "1", "--digest")
            c = run("--workload", w, "--seed", "8", "--seconds", "1", "--digest")
            self.assertEqual(a.returncode, 0, a.stderr)
            self.assertEqual(a.stdout, b.stdout)
            self.assertNotEqual(a.stdout, c.stdout)

    def test_planted_wrong_answer_fails_the_run(self):
        p = run("--workload", "serve", "--seed", "7", "--seconds", "2", "--trace", "0",
                "--plant-wrong", "1")
        self.assertNotEqual(p.returncode, 0)
        r = result(p)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_metric_names_match_the_declaration(self):
        b = declared()
        checksums = []
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            for w in (x["name"] for x in b["workloads"]):
                p = run("--workload", w, "--seed", "7", "--seconds", "2", "--trace", trace)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                r = result(p)
                self.assertTrue(r["correct"])
                self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
                want = {m["name"]: m["unit"] for m in b[key]}
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                self.assertEqual(got, want)
                if w == "ingest":
                    checksums.append(info(p)["output_checksum"])
        # the same seed builds the same tables in separate processes,
        # traced or not
        self.assertEqual(len(checksums), 2)
        self.assertEqual(checksums[0], checksums[1])

    def test_refuses_without_library_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "graftbench"), os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run("--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0",
                    cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
