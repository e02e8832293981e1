"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

Both classes build the program first (for SparkEntry.oracleSql); the
second also runs llm_curation once per trace mode (about two minutes).
"""
import contextlib
import copy
import glob
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(BENCH, ".work")


def tree_digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{root}/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        build.ensure()

    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-", dir=WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def inputs(self, workload, seed, tag):
        data = os.path.join(self.tmp, tag)
        manifest = gen.generate(workload, seed, data)
        expected = check.expected(workload, data, manifest, check.load_json(build.ORACLE))
        return tree_digest(data), json.dumps(expected, sort_keys=True)

    def test_same_seed_same_inputs_and_answers(self):
        for w in gen.OPS:
            with self.subTest(workload=w):
                a = self.inputs(w, 11, f"{w}-a")
                b = self.inputs(w, 11, f"{w}-b")
                c = self.inputs(w, 12, f"{w}-c")
                self.assertEqual(a, b)
                self.assertNotEqual(a[0], c[0])
                self.assertNotEqual(a[1], c[1])

    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(gen.OPS))

    def test_without_the_program_the_run_fails(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        build has no program to compile: exit non-zero, print no result."""
        root = os.path.join(self.tmp, "bare")
        shutil.copytree(BENCH, os.path.join(root, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", ".build", "__pycache__"))
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), root)
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "llm_curation",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=root, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


class EndToEnd(unittest.TestCase):
    """One real run of llm_curation per trace mode, kept for the checks."""

    WORKLOAD = "llm_curation"

    @classmethod
    def setUpClass(cls):
        cls.lines = {}
        for trace in (0, 1):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                run.main(["--workload", cls.WORKLOAD, "--seed", "5", "--seconds", "1",
                          "--trace", str(trace), "--keep"])
            cls.lines[trace] = json.loads(buf.getvalue().strip().splitlines()[-1])
        cls.run_dir = os.path.join(WORK, f"{cls.WORKLOAD}-5-0-{os.getpid()}")

    @classmethod
    def tearDownClass(cls):
        for trace in (0, 1):
            shutil.rmtree(os.path.join(WORK, f"{cls.WORKLOAD}-5-{trace}-{os.getpid()}"),
                          ignore_errors=True)

    def test_output_line_carries_every_metric_with_its_unit(self):
        for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            line = self.lines[trace]
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(line["correct"])
            self.assertGreaterEqual(line["attempted"], 1)
            self.assertEqual(line["failed"], 0)
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, units)
            for v in line["metrics"].values():
                self.assertIsInstance(v["value"], (int, float))

    def test_corrupted_expected_answer_counts_as_failed(self):
        d = self.run_dir
        expected = check.load_json(f"{d}/expected.json")
        r = run.Run(f"{d}/out", f"{d}/data", check.load_json(f"{d}/data/manifest.json"), 0.0)
        checks = {e["op"]: e.get("digest") for e in r.ev("check")}
        attempted, failed, _ = check.score(expected, r.execs, checks, f"{d}/out")
        self.assertEqual(failed, 0)
        for op, corrupt in (("l3d_quality_score", lambda w: w.update(digest="0" * 64)),
                            ("curated_write", lambda w: w["sum"].__setitem__(1, w["sum"][1] + 1))):
            with self.subTest(op=op):
                bad = copy.deepcopy(expected)
                corrupt(bad[op])
                n = sum(e["op"] == op for e in r.execs)
                got = check.score(bad, r.execs, checks, f"{d}/out")
                self.assertEqual(got[:2], (attempted, n))
                self.assertEqual(set(got[2]), {op})


if __name__ == "__main__":
    unittest.main()
