"""The benchmark's own tests.

    python3 -m unittest perfbench/test_bench.py       (about three minutes)

They run the real harness: a deliberately wrong result (injected with
PERFBENCH_CORRUPT=<op name>) must be counted as a failed op, and the
benchmark must refuse, without printing a result, in a directory that
holds only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload, corrupt="", cwd=ROOT, seconds=1):
    env = dict(os.environ, PERFBENCH_CORRUPT=corrupt)
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", "0"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=400)


class WrongResults(unittest.TestCase):
    def assert_counted(self, workload, op):
        out = bench(workload, corrupt=op)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        lines = out.stdout.strip().splitlines()
        res, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertGreater(detail["error_rate"], 0)
        self.assertTrue(any(op.split(".")[0] in e for e in detail["errors"]),
                        detail["errors"])

    def test_wrong_query_checksum_is_a_failed_op(self):
        self.assert_counted("queries", "q1_agg")

    def test_wrong_stream_sink_is_a_failed_op(self):
        self.assert_counted("lifecycle", "stream")


class Contract(unittest.TestCase):
    def test_refuses_without_the_program_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "out")) as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"), ignore=shutil.ignore_patterns(
                "out", ".build", "target", "__pycache__"))
            out = bench("queries", cwd=tmp)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout.strip(), "")

    def test_tail_keeps_ten_samples_beyond_it(self):
        values = [float(i) for i in range(1, 41)]
        value, p = run.tail(values, 40)
        self.assertEqual(p, 0.75)
        self.assertEqual(sum(v > value for v in values), 10)
        # too few samples for a tail: it falls back to the median
        self.assertEqual(run.tail(values[:12], 12), (6.0, 0.5))


if __name__ == "__main__":
    unittest.main()
