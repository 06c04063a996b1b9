"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The arithmetic tests run in milliseconds; the generator and planted-fault
tests start the benchmark's JVM (about a minute together, plus the first
build).
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


def span(sid, parent, t0, t1, name="x"):
    return {"id": sid, "parent": parent, "name": name, "t0": t0, "t1": t1, "attrs": {}}


class TailRule(unittest.TestCase):
    def test_percentile_leaves_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertAlmostEqual(metrics.tail_percentile(11), 100.0 / 11)
        self.assertIsNone(metrics.tail_percentile(10))

    def test_tail_is_the_sample_with_exactly_ten_above(self):
        xs = [float(i) for i in range(1, 41)]  # 1..40
        t = metrics.tail(xs[::-1])
        self.assertEqual(t, 30.0)
        self.assertEqual(sum(x > t for x in xs), 10)

    def test_tail_needs_more_than_ten_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([1.0] * 10)
        self.assertEqual(metrics.tail([5.0] + [1.0] * 10), 1.0)


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 2, 20, 30), span(4, 1, 50, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 10)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 10)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70), span(4, 1, 40, 45)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 60)

    def test_child_sticking_out_is_clipped(self):
        spans = [span(1, 0, 10, 20), span(2, 1, 5, 15), span(3, 1, 18, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 10 - 5 - 2)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)


class Driver(unittest.TestCase):
    """Starts the benchmark JVM through run.py."""

    def run_bench(self, *args):
        return subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)

    def checksum(self, seed):
        proc = self.run_bench("--checksum", "--seed", str(seed))
        self.assertEqual(proc.returncode, 0)
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(out["checksum"], out["repartitioned"])
        return out["checksum"]

    def test_generator_is_deterministic(self):
        a, b, c = self.checksum(7), self.checksum(7), self.checksum(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_planted_wrong_answer_fails_the_run(self):
        # the fault is caught in the first set-up's warm-up cycle
        proc = self.run_bench("--workload", "serve", "--seed", "3", "--seconds", "1",
                              "--plant-fault")
        self.assertEqual(proc.returncode, 1)
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)


if __name__ == "__main__":
    unittest.main()
