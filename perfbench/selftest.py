"""Self-tests of the benchmark's own measurement code.

    python3 perfbench/selftest.py            # unit tests, a few seconds
    python3 perfbench/selftest.py --smoke    # plus one short run per workload

The unit tests cover the tail-percentile rule, span self time, the
write/space amplification accounting on a small hand-built table log,
and the process-tree CPU time the CPU metrics are built from.
The smoke runs start Spark, so they take about a minute per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    Span,
    bytes_written,
    file_sizes,
    highest_supported_percentile,
    log_activity,
    percentile,
    samples_beyond,
    self_times,
    tree_cpu_s,
    union_length,
)


class TailRule(unittest.TestCase):
    def test_at_least_ten_beyond(self):
        for n in range(11, 400):
            p = highest_supported_percentile(n)
            self.assertGreaterEqual(samples_beyond(n, p), 10, n)
            if p < 99:
                self.assertLess(samples_beyond(n, p + 1), 10, n)

    def test_too_few_samples(self):
        self.assertIsNone(highest_supported_percentile(10))

    def test_known_values(self):
        self.assertEqual(highest_supported_percentile(24), 60)
        self.assertEqual(highest_supported_percentile(1001), 99)

    def test_percentile_interpolates(self):
        self.assertEqual(percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(percentile([5.0], 90), 5.0)


def span(sid, parent, start, end):
    return Span(sid, parent, f"s{sid}", start, end, 0, "")


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        # root 0..10 with children 1..4 and 3..6 (union 1..6) and a
        # grandchild 2..3 inside the first child
        spans = [span(0, None, 0, 10), span(1, 0, 1, 4), span(2, 0, 3, 6),
                 span(3, 1, 2, 3)]
        st = self_times(spans)
        self.assertAlmostEqual(st[0], 5.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_child_outside_parent_is_clipped(self):
        st = self_times([span(0, None, 0, 2), span(1, 0, 1, 5)])
        self.assertAlmostEqual(st[0], 1.0)

    def test_union_length(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(union_length([]), 0)


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(data)


class Amplification(unittest.TestCase):
    """A two-commit table log written by hand: version 0 adds one file,
    version 1 removes it and adds two, and writes a checkpoint."""

    def test_log_and_bytes(self):
        with tempfile.TemporaryDirectory() as root:
            t = os.path.join(root, "t")
            log = os.path.join(t, "_delta_log")
            _write(os.path.join(t, "a.parquet"), "x" * 100)
            _write(os.path.join(log, f"{0:020d}.json"),
                   '{"protocol":{}}\n{"add":{"path":"a.parquet"}}\n')
            before = file_sizes([t])
            _write(os.path.join(t, "b.parquet"), "x" * 60)
            _write(os.path.join(t, "c.parquet"), "x" * 40)
            v1 = ('{"remove":{"path":"a.parquet"}}\n{"add":{"path":"b.parquet"}}\n'
                  '{"add":{"path":"c.parquet"}}\n')
            _write(os.path.join(log, f"{1:020d}.json"), v1)
            _write(os.path.join(log, f"{1:020d}.checkpoint.parquet"), "x" * 30)
            _write(os.path.join(log, "_last_checkpoint"), '{"version":1}')
            after = file_sizes([t])

            act = log_activity(before, after)
            self.assertEqual(act, {"commits": 1, "checkpoints": 1,
                                   "log_bytes": len(v1), "adds": 2, "removes": 1})
            # write_amp's numerator: every byte created between the listings
            written = bytes_written(before, after)
            self.assertEqual(written, 60 + 40 + len(v1) + 30 + len('{"version":1}'))
            # space_amp's numerator: every byte on disk at the end; the
            # live data is b and c, so a and the log are the overhead
            on_disk = sum(after.values())
            self.assertEqual(on_disk - (60 + 40), 100 + sum(
                sz for p, sz in after.items() if "/_delta_log/" in p))

    def test_rewritten_pointer_counts_whole(self):
        before = {"/t/_delta_log/_last_checkpoint": 13}
        self.assertEqual(bytes_written(before, {"/t/_delta_log/_last_checkpoint": 14}), 14)
        self.assertEqual(bytes_written(before, before), 0)


class TreeCpu(unittest.TestCase):
    def test_counts_children_alive_and_reaped(self):
        # a child spins for 0.3 s of CPU, says so, then waits; the parent
        # waits on the pipe without spinning
        busy = ("import sys, time\nt = time.process_time()\n"
                "while time.process_time() - t < 0.3: pass\n"
                "print('done', flush=True)\nsys.stdin.read()\n")
        before = tree_cpu_s(os.getpid())
        child = subprocess.Popen([sys.executable, "-c", busy], stdin=subprocess.PIPE,
                                 stdout=subprocess.PIPE, text=True)
        self.assertEqual(child.stdout.readline().strip(), "done")
        alive = tree_cpu_s(os.getpid()) - before
        child.communicate("")
        reaped = tree_cpu_s(os.getpid()) - before
        self.assertGreaterEqual(alive, 0.28)
        self.assertGreaterEqual(reaped, 0.28)
        self.assertLess(tree_cpu_s(os.getpid()), before + 2.0)


class Smoke(unittest.TestCase):
    """One short run of each workload: it must exit 0 and print a
    correct result with every end-to-end metric."""

    def test_every_workload(self):
        root = os.path.dirname(HERE)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in bench["workloads"]:
            with self.subTest(workload=w["name"]):
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                     w["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
                    cwd=root, capture_output=True, text=True, timeout=600)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                res = json.loads(r.stdout.strip().splitlines()[-1])
                self.assertTrue(res["correct"], r.stdout[-2000:])
                self.assertEqual(set(res["metrics"]),
                                 {m["name"] for m in bench["end_to_end"]})


if __name__ == "__main__":
    smoke = "--smoke" in sys.argv
    if smoke:
        sys.argv.remove("--smoke")
    else:
        del Smoke
    unittest.main()
