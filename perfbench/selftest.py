"""Self-tests of the benchmark's own rules.

    python3 perfbench/selftest.py      # from the repository root

The Python cases check the metric arithmetic; the last case builds the
client and runs its JVM self-test (SelfTest.scala), which checks that a
throwing op is recorded as failed and that the correctness gate rejects
a wrong digest, and prints a digest this side must reproduce.
"""
import datetime
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def op(i, wall, ok=True, family="graph", pass_=0):
    return {"id": i, "pass": pass_, "name": f"q{i}", "family": family, "ok": ok, "error": None if ok else "boom",
            "wall_s": wall, "construct_s": wall, "execute_s": 0.0, "parse_s": 0.0, "plan_nodes": 0}


class Tail(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(metrics.tail(list(range(1, 100)), 0.9))
        self.assertIsNone(metrics.tail([], 0.9))

    def test_median_of_twenty_has_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(20)), 0.5), 9)
        self.assertIsNone(metrics.tail(list(range(19)), 0.5))


class Failures(unittest.TestCase):
    def artifact(self):
        ops = [op(0, 1.0), op(1, 2.0), op(2, 99.0, ok=False), op(3, 3.0), op(4, 50.0, pass_=-1)]
        return {"ops": ops, "setup_s": [5.0, 1.0, 2.0], "timed_s": 10.0, "cached_mb": 1.0,
                "tasks": {"cpu_ns": 4e9, "shuffle_write_bytes": 4e6}}

    def test_failed_op_counts_but_is_not_timed_nor_is_warm_up(self):
        a = self.artifact()
        e2e = metrics.end_to_end(a)
        self.assertEqual(e2e["ops_per_s"][0], 0.3)
        self.assertEqual(e2e["shuffle_mb_per_op"][0], 1.0)
        self.assertEqual(e2e["setup_s"][0], 2.0)
        rep = metrics.report(a)
        self.assertEqual(rep["samples"], 3)
        self.assertEqual(rep["op_p50_s"], 2.0)
        self.assertEqual(rep["cpu_s_per_op"], 1.0)
        self.assertEqual(rep["failed_frac"], 0.2)
        self.assertEqual(rep["failed_ops"], ["q2: boom"])


class Spans(unittest.TestCase):
    def span(self, name, start, end, op=0):
        return {"name": name, "start": start, "end": end, "op": op, "detail": ""}

    def test_self_time_subtracts_covered_children(self):
        spans = [self.span("op", 0, 10), self.span("op.construct", 0, 4), self.span("op.execute", 4, 10),
                 self.span("catalyst.action", 5, 9), self.span("spark.job", 5, 7), self.span("spark.job", 6, 8),
                 self.span("spark.job", 1, 2), self.span("op", 20, 21, op=1)]
        parents = metrics.assign_parents(spans)
        self.assertEqual(parents, [None, 0, 0, 2, 3, 3, 1, None])
        self.assertEqual(metrics.self_times(spans, parents), [0, 3, 2, 1, 2, 2, 1, 1])

    def test_union_clips_and_merges(self):
        self.assertEqual(metrics.union_length([(0, 3), (2, 5), (8, 12)], 1, 10), 6)
        self.assertEqual(metrics.union_length([], 0, 10), 0)


class Client(unittest.TestCase):
    def test_jvm_selftest_and_digest_agreement(self):
        root = Path.cwd().resolve()
        classes, _ = build.build(root)
        done = run.jvm(root, classes, ["--selftest", "1", "--data", str(run.DATA)])
        self.assertEqual(done.returncode, 0, done.stdout + done.stderr[-2000:])
        line = next(l for l in done.stdout.splitlines() if l.startswith("selftest-digest "))
        rows = [(1, "a", 2.5, None, datetime.date(2024, 2, 29)), (3, "b", 0.1 + 0.2, True, None)]
        expected = oracle.digest(["k", "s", "x", "flag", "d"], rows)["sha256"]
        self.assertEqual(line.split()[1], expected)


if __name__ == "__main__":
    unittest.main()
