#!/usr/bin/env python3
"""Self-tests for the benchmark's own logic.

    python3 perfbench/selftest.py          # Python tests, then the JVM tests
    python3 perfbench/selftest.py --quick  # Python tests only

Covers the tail-percentile rule, the per-kind latency figures, self time
from nested spans, the output check's verdict on a corrupted result, and
the failure tally. The JVM
part (perfbench.SelfTest, run from the repository root after a build)
checks listener attribution for ops run back to back and that a 500 reply
is a failed op; it builds the benchmark first if needed.
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def span(layer, a, b):
    return {"layer": layer, "start": a, "end": b}


class TailRule(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))          # 1..100
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(pct, 90.0)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(beyond, 10)       # 91..100 lie above it

    def test_highest_percentile_grows_with_samples(self):
        value, pct, beyond = metrics.tail(list(range(200)))
        self.assertEqual((pct, beyond), (95.0, 10))
        self.assertAlmostEqual(value, 189.05)

    def test_few_samples_give_the_median(self):
        xs = [5, 1, 4, 2, 3, 6]
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual((value, pct, beyond), (metrics.p50(xs), 50.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))

    def test_order_does_not_matter(self):
        xs = [7.0, 3.0, 9.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class KindStats(unittest.TestCase):
    def test_geometric_mean_of_kind_medians(self):
        samples = [("a", 100.0), ("a", 100.0), ("a", 400.0), ("b", 1000.0), ("b", 1000.0)]
        p50, tail, pct, beyond, med = metrics.kind_stats(samples)
        self.assertEqual(med, {"a": 100.0, "b": 1000.0})
        self.assertAlmostEqual(p50, (100.0 * 1000.0) ** 0.5)
        # five ratios 1, 1, 4, 1, 1: the tail rule gives their median
        self.assertAlmostEqual(tail, p50)
        self.assertEqual((pct, beyond), (50.0, 1))

    def test_the_mix_does_not_move_the_median(self):
        cheap, dear = [("q", 10.0)] * 30, [("r", 1000.0)] * 30
        few = metrics.kind_stats(cheap[:29] + dear[:1])[0]
        many = metrics.kind_stats(cheap[:1] + dear[:29])[0]
        self.assertAlmostEqual(few, many)

    def test_tail_scales_the_spread_within_kinds(self):
        samples = [("a", 10.0)] * 20 + [("a", 20.0)] * 10 + [("b", 100.0)] * 20 + [("b", 200.0)] * 10
        p50, tail, pct, beyond, _ = metrics.kind_stats(samples)
        self.assertAlmostEqual(p50, (10.0 * 100.0) ** 0.5)
        self.assertAlmostEqual(tail, 2 * p50)
        self.assertEqual(metrics.kind_stats([])[:4], (0.0, 0.0, 0.0, 0))

    def test_kind_of_an_op(self):
        self.assertEqual(metrics.op_kind({"kind": "replay", "name": "stream_x"}), "stream_x")
        self.assertEqual(metrics.op_kind({"kind": "append", "name": "0-99"}), "append")


class SelfTime(unittest.TestCase):
    def spans(self):
        return [
            span("op", 0, 100),
            span("operators.build", 0, 40),
            span("scheduler.job", 10, 30),
            span("scheduler.stage", 12, 28),
            span("scheduler.task", 13, 20),
            span("scheduler.task", 14, 27),   # runs beside the first task
            span("sink", 40, 100),
            span("catalyst.analysis", 40, 45),
            span("catalyst.optimization", 45, 50),
            span("catalyst.planning", 50, 55),
            span("scheduler.job", 60, 90),
        ]

    def test_each_layer_is_its_span_minus_its_children(self):
        st = metrics.self_times(self.spans(), 0, 100)
        self.assertEqual(st["operators.build"], 20)   # 40 - job 10..30
        self.assertEqual(st["scheduler.job"], 4 + 30)  # 10..12, 28..30, 60..90
        self.assertEqual(st["scheduler.stage"], 2)    # 12..13, 27..28
        self.assertEqual(st["scheduler.task"], 14)    # 13..27, overlap counted once
        self.assertEqual(st["sink"], 60 - 15 - 30)
        for name in ("analysis", "optimization", "planning"):
            self.assertEqual(st[f"catalyst.{name}"], 5)
        self.assertNotIn("op", st)

    def test_self_times_sum_to_the_op(self):
        st = metrics.self_times(self.spans(), 0, 100)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_uncovered_time_stays_with_the_root(self):
        st = metrics.self_times([span("op", 0, 10), span("sink", 2, 5)], 0, 10)
        self.assertEqual(st, {"op": 7, "sink": 3})

    def test_parents(self):
        sp = metrics.link(self.spans())
        by = {i: s for i, s in enumerate(sp)}
        self.assertIsNone(by[0]["parent"])
        self.assertEqual(by[2]["parent"], 1)     # job inside build
        self.assertEqual(by[4]["parent"], 3)     # task inside stage
        self.assertEqual(by[7]["parent"], 6)     # analysis inside sink
        self.assertEqual(by[10]["parent"], 6)    # second job inside sink


class FailureCounting(unittest.TestCase):
    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.dir = tempfile.mkdtemp()
        for name, values in (("right", [1, 2, 3]), ("corrupted", [1, 2, 4]), ("empty", [])):
            os.makedirs(os.path.join(self.dir, name))
            pq.write_table(pa.table({"k": pa.array(values, type=pa.int64())}),
                           os.path.join(self.dir, name, "part-0.parquet"))
        self.addCleanup(shutil.rmtree, self.dir, True)
        self.con = oracle.connect(self.dir)
        self.sql = "SELECT k::BIGINT AS k FROM (VALUES (1), (2), (3)) t(k) ORDER BY k"

    def test_corrupted_result_fails_the_check(self):
        self.assertIsNone(oracle.check_dump(self.con, os.path.join(self.dir, "right"), self.sql))
        why = oracle.check_dump(self.con, os.path.join(self.dir, "corrupted"), self.sql)
        self.assertIn("row 2", why)
        self.assertIsNotNone(oracle.check_dump(self.con, os.path.join(self.dir, "empty"), None))
        self.assertIsNone(oracle.check_dump(self.con, os.path.join(self.dir, "right"), None))

    def test_negative_zero_differs(self):
        import pandas as pd
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"x": [-0.0]}), pd.DataFrame({"x": [0.0]})))

    def op(self, i, name, ok=True, setup=False, err=None):
        return {"id": i, "kind": "query", "name": name, "setup": setup, "ok": ok,
                "err": err, "phase": 0, "t0": 0, "t1": 1, "marks": [], "extra": {}}

    def test_tally(self):
        res = {"ops": [self.op(1, "q1"), self.op(2, "q2"), self.op(3, "q1"),
                       self.op(4, "/vehicles/1/summary", ok=False, err="HTTP 500: boom"),
                       self.op(5, "q1", setup=True)],
               "checks": [["lakehouse/latest-v3", True, ""]],
               "dumps": [["first/q1", "p1"], ["first/q2", "p2"]]}
        attempted, failed, failed_ops, bad = run.tally(res, {"first/q1": "col k row 2"})
        self.assertEqual(attempted, 4 + 1 + 2)
        # the 500 reply, both timed runs of the key with the wrong output,
        # and the failed check itself
        self.assertEqual(sorted(o["id"] for o in failed_ops), [1, 3, 4])
        self.assertEqual(failed, 4)
        self.assertEqual(list(bad), ["first/q1"])


def jvm_selftest():
    """Run perfbench.SelfTest with the built classpath; returns its exit code."""
    import subprocess
    cp = run.build(os.getcwd())
    work = os.path.join(HERE, "work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return subprocess.run(run.java_cmd(cp, "perfbench.SelfTest", [], work),
                              cwd=work, stdin=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    quick = "--quick" in sys.argv
    result = unittest.main(argv=[sys.argv[0]], exit=False).result
    ok = result.wasSuccessful()
    if not quick:
        ok = jvm_selftest() == 0 and ok
    sys.exit(0 if ok else 1)
