"""Tests for the benchmark itself.

    python3 -m unittest discover -s graftbench/tests -v

The statistics and the printed result are tested on synthetic run
records; the determinism test builds the benchmark and starts the JVM
in its input-generation mode (skipped when the sf0.1 tables are not
there).
"""

import contextlib
import io
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def op(i, pass_, seconds, ok=True, layer="rel", traced=False, checked=True,
       **extra):
    return {"id": i, "pass": pass_, "name": "q%d" % i, "layer": layer,
            "seconds": seconds, "ok": ok, "checked": checked,
            "error": None if ok else "boom", "traced": traced, "extra": extra}


def record(ops, passes=None, spans=(), counters=None):
    if passes is None:
        by = {}
        for o in ops:
            by.setdefault(o["pass"], [0.0, o["traced"]])[0] += o["seconds"]
        passes = [{"pass": p, "seconds": s, "traced": t}
                  for p, (s, t) in sorted(by.items())]
    return {"workload": "catalog", "seed": 1, "nproc": 4,
            "jvm_start_s": 0.25, "setup_s": 2.25,
            "run_s": 10.0, "cached_mb": 12.5, "passes": passes, "ops": ops,
            "counters": counters or {}, "inputs_sha256": "x",
            "spans": list(spans),
            "host": {"nproc": 4, "load_1m_start": 0.1, "load_1m_end": 0.2,
                     "commit": None, "source_stamp": "s", "jvm_wall_s": 20.0,
                     "seconds_arg": 10}}


class NearestRankTest(unittest.TestCase):

    def test_nearest_rank_is_ceil_p_n(self):
        xs = list(range(1, 21))          # 1..20
        self.assertEqual(metrics.nearest_rank(xs, 50), 10)
        self.assertEqual(metrics.nearest_rank(xs, 10), 2)
        self.assertEqual(metrics.nearest_rank(xs, 95), 19)
        self.assertEqual(metrics.nearest_rank(xs, 100), 20)
        self.assertEqual(metrics.nearest_rank([7.0], 50), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.nearest_rank([5, 1, 4, 2, 3], 60), 3)

    def test_tail_leaves_ten_samples_above(self):
        for n in (11, 20, 21, 40, 100, 1000):
            xs = [float(i) for i in range(1, n + 1)]
            p, v, count = metrics.tail(xs)
            self.assertEqual(count, n)
            above = sum(1 for x in xs if x > v)
            self.assertGreaterEqual(above, 10, n)
            # the next percentile up would leave fewer than ten
            if p < 99:
                nxt = metrics.nearest_rank(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_tail_percentiles(self):
        self.assertEqual(metrics.tail(list(range(20)))[0], 50)
        self.assertEqual(metrics.tail(list(range(40)))[0], 75)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail(list(range(11)))[0], 9)

    def test_too_few_samples_fall_back_to_the_median(self):
        p, v, n = metrics.tail([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertIsNone(p)
        self.assertEqual((v, n), (3.0, 5))


class FailureCountingTest(unittest.TestCase):

    def test_throws_and_mismatches_are_failures(self):
        ops = [op(1, 1, 1.0), op(2, 1, 0.001, ok=False), op(3, 2, 0.5),
               op(4, 2, 0.4, ok=False)]
        self.assertEqual(metrics.fail_counts(ops), (4, 2))

    def test_a_failed_op_is_never_a_fast_sample(self):
        ops = [op(1, 1, 2.0)] + [op(i, 2, 1.0) for i in range(2, 6)] + \
            [op(9, 2, 0.001, ok=False)]
        m, notes = metrics.end_to_end(record(ops))
        self.assertEqual(m["op_p50_s"], 1.0)
        self.assertEqual(notes["failed"], 1)
        self.assertAlmostEqual(m["ok_ratio"], 1 - 1 / 6)

    def test_ok_ratio_counts_only_judged_ops(self):
        # unchecked ops that ran say nothing; an unchecked throw fails
        ops = [op(1, 1, 1.0), op(2, 2, 1.0, checked=False),
               op(3, 2, 1.0, checked=False, ok=False), op(4, 3, 1.0),
               op(5, 3, 1.0, ok=False)]
        self.assertAlmostEqual(metrics.ok_ratio(ops), 2 / 4)
        self.assertEqual(metrics.fail_counts(ops), (5, 2))
        self.assertIsNone(metrics.ok_ratio([op(1, 2, 1.0, checked=False)]))

    def test_result_line_counts_failures(self):
        ops = [op(1, 1, 1.0), op(2, 2, 1.0), op(3, 3, 1.0, ok=False)]
        line = self._report(record(ops), trace=0)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (3, 1))

    def _report(self, rec, trace):
        a = run.parse(["--workload", "catalog", "--seed", "1",
                       "--seconds", "10", "--trace", str(trace)])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run.report(a, rec)
        return json.loads(buf.getvalue().strip().splitlines()[-1])


class MetricDefinitionsTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_setup_is_jvm_start_to_first_op(self):
        m, _ = metrics.end_to_end(record([op(1, 1, 1.0), op(2, 2, 1.0)]))
        self.assertEqual(m["setup_s"], 2.25)

    def test_cold_and_warm(self):
        ops = [op(1, 1, 3.0), op(2, 1, 1.0), op(3, 2, 1.0), op(4, 2, 0.5),
               op(5, 3, 2.0), op(6, 3, 0.5), op(7, 4, 1.0), op(8, 4, 1.0)]
        m, _ = metrics.end_to_end(record(ops))
        self.assertEqual(m["cold_s"], 4.0)
        self.assertEqual(m["warm_s"], 2.0)
        self.assertEqual(m["op_p50_s"], 1.0)

    def test_every_metric_is_printed_with_its_unit(self):
        ops = [op(1, 1, 1.0), op(2, 2, 1.0), op(3, 3, 1.0)]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rec = record([dict(o, traced=(trace == 1 and o["pass"] != 3))
                          for o in ops])
            line = FailureCountingTest._report(self, rec, trace)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want, key)
            for k, v in line["metrics"].items():
                self.assertIsInstance(v["value"], (int, float), k)

    def test_units_match_the_definitions(self):
        for key, table in (("end_to_end", metrics.END_TO_END),
                           ("per_layer", metrics.PER_LAYER)):
            for m in self.spec[key]:
                self.assertEqual(table[m["name"]][0], m["unit"], m["name"])


def _have_tables():
    try:
        harness.data_dir()
        return True
    except FileNotFoundError:
        return False


@unittest.skipUnless(_have_tables(), "sf0.1 tables not found")
class SeedDeterminismTest(unittest.TestCase):

    def _gen(self, workload, seed):
        with harness.WorkDir() as d:
            path = os.path.join(d, "inputs")
            run.run(run.parse(["--workload", workload, "--seed", str(seed),
                               "--seconds", "10", "--gen-only", path]))
            with open(path, "rb") as fh:
                return fh.read()

    def test_same_seed_same_bytes(self):
        for w in ("catalog", "incremental", "llm_pipeline"):
            a, b, c = self._gen(w, 7), self._gen(w, 7), self._gen(w, 8)
            self.assertTrue(len(a) > 0, w)
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)


if __name__ == "__main__":
    unittest.main()
