"""Tests of the benchmark's own arithmetic, argument checks and input layout.

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import hashlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

COLS = ["finish_ms", "run_ms", "cpu_ms", "gc_ms", "input_rows", "scan_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]


def task(finish, run_ms):
    return [finish, run_ms, run_ms, 0, 0, 0, 0, 0, 0]


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end,
            "codegen_ms": 0.0}


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)], 8, 22), 9)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_driver_time_uses_union_of_overlapping_jobs(self):
        # AQE: two jobs of one query overlap; summing them would give 70 ms
        # of job time and 30 ms of driver time
        trace = {"jobs": [[0, 10, 50], [1, 30, 60]], "tasks": [], "task_cols": COLS}
        c = metrics.layer_counters("sinks", [span(0, -1, "sinks.queryToText", 0, 100)], trace, 4)
        self.assertEqual(c["driver_s"], 0.05)
        self.assertEqual(c["jobs"], 2)

    def test_busy_ratio_at_most_one(self):
        # four cores busy for the whole span; one task began 45 ms before
        # the span: only its 5 ms inside counts (unclipped: 445/400)
        tasks = [task(100, 100) for _ in range(3)] + [task(5, 50), task(100, 95)]
        trace = {"jobs": [], "tasks": tasks, "task_cols": COLS}
        c = metrics.layer_counters("operators", [span(0, -1, "operators.run", 0, 100)], trace, 4)
        self.assertAlmostEqual(c["busy_ratio"], 1.0)
        self.assertEqual(c["tasks"], 5)

    def test_self_time_is_duration_minus_children(self):
        spans = [span(0, -1, "pass", 0, 100),
                 span(1, 0, "step.a", 10, 60), span(2, 1, "sinks.queryToText", 20, 50),
                 span(3, 0, "step.b", 60, 90)]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs, {0: 20, 1: 20, 2: 30, 3: 30})
        self.assertEqual(sum(selfs.values()), 100)


def result(step_walls, failed=()):
    """A raw record with one pass per entry of `step_walls` (seconds); pass
    i has a GC leaving 100 + i MB in its middle, and one outside it."""
    passes, gcs, t = [], [], 0.0
    for i, wall in enumerate(step_walls):
        passes.append({"index": i, "traced": False, "start_ms": t, "end_ms": t + wall * 1000,
                       "cpu_s": wall * 2,
                       "steps": [{"name": "a", "ok": (i, "a") not in failed,
                                  "error": "RuntimeException: boom", "failed_rows": 0}]})
        gcs += [[t + wall * 500, 100.0 + i], [t + wall * 1000 + 50, 900.0]]
        t += wall * 1000 + 100
    return {"setups": [{"setup_ms": 9000.0, "register_ms": 100.0},
                       {"setup_ms": 9400.0, "register_ms": 120.0}],
            "gcs": gcs, "passes": passes, "oracle": {}, "trace": None}


class FailedRatioTest(unittest.TestCase):
    def report(self, res, check_failures=None):
        return metrics.report(res, check_failures or {}, 4, False, {}, "/nonexistent", [])

    def test_clean_run(self):
        full = self.report(result([20.0, 10.0, 12.0]))
        out = full["result"]
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (3, 0))
        self.assertEqual(out["metrics"]["warm_s"]["value"], 11.0)
        self.assertEqual(out["metrics"]["cold_s"]["value"], 20.0)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 9.2)
        # the GCs between passes (900 MB) belong to no pass
        self.assertIn("heap_peak_mb = 102.0000 MB", full["summary"])

    def test_heap_peak_is_largest_gc_in_pass(self):
        p = {"start_ms": 0.0, "end_ms": 100.0}
        self.assertEqual(metrics.heap_peak(p, [[-1, 999], [10, 50], [60, 80], [70, 20]]), 80)
        self.assertIsNone(metrics.heap_peak(p, [[101, 999]]))

    def test_step_that_throws_counts_and_is_not_timed(self):
        # pass 2's step threw after 0.01 s: it must not pull warm_s down
        out = self.report(result([20.0, 10.0, 0.01, 12.0], failed={(2, "a")}))
        r = out["result"]
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (4, 1))
        self.assertEqual(r["metrics"]["warm_s"]["value"], 11.0)
        self.assertIn("failed_ratio = 0.2500 fraction (1 of 4 step calls)", out["summary"])

    def test_failed_output_check_counts(self):
        r = self.report(result([20.0, 10.0, 12.0]), {(1, "a"): "rows: 3 rows differ"})["result"]
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)
        self.assertEqual(r["metrics"]["warm_s"]["value"], 12.0)

    def test_every_pass_failing_gives_no_timing(self):
        r = self.report(result([1.0, 1.0, 1.0], failed={(0, "a"), (1, "a"), (2, "a")}))["result"]
        self.assertFalse(r["correct"])
        self.assertIsNone(r["metrics"]["warm_s"]["value"])


class TracingOverheadTest(unittest.TestCase):
    def test_neighbours_cancel_the_warm_up_trend(self):
        # untraced passes 1 and 3 bracket traced pass 2 on a falling trend:
        # against pass 1 alone the overhead would read -1.5 s
        walls = {0: 20.0, 1: 9.0, 2: 7.5, 3: 7.0}
        clean = [{"index": i, "traced": i % 2 == 0} for i in walls]
        self.assertEqual(metrics.tracing_overhead(clean, walls), -0.5)
        self.assertIsNone(metrics.tracing_overhead(clean[:3], walls))


class ArgumentTest(unittest.TestCase):
    def rejects(self, argv):
        with contextlib.redirect_stderr(io.StringIO()) as err:
            with self.assertRaises(SystemExit) as e:
                run.parse_args(argv)
        self.assertEqual(e.exception.code, 2)
        return err.getvalue()

    def test_valid(self):
        a = run.parse_args(["--workload", "templates", "--seed", "3", "--seconds", "15",
                            "--trace", "1"])
        self.assertEqual((a.workload, a.seed, a.seconds, a.trace), ("templates", 3, 15, 1))

    def test_invalid(self):
        base = {"--workload": "templates", "--seed": "1", "--seconds": "15", "--trace": "0"}
        for key, bad in [("--seed", None), ("--seed", "x"), ("--seed", "-1"),
                         ("--seconds", "0"), ("--seconds", "61"), ("--seconds", "1.5"),
                         ("--workload", "nope"), ("--trace", "2")]:
            args = dict(base, **{key: bad})
            argv = [x for k, v in args.items() if v is not None for x in (k, v)]
            with self.subTest(arg=key, value=bad):
                self.assertIn(key.lstrip("-"), self.rejects(argv))


class InputTest(unittest.TestCase):
    def test_permutation_layout_and_determinism(self):
        import pyarrow.parquet as pq
        digests = []
        fixture = pq.read_table(gen.fixture("documents"))
        for seed in (1, 1, 2):
            with tempfile.TemporaryDirectory() as d:
                sizes = gen.generate(["nation", "documents"], seed, d)
                self.assertEqual(sorted(os.listdir(d)), ["documents.parquet", "nation.parquet"])
                self.assertEqual(sizes["nation"][0], 25)
                self.assertEqual(sizes["documents"][0], 5000)
                t = pq.read_table(os.path.join(d, "documents.parquet"))
                # the same rows, in another order
                self.assertNotEqual(t.column("doc_id"), fixture.column("doc_id"))
                self.assertEqual(t.sort_by("doc_id"), fixture.sort_by("doc_id"))
                with open(os.path.join(d, "documents.parquet"), "rb") as fh:
                    digests.append(hashlib.sha256(fh.read()).hexdigest())
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])

    def test_layout_check_rejects_two_row_groups(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "nation.parquet")
            pq.write_table(pq.read_table(gen.fixture("nation")), p, row_group_size=10)
            with self.assertRaises(RuntimeError):
                gen.layout(p, "nation")


class CheckTest(unittest.TestCase):
    def test_bind(self):
        self.assertEqual(check.bind("x >= CAST(@start AS TIMESTAMP) AND k % @m = 3",
                                    {"start": "1996-01-01", "m": 50}),
                         "x >= CAST('1996-01-01' AS TIMESTAMP) AND k % 50 = 3")

    def test_upsert_keeps_one_batch_row_per_key(self):
        import duckdb
        con = duckdb.connect()
        batch = ("SELECT * FROM (VALUES (1, 1, 'a'), (1, 1, 'b'), (2, 1, 'c')) "
                 "t(l_orderkey, l_linenumber, v)")

        def table(rows):
            return f"SELECT * FROM (VALUES {rows}) t(l_orderkey, l_linenumber, v)"

        self.assertIsNone(check.compare_upsert(con, table("(1, 1, 'b'), (2, 1, 'c')"), batch, "t"))
        self.assertIn("one row for each of 2 keys", check.compare_upsert(
            con, table("(1, 1, 'a'), (1, 1, 'b'), (2, 1, 'c')"), batch, "t"))
        self.assertIn("one row for each of 2 keys",
                      check.compare_upsert(con, table("(1, 1, 'a')"), batch, "t"))
        self.assertIn("1 rows equal no batch row", check.compare_upsert(
            con, table("(1, 1, 'z'), (2, 1, 'c')"), batch, "t"))

    def test_tfrecord_round_trip(self):
        import gzip
        import struct

        def varint(v):
            out = bytearray()
            while True:
                b = v & 0x7F
                v >>= 7
                if v:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def ld(field, payload):
            return varint(field << 3 | 2) + varint(len(payload)) + payload

        def entry(key, feature):
            return ld(1, ld(1, key.encode()) + ld(2, feature))

        feats = (entry("id", ld(3, ld(1, varint(7)))) +
                 entry("neg", ld(3, ld(1, varint((1 << 64) - 5)))) +
                 entry("x", ld(2, ld(1, struct.pack("<f", 1.5)))) +
                 entry("s", ld(1, ld(1, "é".encode()))))
        payload = ld(1, feats)
        record = struct.pack("<Q", len(payload)) + b"\0" * 4 + payload + b"\0" * 4
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "t.tfrecord")
            with gzip.open(p, "wb") as fh:
                fh.write(record * 2)
            self.assertEqual(check.read_tfrecords(p),
                             [{"id": 7, "neg": -5, "x": 1.5, "s": "é"}] * 2)


if __name__ == "__main__":
    unittest.main()
