"""Tests of the benchmark itself: generator, checkers and span arithmetic.

    python3 perfbench/test_perfbench.py

Standard library only; no JVM needed.
"""

import copy
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["lakehouse_mix", "neardup_stream"]


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                pa = gen.generate(w, 7, 6, a)
                pb = gen.generate(w, 7, 6, b)
                self.assertEqual(pa, pb, w)
                names = files_under(a)
                self.assertTrue(names, w)
                self.assertEqual(names, files_under(b), w)
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_bytes(self):
        for w in WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, 6, a)
                gen.generate(w, 8, 6, b)
                _, mismatch, _ = filecmp.cmpfiles(a, b, files_under(a), shallow=False)
                self.assertTrue(mismatch, w)

    def test_planted_near_duplicates_clear_the_threshold(self):
        docs, novel = gen.neardup_docs(3, 10)
        timed = [d for d in docs if d[0] >= 0]
        dups = len(timed) - len(novel)
        self.assertGreater(dups, 0)
        self.assertLess(dups, len(timed))


def etl_record(name, want):
    """The record a correct ETL cycle over `want` produces."""
    return {"name": name, "ok": True, "ms": 1000.0, "r": {
        "loaded_types": list(gen.ETL_TYPES), "inferred_types": list(gen.ETL_TYPES),
        "rows": want["rows"], "sum_id": want["sum_id"], "sum_qty": want["sum_qty"],
        "sum_price": want["sum_price_cents"] / 100, "nq_count": want["nq_count"],
        "sum_nq": want["sum_nq"], "min_date": want["min_date"], "max_date": want["max_date"],
        "comment_chars": want["comment_chars"], "flags": want["flags"],
        "agg": copy.deepcopy(want["agg"]), "export_lines": want["rows"] + 1,
        "inserted_rows": want["rows"], "inserted_sum_id": want["sum_id"]}}


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.inputs = self.tmp.name
        gen.generate("lakehouse_mix", 4, 12, self.inputs)
        with open(os.path.join(self.inputs, "etl", "expect.json")) as f:
            self.etl_expect = json.load(f)

    def tearDown(self):
        self.tmp.cleanup()

    def test_etl_cycle_accepts_correct_and_rejects_planted_errors(self):
        want = self.etl_expect["cycle_000"]
        self.assertIsNone(check.etl_cycle(etl_record("cycle_000", want), want))
        plants = [
            ("sum_qty", lambda r: r.__setitem__("sum_qty", r["sum_qty"] + 1)),
            ("types", lambda r: r["inferred_types"].__setitem__(2, "string")),
            ("export", lambda r: r.__setitem__("export_lines", r["rows"])),
            ("agg", lambda r: r["agg"][0].__setitem__("n", r["agg"][0]["n"] - 1)),
            ("price", lambda r: r.__setitem__("sum_price", r["sum_price"] + 0.01)),
        ]
        for label, plant in plants:
            bad = etl_record("cycle_000", want)
            plant(bad["r"])
            self.assertIsNotNone(check.etl_cycle(bad, want), label)

    def lake_result(self):
        model = gen.LakeModel()
        recs = {"warm": [], "ops": []}
        for i, (op, want) in enumerate(gen.lake_ops(4, 12, model)):
            if op["ph"] == "seed":
                continue
            if op["op"] == "etl":
                r = etl_record(op["file"], self.etl_expect[op["file"]])
            else:
                r = copy.deepcopy({"point": want, "scan": want, "merge": want}.get(op["op"], {}))
            recs["warm" if op["ph"] == "warm" else "ops"].append(
                {"i": i, "op": op["op"], "ok": True, "ms": 100.0, "r": r})
        final = dict(model.totals(), ok=True, segments=3)
        return dict(recs, final=final, etl_warm=etl_record("warm", self.etl_expect["warm"]))

    def failed(self, result):
        return check.check_lake(result, 4, 12, self.inputs)[2]

    def test_lake_accepts_correct_and_rejects_planted_errors(self):
        result = self.lake_result()
        verdicts, attempted, failed = check.check_lake(result, 4, 12, self.inputs)
        self.assertEqual(failed, 0, [v[2] for v in verdicts if not v[1]])
        self.assertEqual(attempted, len(result["warm"]) + len(result["ops"]) + 2)
        scan = next(r for r in result["ops"] if r["op"] == "scan")
        scan["r"]["n"] += 1
        self.assertEqual(self.failed(result), 1)
        result = self.lake_result()
        result["final"]["sum_v"] -= 1
        self.assertEqual(self.failed(result), 1)
        result = self.lake_result()
        next(r for r in result["ops"] if r["op"] == "point")["r"] = []
        self.assertEqual(self.failed(result), 1)
        result = self.lake_result()
        cycle = next(r for r in result["ops"] if r["op"] == "etl")
        cycle["r"]["r"]["export_lines"] += 1
        self.assertEqual(self.failed(result), 1)
        result = self.lake_result()
        result["ops"][0].update(ok=False, err="boom")
        self.assertEqual(self.failed(result), 1)

    def test_neardup_rejects_an_accepted_duplicate(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("neardup_stream", 6, 6, d)
            docs, novel = gen.neardup_docs(6, 6)
            n = sum(1 for x in docs if x[0] >= 0)
            ok = {"ok": True, "ingested": n, "accepted": list(novel)}
            self.assertEqual(check.check_neardup(ok, d)[1:], (n, 0))
            dup = next(x[1] for x in docs if x[0] >= 0 and x[1] not in set(novel))
            bad = dict(ok, accepted=sorted(novel + [dup]))
            self.assertEqual(check.check_neardup(bad, d)[1:], (n, 1))
            thrown = {"ok": False, "err": "boom"}
            self.assertEqual(check.check_neardup(thrown, d)[1:], (n, n))


def span(i, name, parent, start, end, spark=True, codegen=0.0):
    return {"id": i, "name": name, "parent": parent, "op": 1, "spark": spark,
            "start": start, "end": end, "codegen_ms": codegen}


class SpanArithmeticTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(metrics.union_ms([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(metrics.union_ms([(-5, 5), (200, 300)], 0, 100), 5)
        self.assertEqual(metrics.union_ms([], 0, 100), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(0, "op", -1, 0, 100, spark=False),
                 span(1, "a", 0, 10, 30), span(2, "b", 0, 20, 50), span(3, "c", 0, 90, 100),
                 span(4, "d", 2, 25, 45)]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[0], 100 - 50)
        self.assertEqual(selfs[1], 20)
        self.assertEqual(selfs[2], 30 - 20)
        self.assertEqual(selfs[4], 20)

    def test_jobs_reach_their_span_and_gaps_are_span_time_without_jobs(self):
        trace = {
            "spans": [span(0, "io.ManifestTable.append", -1, 0, 100, codegen=4.0),
                      span(1, "streaming.Stream.runNearDupDir", -1, 200, 400)],
            "jobs": [
                {"group": "pb-0", "start": 10, "end": 40, "tasks": 4, "run_ms": 50,
                 "input_bytes": 1, "output_bytes": 2, "shuffle_read_bytes": 3,
                 "shuffle_write_bytes": 4, "spill_bytes": 0},
                {"group": "pb-0", "start": 30, "end": 60, "tasks": 2, "run_ms": 10,
                 "input_bytes": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0},
                # the streaming engine's own job group: assigned by time
                {"group": "stream-run-id", "start": 250, "end": 300, "tasks": 1, "run_ms": 5,
                 "input_bytes": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0},
                # outside every span (a check query): counted nowhere
                {"group": "", "start": 500, "end": 510, "tasks": 9, "run_ms": 99,
                 "input_bytes": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0},
            ],
            "execs": [{"group": "pb-0", "start": 5, "planning_ms": 7.0},
                      {"group": "", "start": 210, "planning_ms": 3.0}],
        }
        counters, totals = metrics.layer_counters(trace)
        a = counters["io.ManifestTable.append"]
        self.assertEqual((a["calls"], a["jobs"], a["tasks"]), (1, 2, 6))
        self.assertEqual(a["driver_gap_ms"], 100 - 50)
        self.assertEqual(a["planning_ms"], 7.0)
        self.assertEqual(a["codegen_compile_ms"], 4.0)
        s = counters["streaming.Stream.runNearDupDir"]
        self.assertEqual((s["jobs"], s["driver_gap_ms"], s["planning_ms"]), (1, 150, 3.0))
        self.assertEqual(totals["spark.task_run_ms"], 65)
        self.assertEqual(totals["spark.shuffle_write_bytes"], 4)

    def test_tail_is_the_highest_standard_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (990, 99.0, 1000))   # p99.9 has 1 beyond
        self.assertEqual(metrics.tail(xs[:200])[:2], (190, 95.0))
        self.assertEqual(metrics.tail(xs[:100])[:2], (90, 90.0))
        for n in (99, 25, 11, 10, 3):
            # p90 has fewer than ten beyond it: the maximum, never a low rank
            self.assertEqual(metrics.tail(xs[:n]), (n, 100.0, n))
        self.assertEqual(metrics.tail([3, 1, 2])[:2], (3, 100.0))

    def test_read_latency_moves_with_either_read_class(self):
        base = metrics.read_latency_s(170.0, 150.0)
        self.assertAlmostEqual(base, (170.0 * 150.0) ** 0.5 / 1000)
        for point, scan in [(340.0, 150.0), (170.0, 300.0)]:
            self.assertAlmostEqual(metrics.read_latency_s(point, scan) / base, 2 ** 0.5)

    def test_every_layer_metric_has_a_unit_and_fits_the_limit(self):
        units = metrics.layer_units()
        self.assertLessEqual(len(units), 128)
        fake = {"trace": {}, "gc_ms": 1, "fs_files": 1, "fs_bytes": 1}
        e2e = {k: 1.0 for k in metrics.E2E}
        self.assertEqual(set(metrics.layers(fake, e2e, {})), set(units))


if __name__ == "__main__":
    unittest.main()
