"""Tests of the benchmark's own logic: the percentile rule, result
canonicalization, input generation and the metric-name grammar.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import json
import math
import os
import re
import tempfile
import unittest

import canon
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class PercentileRule(unittest.TestCase):
    def test_p90_of_100_samples_leaves_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail(xs), (90, 90.0))
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_tail_falls_back_to_keep_ten_beyond(self):
        xs = list(range(1, 41))  # p90 would leave only 4 beyond
        self.assertEqual(run.tail(xs), (30, 75.0))
        self.assertEqual(sum(1 for x in xs if x > 30), 10)

    def test_fewer_than_twenty_samples_have_no_tail(self):
        self.assertIsNone(run.tail(list(range(19))))
        self.assertIsNone(run.tail([5, 1, 3]))
        self.assertEqual(run.tail(list(range(1, 21))), (10, 50.0))

    def test_failed_ops_count_as_missing_every_target(self):
        xs = [1.0] * 95 + [math.inf] * 5
        self.assertEqual(run.median(xs), 1.0)
        self.assertEqual(run.tail(xs), (1.0, 90.0))
        xs = [1.0] * 50 + [math.inf] * 50
        self.assertEqual(run.tail(xs)[0], math.inf)

    def test_pass_rate_is_the_median_pass(self):
        def q(ms, ok=True):
            return {"ms": ms, "ok": ok}
        # the first pass is cold; a trailing partial pass is not counted
        qs = [q(3000), q(1000), q(1000), q(1000), q(1200), q(800), q(5)]
        self.assertAlmostEqual(run.pass_rate(qs, 2), 1.0)
        self.assertEqual(run.pass_rate([q(1000), q(1, ok=False)], 2), 0.0)
        self.assertTrue(math.isnan(run.pass_rate([q(1000)], 2)))

    def test_median(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 3, 2]), 2.5)
        self.assertTrue(math.isnan(run.median([])))


class Canonicalization(unittest.TestCase):
    def test_negative_zero_and_whole_doubles_render_as_integers(self):
        self.assertEqual(canon.cell(-0.0), "n0")
        self.assertEqual(canon.cell(0.0), canon.cell(0))
        self.assertEqual(canon.cell(42.0), canon.cell(42))
        self.assertNotEqual(canon.cell(0.5), canon.cell(0))

    def test_other_doubles_render_exact_bits(self):
        self.assertEqual(canon.cell(0.1), "f3fb999999999999a")
        self.assertNotEqual(canon.cell(0.1), canon.cell(0.2))

    def test_nan_infinities_and_null_have_own_tokens(self):
        toks = {canon.cell(float("nan")), canon.cell(math.inf),
                canon.cell(-math.inf), canon.cell(None), canon.cell("N")}
        self.assertEqual(len(toks), 5)
        self.assertEqual(canon.cell(float("nan")), canon.cell(-float("nan")))

    def test_dates_are_midnight_timestamps(self):
        self.assertEqual(canon.cell(datetime.date(2024, 1, 2)),
                         canon.cell(datetime.datetime(2024, 1, 2)))
        self.assertEqual(canon.cell(datetime.datetime(1970, 1, 1, 0, 0, 1)),
                         "T1000000")

    def test_decimals_and_nested_values(self):
        self.assertEqual(canon.cell(decimal.Decimal("7.000")), "n7")
        self.assertEqual(canon.cell(decimal.Decimal("0.5")), canon.cell(0.5))
        self.assertEqual(canon.cell([1, None, {"a": 2.0}]), "[n1,N,{n2}]")
        self.assertEqual(canon.cell(True), "b1")

    def test_digest_ignores_row_and_column_order(self):
        a = canon.digest(["b", "A"], [(1, "x"), (2, "y")])
        b = canon.digest(["a", "B"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[1], 2)
        self.assertNotEqual(a, canon.digest(["a", "b"], [("x", 1), ("y", 3)]))


class Generators(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        root = cls.tmp.name
        cls.fit = [os.path.join(root, f"fit{i}") for i in range(3)]
        cls.expected = [gen.fitness(cls.fit[0], 7), gen.fitness(cls.fit[1], 7),
                        gen.fitness(cls.fit[2], 8)]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    @staticmethod
    def files(d):
        out = {}
        for dirpath, _, names in os.walk(d):
            for n in names:
                p = os.path.join(dirpath, n)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, d)] = f.read()
        return out

    def test_fitness_same_seed_same_bytes(self):
        self.assertEqual(self.files(self.fit[0]), self.files(self.fit[1]))
        self.assertNotEqual(self.files(self.fit[0]), self.files(self.fit[2]))

    def test_fitness_row_counts_are_the_reference_counts(self):
        def rows(rel):
            with open(os.path.join(self.fit[2], rel)) as f:
                return sum(1 for _ in f) - 1
        self.assertEqual(rows("fitbit/heartrate_seconds_merged.csv"),
                         gen.HEARTRATE_ROWS)
        self.assertEqual(rows("fitbit/minuteSleep_merged.csv"),
                         gen.SLEEP_ROWS)
        self.assertEqual(rows("fitbit/hourlyCalories_merged.csv"),
                         gen.HOURLY_ROWS)
        self.assertEqual(rows("fitbit/dailyActivity_merged.csv"),
                         gen.DAILY_ROWS)
        self.assertEqual(rows("fitbit/weightLogInfo_merged.csv"),
                         gen.WEIGHT_ROWS)
        self.assertEqual(rows("gym_members_exercise_tracking.csv"),
                         gen.GYM_ROWS)

    def test_fitness_workbooks_and_expected_output(self):
        import zipfile
        with zipfile.ZipFile(os.path.join(self.fit[2],
                                          "gym_recommendation.xlsx")) as z:
            sheet = z.read("xl/worksheets/sheet1.xml").decode()
        self.assertEqual(sheet.count("<row "), gen.MENDELEY_ROWS + 1)
        exp = self.expected[2]
        with open(os.path.join(self.fit[2], "expected.json")) as f:
            self.assertEqual(json.load(f), exp)
        t = exp["tables"]
        self.assertEqual(len(t), 19)
        self.assertEqual(t["dim_date"], gen.DIM_DATE_ROWS)
        self.assertEqual(t["fact_usersnapshot"], t["dim_user"])
        # planted duplicates collapse: fewer users than profile rows
        self.assertLess(t["dim_user"],
                        gen.MENDELEY_ROWS + gen.GYM_ROWS + gen.FITBIT_USERS)
        self.assertLess(t["dim_fooditem"], gen.NUTRITION_ROWS)
        self.assertEqual(exp["quality_score"], 100.0)

    def test_blob_tokens_match_the_pipeline_tokenizer(self):
        self.assertEqual(gen.blob_tokens("Squats, Lunges and Planks"),
                         {"squats", "lunges", "planks"})
        self.assertEqual(gen.blob_tokens(""), set())
        self.assertEqual(gen.classify_goal("Weight Gain"), "build_muscle")
        self.assertEqual(gen.classify_goal(None), "maintain_health")


class TestData(unittest.TestCase):
    def test_copies_match_their_checksums(self):
        run.check_testdata()

    def test_every_table_the_oracle_reads_is_there(self):
        for t in canon.TABLES:
            self.assertTrue(os.path.exists(os.path.join(
                run.TABLES, f"{t}.parquet")), t)


class TraceOverhead(unittest.TestCase):
    @staticmethod
    def op(name, ms, traced, ok=True):
        return {"name": name, "ms": ms, "traced": traced, "ok": ok}

    def test_median_paired_ratio(self):
        qs = [self.op("a", 999, False), self.op("b", 100, True),
              self.op("a", 110, True), self.op("a", 100, False),
              self.op("b", 100, False)]
        # a: 110/100, b: 100/100; the first op is left out
        self.assertAlmostEqual(run.overhead_pct(qs), 5.0)

    def test_unmeasured_is_nan_not_zero(self):
        qs = [self.op("a", 100, False), self.op("a", 100, True),
              self.op("a", 100, False)]
        self.assertTrue(math.isnan(run.overhead_pct(qs)))


class NameGrammar(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units(self):
        names = [w["name"] for w in self.bench["workloads"]]
        for kind in ("end_to_end", "per_layer"):
            for m in self.bench[kind]:
                names.append(m["name"])
                self.assertRegex(m["unit"], UNIT)
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        self.assertFalse(NAME.match("bad name"))
        self.assertFalse(NAME.match(".hidden"))

    def test_benchmark_file_matches_what_run_reports(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))
        self.assertIn("setup_s", e2e)
        self.assertEqual(max(m["bound"] for m in self.bench["end_to_end"]),
                         [m["bound"] for m in self.bench["end_to_end"]
                          if m["name"] == "setup_s"][0])

    def test_records_from_other_machines_are_not_compared(self):
        a = {"nproc": 4, "mem_total_kb": 1, "cpu_model": "x"}
        self.assertTrue(run.same_machine(a, dict(a, seed=3)))
        self.assertFalse(run.same_machine(a, dict(a, nproc=8)))


if __name__ == "__main__":
    unittest.main()
