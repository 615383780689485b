"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The input and oracle tests take seconds. The end-to-end ones run the
benchmark itself (about a minute per run, six runs); they build the
program first if needed.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(HERE, "work", "tests")
TINY = {"etl_daily": dict(days=2, files_per_day=1, videos_per_file=20,
                          channels_per_day=4),
        "table_cdc": dict(rows=2_000, batches=4)}


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def same_tree(a, b):
    fa, fb = files_under(a), files_under(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False) for f in fa)


class Inputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for wl, sizes in TINY.items():
            a, b, c = (os.path.join(TMP, wl, x) for x in "abc")
            for d, seed in ((a, 7), (b, 7), (c, 8)):
                os.makedirs(d)
                run.make_inputs(wl, d, seed, sizes)
            with self.subTest(workload=wl):
                self.assertTrue(same_tree(a, b))
                self.assertFalse(same_tree(a, c))

    def test_etl_expected_totals_follow_first_write_wins(self):
        d = os.path.join(TMP, "etl")
        plan = gen.etl_days(d, 3, days=2, files_per_day=2, videos_per_file=40,
                            channels_per_day=5)
        first, second = (day["expected"] for day in plan["days"])
        self.assertGreater(second["fact_rows"], first["fact_rows"])
        # day one's totals do not move when day two lands
        day1 = plan["days"][0]["dir"].replace("/", "-")
        self.assertEqual(first["per_date"][day1], second["per_date"][day1])


    def test_seed_moves_hot_users_but_not_residues(self):
        a = gen._user_ids(np.random.default_rng(1))
        b = gen._user_ids(np.random.default_rng(2))
        ranks = np.arange(1, gen.MAX_RANK + 1)
        for ids in (a, b):
            self.assertEqual(len(set(ids[1:])), gen.MAX_RANK)
            self.assertTrue((ids[1:] % 7 == ranks % 7).all())
        self.assertFalse((a == b).all())


class Oracle(unittest.TestCase):
    def test_compare_catches_a_changed_value_and_an_extra_row(self):
        exp = pd.DataFrame({"k": [1, 2], "v": [10, 20]})
        self.assertIsNone(oracle.compare(exp[::-1].copy(), exp))
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"k": [1, 2], "v": [10, 21]}), exp))
        self.assertIsNotNone(oracle.compare(pd.concat([exp, exp.head(1)]), exp))


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"] if len(lines) >= 2 else None
    return p.returncode, (json.loads(lines[-1]) if lines else None), report


class EndToEnd(unittest.TestCase):
    def test_exact_counts_repeat_for_one_seed(self):
        counts = {"etl_daily": ["engine.data_files", "engine.versions", "spark.jobs"],
                  "table_cdc": ["engine.data_files", "engine.versions",
                                "streaming.batches"]}
        for wl, names in counts.items():
            runs = [bench("--workload", wl, "--seed", "5", "--seconds", "1",
                          "--trace", "1") for _ in range(2)]
            with self.subTest(workload=wl, check="counts repeat"):
                a, b = (r[1]["metrics"] for r in runs)
                for n in names:
                    self.assertGreater(a[n]["value"], 0, n)
                    self.assertEqual(a[n]["value"], b[n]["value"], n)
            with self.subTest(workload=wl, check="correct"):
                for rc, res, report in runs:
                    self.assertTrue(res["correct"], report["failures"][:3])
                    self.assertEqual(rc, 0)

    def test_or_delete_matches_the_oracle(self):
        # fails on a program whose catalog DELETE drops the untranslatable
        # side of an OR (perfbench/README.md, "Known defect")
        rc, res, report = bench("--workload", "table_cdc_or_delete", "--seed", "5",
                                "--seconds", "1", "--trace", "0")
        self.assertTrue(res["correct"], report["failures"][:3])
        self.assertEqual(rc, 0)

    def test_a_wrong_answer_counts_as_a_failure(self):
        rc, res, report = bench("--workload", "table_cdc", "--seed", "5", "--seconds", "1",
                                "--trace", "0", "--corrupt", "q_topk_per_group")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        wrong = [f for f in report["failures"] if " q_topk_per_group: " in f]
        self.assertEqual(len(wrong), 3, report["failures"])


if __name__ == "__main__":
    unittest.main()
