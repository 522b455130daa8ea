"""The correctness gate accepts a right answer and rejects wrong ones.

    python3 -m unittest discover -s graftbench/tests
"""
import copy
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen_tables  # noqa: E402
import gen_taxi  # noqa: E402


class TaxiGate(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.root = os.path.join(cls.tmp.name, "in")
        cls.manifest = gen_taxi.generate("taxi_many_files", cls.root, seed=7)
        # what a correct engine reports: every undetectable file skipped with
        # its reason, the nanosecond files read
        skipped = [[f"file:{os.path.join(cls.root, f['path'])}",
                    "unreadable: bad footer" if f["expect_skip"] == "unreadable"
                    else "missing pickup datetime or location"]
                   for f in cls.manifest["files"] if "expect_skip" in f]
        files = check.read_files(cls.manifest, set())
        want, counters = check.expected_taxi(cls.root, cls.manifest, files)
        out = os.path.join(cls.tmp.name, "out")
        os.makedirs(os.path.join(out, "wide_table.parquet"))
        con = duckdb.connect()
        con.register("want", want)
        con.execute(f"COPY (SELECT * FROM want) TO "
                    f"'{out}/wide_table.parquet/part-0.parquet' (FORMAT PARQUET)")
        cls.first = {"ok": True, "error": "", "out_dir": out,
                     "report": {**counters, "skipped": skipped}}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def gate(self, first, timed=()):
        return check.check_taxi(self.root, self.manifest, first, list(timed))

    def test_correct_answer_passes(self):
        self.assertEqual(self.gate(self.first), [])

    def test_wrong_counter_rejected(self):
        for key in ("input_rows", "output_rows", "month_mismatch", "low_count_dropped"):
            bad = copy.deepcopy(self.first)
            bad["report"][key] += 1
            problems = self.gate(bad)
            self.assertTrue(any(key in p for p in problems), (key, problems))

    def test_missing_skip_rejected(self):
        bad = copy.deepcopy(self.first)
        bad["report"]["skipped"] = bad["report"]["skipped"][1:]
        self.assertNotEqual(self.gate(bad), [])

    def test_timed_op_with_other_report_fails(self):
        op = {"ok": True, "report": copy.deepcopy(self.first["report"])}
        op["report"]["output_rows"] -= 1
        self.gate(self.first, [op])
        self.assertFalse(op["ok"])


class QueryGate(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.root = os.path.join(cls.tmp.name, "tables")
        gen_tables.generate(cls.root, seed=7, sf=0.001)
        cls.queries = {"q_seg": {
            "oracle": "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n "
                      "FROM customer GROUP BY 1",
            "floor": ["c_mktsegment", 5]}}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def write_result(self, sql):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        os.makedirs(os.path.join(d, "q_seg"))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW customer AS SELECT * FROM "
                    f"read_parquet('{self.root}/customer.parquet')")
        con.execute(f"COPY ({sql}) TO '{d}/q_seg/part-0.parquet' (FORMAT PARQUET)")
        return d

    def test_correct_result_passes(self):
        d = self.write_result(self.queries["q_seg"]["oracle"])
        op = {"ok": True, "name": "q_seg", "rows": 5}
        self.assertEqual(check.check_queries(self.root, d, self.queries, [op]), [])
        self.assertTrue(op["ok"])

    def test_wrong_result_rejected(self):
        d = self.write_result("SELECT c_mktsegment, CAST(COUNT(*) + 1 AS BIGINT) AS n "
                              "FROM customer GROUP BY 1")
        problems = check.check_queries(self.root, d, self.queries, [])
        self.assertTrue(any("differs from oracle" in p for p in problems), problems)

    def test_floor_enforced(self):
        queries = {"q_seg": {**self.queries["q_seg"], "floor": ["c_mktsegment", 6]}}
        d = self.write_result(self.queries["q_seg"]["oracle"])
        problems = check.check_queries(self.root, d, queries, [])
        self.assertTrue(any("floor" in p for p in problems), problems)

    def test_timed_op_row_count_checked(self):
        d = self.write_result(self.queries["q_seg"]["oracle"])
        op = {"ok": True, "name": "q_seg", "rows": 4}
        check.check_queries(self.root, d, self.queries, [op])
        self.assertFalse(op["ok"])


class WorkDir(unittest.TestCase):
    def test_no_month_or_type_in_work_path(self):
        import run
        # a dash-joined name would end in `…2415-0/`: year 2415, month 0
        self.assertTrue(run.PATH_META.search("taxi_many_files-610382415-0/"))
        for workload in ("taxi_many_files", "taxi_bulk"):
            for seed in (1, 2415, 610382415, 2**31 - 1):
                for trace in (0, 1):
                    name = os.path.basename(run.work_dir(workload, seed, trace))
                    self.assertIsNone(run.PATH_META.search(name), name)


if __name__ == "__main__":
    unittest.main()
