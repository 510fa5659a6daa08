"""The answer checks catch planted wrong answers.

    python3 -m unittest perfbench/test_check.py
"""
import copy
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gendata  # noqa: E402

ORACLE = ("SELECT n_regionkey, count(*) AS nations, min(n_name) AS first "
          "FROM nation GROUP BY n_regionkey")


class QueryAnswerCheck(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "input")
        gendata.write(cls.data, 7, 0.0001, 20, 20)
        cls.answers = os.path.join(cls.tmp.name, "answers")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                    f"'{cls.data}/nation.parquet'")
        cls.right = con.execute(ORACLE).df()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def result(self, answer, prints=("a", "a", "a"), oracle=ORACLE, rows=5):
        path = os.path.join(self.answers, "q99_test")
        os.makedirs(path, exist_ok=True)
        answer.to_parquet(os.path.join(path, "part-0.parquet"))
        return {"units": 2, "answers": self.answers, "queries": {"q99_test": {
            "fingerprints": list(prints), "rows": rows, "oracle": oracle}}}

    def test_right_answer_passes(self):
        shuffled = self.right.sample(frac=1, random_state=1)[
            ["first", "nations", "n_regionkey"]]
        self.assertEqual(check.query_answers(self.result(shuffled), self.data), [])

    def test_wrong_value_is_caught(self):
        wrong = copy.deepcopy(self.right)
        wrong.loc[0, "nations"] += 1
        found = check.query_answers(self.result(wrong), self.data)
        self.assertEqual(len(found), 2)  # both timed passes are wrong
        self.assertIn("nations", found[0])

    def test_missing_row_is_caught(self):
        found = check.query_answers(self.result(self.right.iloc[1:]), self.data)
        self.assertEqual(len(found), 2)

    def test_unsteady_answer_is_caught(self):
        found = check.query_answers(
            self.result(self.right, prints=("a", "a", "b")), self.data)
        self.assertEqual(found, ["q99_test: answers differ across passes"])

    def test_empty_answer_without_twin_is_caught(self):
        found = check.query_answers(
            self.result(self.right, oracle=None, rows=0), self.data)
        self.assertEqual(len(found), 2)


if __name__ == "__main__":
    unittest.main()
