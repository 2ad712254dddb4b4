"""Tests of the benchmark's correctness comparators.

Run from the repository root: `python3 -m unittest discover -s perfbench/tests`
"""
import json
import os
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


class CompareFramesTest(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, None]})
        b = pd.DataFrame({"v": [None, 0.5], "k": [1, 2]})
        self.assertEqual(checks.compare_frames(a, b), [])

    def test_int_widths_and_float32_unify(self):
        a = pd.DataFrame({"k": pd.Series([1, 2], dtype="int32"),
                          "v": pd.Series([0.5, 1.5], dtype="float32")})
        b = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertEqual(checks.compare_frames(a, b), [])

    def test_value_row_and_column_differences_are_reported(self):
        base = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
        self.assertEqual(len(checks.compare_frames(base, base.assign(v=[1.0, 2.0000001]))), 1)
        self.assertIn("rows", checks.compare_frames(base, base.iloc[:1])[0])
        self.assertIn("columns", checks.compare_frames(base, base.rename(columns={"v": "w"}))[0])
        self.assertEqual(len(checks.compare_frames(
            pd.DataFrame({"s": ["a", "b"]}), pd.DataFrame({"s": ["a", "c"]}))), 1)

    def test_null_differs_from_value(self):
        self.assertTrue(checks.compare_frames(pd.DataFrame({"v": [None]}),
                                              pd.DataFrame({"v": [0.0]})))


class QueryCheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.data = os.path.join(d, "data")
        os.makedirs(self.data)
        pq.write_table(pa.table({"event_id": [0, 1, 2, 3], "user_id": [7, 7, 8, 9],
                                 "event_type": ["click", "view", "click", "click"]}),
                       os.path.join(self.data, "events.parquet"))
        self.oracle = {"qa": "SELECT event_type, count(*) AS n FROM events GROUP BY 1"}

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, df):
        out = os.path.join(self.tmp.name, name)
        os.makedirs(out)
        df.to_parquet(os.path.join(out, "part-0.parquet"))
        return out

    def test_oracle_match_and_mismatch(self):
        c = checks.QueryChecker(self.data, self.oracle)
        good = self.write("good", pd.DataFrame({"n": [1, 3], "event_type": ["view", "click"]}))
        bad = self.write("bad", pd.DataFrame({"n": [1, 2], "event_type": ["view", "click"]}))
        self.assertEqual(c.check("qa", good), [])
        self.assertTrue(c.check("qa", bad))

    def test_missing_output_and_unknown_query_fail(self):
        c = checks.QueryChecker(self.data, self.oracle)
        self.assertTrue(c.check("qa", os.path.join(self.tmp.name, "nothing")))
        out = self.write("x", pd.DataFrame({"a": [1]}))
        self.assertTrue(c.check("q999_unknown", out))

    def test_approx_distinct_bound(self):
        c = checks.QueryChecker(self.data, {})
        ok = self.write("ok", pd.DataFrame({"event_type": ["click", "view"],
                                            "n_users_approx": [3, 1], "n_events": [3, 1]}))
        off = self.write("off", pd.DataFrame({"event_type": ["click", "view"],
                                              "n_users_approx": [4, 1], "n_events": [3, 1]}))
        self.assertEqual(c.check("q49_approx_distinct", ok), [])
        self.assertTrue(c.check("q49_approx_distinct", off))


class CorpusInvariantTest(unittest.TestCase):
    def run_check(self, report, texts, shard_rows):
        with tempfile.TemporaryDirectory() as d:
            shards = os.path.join(d, "shards", "shard=0")
            os.makedirs(shards)
            pq.write_table(pa.table({"doc_id": list(range(shard_rows))}),
                           os.path.join(shards, "part-0.parquet"))
            jsonl = os.path.join(d, "jsonl")
            os.makedirs(jsonl)
            with open(os.path.join(jsonl, "part-0.json"), "w") as fh:
                for i, t in enumerate(texts):
                    fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            return checks.check_corpus(report, os.path.join(d, "shards"), jsonl)

    def test_consistent_run_passes(self):
        self.assertEqual(self.run_check([5, 5, 4, 3, 2, 2], ["a b", "c d"], 2), [])

    def test_each_invariant_is_enforced(self):
        self.assertTrue(self.run_check([5, 5, 4, 5, 2, 2], ["a", "b"], 2))  # count grows
        self.assertTrue(self.run_check([5, 5, 4, 3, 2, 2], ["a", "b"], 3))  # shard rows
        self.assertTrue(self.run_check([5, 5, 4, 3, 2, 3], ["a", "b", "c"], 3))  # shipped > kept
        self.assertTrue(self.run_check([5, 5, 4, 3, 2, 2], ["a", "a"], 2))  # repeated text


class StreamCheckTest(unittest.TestCase):
    ok = {"requests": 10, "responses": 10, "distinctIds": 10, "missing": 0,
          "unexpected": 0, "unmatched": 0}

    def test_exactly_once_passes(self):
        epochs = [{"batch": 0, "minId": 0, "maxId": 4, "n": 5},
                  {"batch": 1, "minId": 5, "maxId": 9, "n": 5}]
        self.assertEqual(checks.check_stream(self.ok, epochs), [])

    def test_duplicates_mismatches_and_gaps_fail(self):
        self.assertTrue(checks.check_stream(dict(self.ok, responses=11), []))
        self.assertTrue(checks.check_stream(dict(self.ok, unmatched=1), []))
        self.assertTrue(checks.check_stream(
            self.ok, [{"batch": 0, "minId": 0, "maxId": 9, "n": 5}]))


if __name__ == "__main__":
    unittest.main()
