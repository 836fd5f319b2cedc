"""Tests for tools/compare.py: run as `python3 -m unittest tools/test_compare.py`.

`canon` is the row-set hash both the local gate replica (compare.py) and
perfbench's output check use, so these pin the properties a comparison
relies on: what must not change the hash, and what must. The relback
tests pin the walk over graft.Verify's `relback/` dumps.
"""
import contextlib
import hashlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import canon, check_relback, main, relback_names  # noqa: E402


def md5_rows(rows):
    return hashlib.md5("\n".join(sorted(rows)).encode()).hexdigest()


class CanonTest(unittest.TestCase):

    def setUp(self):
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()

    def q(self, sql):
        return self.con.sql(sql).df()

    def test_column_and_row_order_do_not_change_the_hash(self):
        a = pd.DataFrame({"id": [1, 2, 3], "name": ["x", "y", "z"]})
        b = pd.DataFrame({"name": ["z", "x", "y"], "id": [3, 1, 2]})
        self.assertEqual(canon(a), canon(b))
        self.assertEqual(canon(a)[1], 3)

    def test_floats_round_at_nine_places(self):
        h = lambda v: canon(pd.DataFrame({"d": [v]}))[0]  # noqa: E731
        self.assertEqual(h(0.1 + 0.2), h(0.3))
        self.assertEqual(h(1.0 + 4e-10), h(1.0))
        self.assertNotEqual(h(1.0 + 2e-9), h(1.0))
        # the rendering is the repr of the rounded value
        self.assertEqual(h(0.1 + 0.2), md5_rows(["0.3"]))

    def test_null_renders_as_NULL(self):
        df = self.q("SELECT * FROM (VALUES (1::BIGINT, 'a'), (2, NULL)) t(id, s)")
        self.assertEqual(canon(df), (md5_rows(["1|a", "2|NULL"]), 2))

    def test_null_bearing_bigint_hashes_the_same_from_parquet_and_from_a_query(self):
        sql = "SELECT * FROM (VALUES (1::BIGINT, 10::BIGINT), (2, NULL), (3, -7)) t(id, v)"
        tmp = tempfile.mkdtemp()
        try:
            path = os.path.join(tmp, "t.parquet")
            self.con.sql(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
            from_parquet = self.q("SELECT * FROM read_parquet(" + repr([path]) + ")")
            self.assertEqual(canon(from_parquet), canon(self.q(sql)))
        finally:
            shutil.rmtree(tmp)

    def test_different_values_give_different_hashes(self):
        base = "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (2, 'b', 1.5)) t(id, s, d)"
        h = canon(self.q(base))
        for other in [
            "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (3, 'b', 1.5)) t(id, s, d)",
            "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (2, 'c', 1.5)) t(id, s, d)",
            "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (2, 'b', 1.25)) t(id, s, d)",
            "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (2, NULL, 1.5)) t(id, s, d)",
            "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE)) t(id, s, d)",
        ]:
            self.assertNotEqual(canon(self.q(other)), h, other)


class RelbackTest(unittest.TestCase):

    OP = "SELECT * FROM (VALUES (1::BIGINT, 'a'), (2, 'b')) t(doc_id, s)"

    def setUp(self):
        self.con = duckdb.connect()
        self.out = tempfile.mkdtemp()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.out)

    def dump(self, rel, sql):
        d = os.path.join(self.out, rel)
        os.makedirs(d)
        self.con.sql(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT parquet)")

    def listing(self, names):
        with open(os.path.join(self.out, "relback_names.json"), "w") as f:
            json.dump(names, f)

    def check(self):
        self.listing(["p99_op"])
        self.assertEqual(relback_names(self.out), ["p99_op"])
        return check_relback(self.con, self.out, "p99_op")

    def run_main(self):
        """compare.main over this dump with no oracle queries: the failed
        count of the relback walk alone."""
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({}, f)
        sfdir = os.path.join(self.out, "sf")
        os.makedirs(sfdir)
        with contextlib.redirect_stdout(io.StringIO()) as log:
            bad = main(sfdir, self.out)
        return bad, log.getvalue()

    def test_sql_only_entry_equal_to_the_operator_passes(self):
        self.dump("p99_op", self.OP)
        self.dump("relback/p99_op__sql", self.OP + " ORDER BY doc_id DESC")
        passed, msg = self.check()
        self.assertTrue(passed, msg)

    def test_sql_only_entry_that_differs_from_the_operator_fails(self):
        self.dump("p99_op", self.OP)
        self.dump("relback/p99_op__sql",
                  "SELECT * FROM (VALUES (1::BIGINT, 'a'), (2, 'c')) t(doc_id, s)")
        passed, msg = self.check()
        self.assertFalse(passed, msg)

    def test_df_without_sql_fails(self):
        self.dump("p99_op", self.OP)
        self.dump("relback/p99_op__df", self.OP)
        passed, msg = self.check()
        self.assertFalse(passed, msg)
        self.assertIn("no __sql", msg)

    def test_df_is_checked_where_it_exists(self):
        self.dump("p99_op", self.OP)
        self.dump("relback/p99_op__sql", self.OP)
        self.dump("relback/p99_op__df", "SELECT 1::BIGINT AS doc_id, 'a' AS s")
        passed, msg = self.check()
        self.assertFalse(passed, msg)

    def test_listed_entry_with_no_dump_at_all_fails(self):
        # a relback build that threw leaves no directory: the listing is
        # what still counts it
        self.dump("p99_op", self.OP)
        self.dump("p98_op", self.OP)
        self.dump("relback/p98_op__sql", self.OP)
        self.listing(["p98_op", "p99_op"])
        self.assertEqual(relback_names(self.out), ["p98_op", "p99_op"])
        bad, log = self.run_main()
        self.assertEqual(bad, 1, log)
        self.assertIn("FAIL relback/p99_op: no __sql dump", log)
        self.assertIn("PASS relback/p98_op", log)

    def test_missing_listing_fails(self):
        self.dump("p99_op", self.OP)
        self.dump("relback/p99_op__sql", self.OP)
        bad, log = self.run_main()
        self.assertEqual(bad, 1, log)
        self.assertIn("relback_names.json", log)


if __name__ == "__main__":
    unittest.main()
