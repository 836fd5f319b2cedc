"""Tests for tools/plandiff.py: run as `python3 -m unittest tools/test_plandiff.py`."""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plandiff  # noqa: E402

PLAN = """== Physical Plan ==
(1) Scan parquet
Output [2]: [doc_id#%(a)dL, text#%(b)d]
(2) Exchange
Input [2]: [doc_id#%(a)dL, text#%(b)d]
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=%(p)d]
(3) Scan ExistingRDD
Arguments: [doc_id#%(a)dL], MapPartitionsRDD[%(r)d] at localCheckpoint at Barrier.scala:%(l)d
(4) MapPartitions
Arguments: graft.pipeline.MediaOps$$$Lambda$%(r)d/0x00007fe0fd2ce928@%(h)s, obj#%(o)d
"""


def plan(a=7286, b=7287, p=14154, r=5, l=54, h="342daa77", o=526):
    return PLAN % dict(a=a, b=b, p=p, r=r, l=l, h=h, o=o)


def dump(root, name, files):
    d = os.path.join(root, name)
    os.mkdir(d)
    for q, text in files.items():
        with open(os.path.join(d, q + ".txt"), "w", encoding="utf-8") as f:
            f.write(text)
    return d


def run(*argv):
    out = io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
        code = plandiff.main(list(argv))
    return code, out.getvalue()


class NormalizeTest(unittest.TestCase):
    def test_run_to_run_ids_normalize_away(self):
        self.assertEqual(
            plandiff.normalize(plan()),
            plandiff.normalize(plan(a=7288, b=7289, p=13958, r=17, l=61,
                                    h="7440b783", o=553)))

    def test_expression_ids_renumber_by_first_appearance(self):
        self.assertEqual(plandiff.normalize("a#12, b#5, a#12L"), "a#e0, b#e1, a#e0L")

    def test_a_changed_id_sharing_still_shows(self):
        # the same ids, but the second column now reuses the first's id
        self.assertNotEqual(plandiff.normalize("x#1, y#2"),
                            plandiff.normalize("x#1, y#1"))

    def test_a_changed_plan_still_differs(self):
        self.assertNotEqual(
            plandiff.normalize(plan()),
            plandiff.normalize(plan().replace("RoundRobinPartitioning(4)",
                                              "RoundRobinPartitioning(2)")))


class MainTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_equal_dumps_exit_zero(self):
        a = dump(self.root, "a", {"p01": plan(), "q01": "Project [x#1]"})
        b = dump(self.root, "b", {"p01": plan(a=9, b=10, p=3), "q01": "Project [x#8]"})
        code, out = run(a, b)
        self.assertEqual(code, 0)
        self.assertIn("0 of 2 queries differ", out)

    def test_differing_and_missing_queries_are_named(self):
        a = dump(self.root, "a", {"p01": plan(), "p02": "Sort [x#1 ASC]", "p03": "x"})
        b = dump(self.root, "b", {"p01": plan(), "p02": "Sort [x#1 DESC]", "p04": "x"})
        code, out = run("-v", a, b)
        self.assertEqual(code, 1)
        lines = out.splitlines()
        self.assertIn("p02: differs", lines)
        self.assertIn("p03: only in " + a, lines)
        self.assertIn("p04: only in " + b, lines)
        self.assertNotIn("p01: differs", lines)
        self.assertIn("    +Sort [x#e0 DESC]", lines)
        self.assertIn("3 of 4 queries differ", out)

    def test_bad_arguments_exit_two(self):
        self.assertEqual(run(self.root)[0], 2)
        self.assertEqual(run(self.root, os.path.join(self.root, "absent"))[0], 2)


if __name__ == "__main__":
    unittest.main()
