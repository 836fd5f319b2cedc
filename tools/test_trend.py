"""Tests for tools/trend.py: run as `python3 -m unittest tools/test_trend.py`."""
import contextlib
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trend  # noqa: E402

SF = "/data/sf0.1"


def run(name, cpus=None, **extra):
    """A (file, artifact) history entry; cpus=None is a pre-`cpus` artifact."""
    d = {"sf": SF, "queries": {"q01": 1.0, "p16": 2.0}}
    if cpus is not None:
        d["cpus"] = cpus
    d.update(extra)
    return (f"bench_history/bench_{name}.json", d)


def quietly(fn, *args):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        result = fn(*args)
    return result, out.getvalue()


class PickPairsTest(unittest.TestCase):
    def test_four_core_run_never_pairs_with_cpus_less_history(self):
        runs = [run("1", None), run("2", None), run("3", "4")]
        for mode in ("latest", "all"):
            pairs, _ = quietly(trend.pick_pairs, runs, mode)
            for (_, p), (_, c) in pairs:
                self.assertEqual("cpus" in p, "cpus" in c, mode)
        latest, out = quietly(trend.pick_pairs, runs, "latest")
        self.assertEqual(latest, [])
        self.assertIn("no previous run", out)
        # --all still pairs the two historical runs with each other
        pairs, _ = quietly(trend.pick_pairs, runs, "all")
        self.assertEqual([(p[0], c[0]) for p, c in pairs],
                         [(runs[0][0], runs[1][0])])

    def test_same_cpus_pair_and_different_cpus_do_not(self):
        runs = [run("1", "4"), run("2", "8"), run("3", "4")]
        pairs, _ = quietly(trend.pick_pairs, runs, "latest")
        self.assertEqual([(p[0], c[0]) for p, c in pairs],
                         [(runs[0][0], runs[2][0])])

    def test_contended_historical_artifact_is_skipped_as_baseline(self):
        runs = [run("1"), run("2", contended_record=True),
                run("3", host_contended=True), run("4")]
        pairs, _ = quietly(trend.pick_pairs, runs, "latest")
        self.assertEqual([(p[0], c[0]) for p, c in pairs],
                         [(runs[0][0], runs[3][0])])

    def test_sf1_mode_keeps_the_host_rule(self):
        sf1 = "target/sf1"
        runs = [run("1", None, sf=sf1), run("2", "4"), run("3", "4", sf=sf1)]
        pairs, _ = quietly(trend.pick_pairs, runs, "sf1")
        self.assertEqual(pairs, [])


class CompareTest(unittest.TestCase):
    def test_retry_note_renders_for_a_flagged_query(self):
        prev = run("1", "4")[1]
        cur = run("2", "4", queries={"q01": 1.0, "p16": 4.0},
                  query_detail={"p16": {"med": 4.0, "retry": 2.2}})[1]
        _, out = quietly(trend.compare, "a.json", prev, "b.json", cur)
        self.assertIn("FLAG p16: 2.000s -> 4.000s = 2.00x", out)
        self.assertIn("retry=2.200s (1.10x prev)", out)
        self.assertNotIn("WARNING", out)


if __name__ == "__main__":
    unittest.main()
