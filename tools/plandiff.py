#!/usr/bin/env python3
"""Diff two PlanDump directories modulo the ids that change run to run.

`runMain graft.PlanDump <outDir>` writes one `.explain("formatted")` file
per query. Two dumps of the same code still differ in ids, so before
comparing each file this tool normalizes:

  - expression ids (`doc_id#7286L`, `obj#526`, `scalar-subquery#12`):
    renumbered in order of first appearance, so a file whose plan only
    carries other ids compares equal, while a change in which
    expressions share an id still shows;
  - exchange ids `plan_id=N`;
  - RDD ids `RDD[N]` (the checkpointed relations behind a Barrier);
  - the line in `Barrier.scala:NN`;
  - JVM lambda identities (`$$Lambda$4603/0x00007f...@342daa77`), which
    the typed MediaOps `MapPartitions` nodes print.

Usage:
  python3 tools/plandiff.py A B        # names of the queries that differ
  python3 tools/plandiff.py -v A B     # ... and a unified diff of each

Prints one line per query that differs, or is present in only one
directory, and exits 1 when there is any; exits 0 when every file matches.
"""
import difflib
import os
import re
import sys

_LAMBDA = re.compile(r"\$\$Lambda[$\w/@.]*")
_BARRIER = re.compile(r"Barrier\.scala:\d+")
_RDD = re.compile(r"RDD\[\d+\]")
_PLAN_ID = re.compile(r"plan_id=\d+")
_EXPR_ID = re.compile(r"#\d+")


def normalize(text):
    """The plan text with run-to-run ids replaced (see the module doc)."""
    text = _LAMBDA.sub("$$Lambda", text)
    text = _BARRIER.sub("Barrier.scala:NN", text)
    text = _RDD.sub("RDD[N]", text)
    text = _PLAN_ID.sub("plan_id=N", text)
    ids = {}

    def renumber(m):
        return "#e%d" % ids.setdefault(m.group(0), len(ids))

    return _EXPR_ID.sub(renumber, text)


def _plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def _read(d, name):
    with open(os.path.join(d, name + ".txt"), encoding="utf-8") as f:
        return normalize(f.read())


def diff_dirs(a, b):
    """[(query, reason, unified diff lines)] for every query that differs."""
    pa, pb = _plans(a), _plans(b)
    out = []
    for name in sorted(pa | pb):
        if name not in pb:
            out.append((name, "only in " + a, []))
        elif name not in pa:
            out.append((name, "only in " + b, []))
        else:
            ta, tb = _read(a, name), _read(b, name)
            if ta != tb:
                lines = list(difflib.unified_diff(
                    ta.splitlines(), tb.splitlines(),
                    os.path.join(a, name), os.path.join(b, name), lineterm=""))
                out.append((name, "differs", lines))
    return out


def main(argv):
    verbose = "-v" in argv
    args = [x for x in argv if x != "-v"]
    if len(args) != 2 or not all(os.path.isdir(d) for d in args):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    diffs = diff_dirs(*args)
    for name, reason, lines in diffs:
        print("%s: %s" % (name, reason))
        if verbose:
            for line in lines:
                print("    " + line)
    n = len(_plans(args[0]) | _plans(args[1]))
    print("%d of %d queries differ" % (len(diffs), n))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
