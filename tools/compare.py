#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each SparkEntry query,
read the Verify parquet output and compare rows/schema/hash against the
DuckDB oracle SQL run over the same sf dir. Usage:
  python3 tools/compare.py /root/testdata/sf0.001 /tmp/graft_vout
"""
import sys, json, glob, hashlib, os
import duckdb


def canon(df):
    # sort columns by name, then all rows, stringify with stable float fmt
    df = df[sorted(df.columns)]
    recs = df.values.tolist()

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    rows = ["|".join(cell(c) for c in r) for r in recs]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def read_dir(con, d):
    fs = glob.glob(f"{d}/*.parquet")
    return con.sql("SELECT * FROM read_parquet(" + repr(fs) + ")").df()


def relback_names(outdir):
    """The PipelineRelational entries the relback dumps must cover:
    graft.Verify lists them in relback_names.json before it dumps any,
    and writes relback/<op>__sql (the SQL-text backend) for each, plus
    relback/<op>__df (the DataFrame fold) where the text is not itself the
    operator. Raises when that listing is missing: without it an entry whose
    dump failed would go unseen."""
    with open(f"{outdir}/relback_names.json") as f:
        return sorted(json.load(f))


def check_relback(con, outdir, name):
    """(passed, message) for one relback entry: its __sql dump must exist
    and hash-equal the operator's own output, and so must its __df dump
    where one exists."""
    sqldir = f"{outdir}/relback/{name}__sql"
    if not os.path.isdir(sqldir):
        return False, f"FAIL relback/{name}: no __sql dump"
    odf = read_dir(con, f"{outdir}/{name}")
    oh, on = canon(odf)
    ocols = sorted(odf.columns)
    parts = {"sql": read_dir(con, sqldir)}
    dfdir = f"{outdir}/relback/{name}__df"
    if os.path.isdir(dfdir):
        parts["df"] = read_dir(con, dfdir)
    diffs = []
    for k, d in parts.items():
        h, n = canon(d)
        if h != oh or sorted(d.columns) != ocols:
            diffs.append(f"{k}-vs-op MISMATCH ({k}={n} op={on} rows)")
    if diffs:
        return False, f"FAIL relback/{name} " + ", ".join(diffs)
    return True, f"PASS relback/{name} rows={on} ({'+'.join(sorted(parts))})"


def main(sfdir, outdir):
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in glob.glob(f"{sfdir}/*.parquet"):
        name = t.split("/")[-1].replace(".parquet", "")
        # graft.GenScale writes each table as a directory of part files
        src = f"{t}/*.parquet" if os.path.isdir(t) else t
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    ok = bad = 0
    for name in sorted(oracle):
        try:
            sdf = read_dir(con, f"{outdir}/{name}")
            odf = con.sql(oracle[name]).df()
            sh, sn = canon(sdf)
            oh, on = canon(odf)
            scols = sorted(sdf.columns)
            ocols = sorted(odf.columns)
            if sh == oh and scols == ocols:
                ok += 1
                print(f"  PASS {name} rows={sn}")
            else:
                bad += 1
                print(f"  FAIL {name} rows {sn}/{on} cols {scols} vs {ocols} "
                      f"hash {'match' if sh == oh else 'MISMATCH'}")
        except Exception as e:
            bad += 1
            print(f"  ERR  {name}: {e}")
    try:
        names = relback_names(outdir)
    except Exception as e:
        names = []
        bad += 1
        print(f"  ERR  relback: {e}")
    for name in names:
        try:
            passed, msg = check_relback(con, outdir, name)
        except Exception as e:
            passed, msg = False, f"ERR  relback/{name}: {e}"
        ok, bad = ok + passed, bad + (not passed)
        print(f"  {msg}")
    print(f"passed {ok}, failed {bad}")
    return bad


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
