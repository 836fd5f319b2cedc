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
            files = glob.glob(f"{outdir}/{name}/*.parquet")
            sdf = con.sql(
                "SELECT * FROM read_parquet(" + repr(files) + ")").df()
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
    # two-backend diff on the pipeline operators' relational re-expressions
    # (VERDICT r6 #3): Verify writes relback/<op>__df (DataFrame fold) and
    # relback/<op>__sql (SQL-text backend); both must hash-equal each other
    # AND the operator's own output dumped above.
    for dfdir in sorted(glob.glob(f"{outdir}/relback/*__df")):
        name = os.path.basename(dfdir)[: -len("__df")]
        try:
            def rd(d):
                fs = glob.glob(f"{d}/*.parquet")
                return con.sql(
                    "SELECT * FROM read_parquet(" + repr(fs) + ")").df()
            ddf, sdf, odf = rd(dfdir), rd(f"{outdir}/relback/{name}__sql"), rd(f"{outdir}/{name}")
            dh, dn = canon(ddf)
            sh, sn = canon(sdf)
            oh, on = canon(odf)
            cols_ok = sorted(ddf.columns) == sorted(sdf.columns) == sorted(odf.columns)
            if dh == sh == oh and cols_ok:
                ok += 1
                print(f"  PASS relback/{name} rows={dn}")
            else:
                bad += 1
                print(f"  FAIL relback/{name} rows df={dn} sql={sn} op={on} "
                      f"df-vs-sql {'match' if dh == sh else 'MISMATCH'} "
                      f"df-vs-op {'match' if dh == oh else 'MISMATCH'}")
        except Exception as e:
            bad += 1
            print(f"  ERR  relback/{name}: {e}")
    print(f"passed {ok}, failed {bad}")
    return bad


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
