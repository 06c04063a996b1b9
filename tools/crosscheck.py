#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf-dir parquet tables, compare with the Spark result parquet
(sorted rows, sorted columns), print per-query verdicts.

    python3 tools/crosscheck.py SF_DIR OUT_DIR [PREFIX ...]

With query-name prefixes only the matching oracles run (e.g. `q10 q13`);
with none every oracle runs."""
import sys, json, glob
import duckdb

sfdir, outdir, prefixes = sys.argv[1], sys.argv[2], sys.argv[3:]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
picked = sorted((n, q) for n, q in oracle.items()
                if not prefixes or any(n.startswith(p) for p in prefixes))
fails = 0
for name, sql in picked:
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"{name}: MISSING spark output"); fails += 1; continue
    try:
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{name}: ERROR {e}"); fails += 1; continue
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        print(f"{name}: SCHEMA mismatch spark={gc} oracle={ec}"); fails += 1; continue
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[ec].sort_values(ec).reset_index(drop=True)
    if len(g) != len(e):
        print(f"{name}: ROWS {len(g)} vs {len(e)}"); fails += 1; continue
    if not g.equals(e):
        # check dtype-insensitive equality
        import pandas as pd
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            print(f"{name}: OK rows={len(g)} (dtype diff only: {dict((c,(str(g[c].dtype),str(e[c].dtype))) for c in gc if g[c].dtype!=e[c].dtype)})")
        except AssertionError as ex:
            print(f"{name}: VALUE mismatch rows={len(g)}: {str(ex)[:300]}")
            fails += 1
        continue
    print(f"{name}: OK rows={len(g)}")
print(f"checked {len(picked)} of {len(oracle)}")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
