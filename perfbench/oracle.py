"""Compares the analytics workload's query results with their DuckDB
oracles (`SparkEntry.oracleSql`): columns sorted by name, then the same
column names, the same row count, and every value equal as a string, in
row order."""
import glob
import json
import os


def _canon(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def compare(tables_dir, out_dir):
    """{query name: problem, or None when the result matches}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET enable_progress_bar=false")
    for t in ("events", "documents"):
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    found = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            found[name] = "no result parquet"
            continue
        got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            exp = _canon(con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failure
            found[name] = f"oracle error: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            found[name] = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            found[name] = f"rows {len(got)} vs {len(exp)}"
        else:
            found[name] = None
            for c in got.columns:
                eq = got[c].astype(str).values == exp[c].astype(str).values
                if not eq.all():
                    i = (~eq).nonzero()[0][0]
                    found[name] = (f"column {c} row {i}: {got[c].iloc[i]!r} "
                                   f"vs oracle {exp[c].iloc[i]!r}")
                    break
    con.close()
    return found
