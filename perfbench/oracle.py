"""Checks the board's query outputs against their oracle SQL run in DuckDB
over the same corpus.

The comparison follows the repository's oracle gate: columns sorted by name,
rows sorted, every value compared as a string, with no float tolerance.
"""
import json
import os
import time


def check(out_dir, threads):
    """Returns one message per query whose output differs from its oracle,
    and the seconds each oracle took."""
    import duckdb  # imported here: only the backfill workload runs the board
    corpus = open(os.path.join(out_dir, "corpus_dir")).read().strip()
    con = duckdb.connect()
    tmp = os.path.join(out_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(f"SET threads={threads}")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{corpus}/documents.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad, secs = [], {}
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
            secs[name] = time.monotonic() - t0
        except Exception as e:  # a query that cannot be compared fails the check
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            bad.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows != {len(want)}")
        elif not norm(got).equals(norm(want)):
            bad.append(f"{name}: values differ")
    con.close()
    return bad, secs


def norm(df):
    df = df.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def selftest():
    """The comparison ignores row and column order, and nothing else."""
    import pandas as pd
    a = pd.DataFrame({"ia": [1, 2], "jaccard": [0.5, 0.75]})
    same = pd.DataFrame({"jaccard": [0.75, 0.5], "ia": [2, 1]})[["ia", "jaccard"]]
    other = pd.DataFrame({"ia": [1, 2], "jaccard": [0.5, 0.7500001]})
    ints = pd.DataFrame({"ia": [1.0, 2.0], "jaccard": [0.5, 0.75]})
    return (norm(a).equals(norm(same)) and not norm(a).equals(norm(other))
            and not norm(a).equals(norm(ints)))

