#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: compare what graft.Verify wrote
into an outdir (one parquet dir per query, plus oracle_sql.json) against
DuckDB running the paired oracle SQL on the tables of the given SF.

This script does not run graft.Verify. Run Verify first, at the same SF,
into a fresh outdir: an outdir left by an older build is compared as it
stands. Not part of the engine — dev tooling only.

Usage: python3 scripts/check_oracle.py [sfdir] [outdir]
"""
import sys, os, json, glob
import duckdb
import pandas as pd


def connect(sfdir):
    """A DuckDB connection with one view per table of the SF dir."""
    con = duckdb.connect()
    # DuckDB spills big oracle queries (graph_hits' unrolled HITS CTEs at the
    # decade) to ./.tmp/duckdb_temp_storage by default; that path filled in
    # r11 ("IO Error: No space left on device") and recorded an infra FAIL
    # for a query whose Spark rows/schema matched. Point the spill at a roomy
    # volume (override with DUCKDB_TMP).
    _tmp = os.environ.get("DUCKDB_TMP", "/tmp/graft_duckdb_tmp")
    if "'" in _tmp:
        # the path is interpolated into a SET statement; a quote would break
        # (or worse, alter) the SQL — refuse rather than escape-and-hope
        sys.exit(f"DUCKDB_TMP must not contain a single quote: {_tmp!r}")
    os.makedirs(_tmp, exist_ok=True)
    # The decade sweep's heaviest oracles (graph_hits before its CTEs were
    # MATERIALIZED-hinted) spilled ~70GB here — the override volume needs
    # tens of GB free at ~sf1; /tmp works in this container (rootfs-backed).
    con.execute(f"SET temp_directory='{_tmp}'")
    for p in glob.glob(os.path.join(sfdir, "*.parquet")):
        name = os.path.basename(p).replace(".parquet", "")
        # driver testdata ships single files; Spark-written stacks (e.g. the
        # ScaleProbe sf1ish decade) are DIRECTORIES of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        # stacked decades store events.ts as raw INT64 nanos (the
        # Tables.events convention) — convert back so time oracles still run
        if name == "events":
            (ts_type,) = con.execute(
                "SELECT column_type FROM (DESCRIBE events) "
                "WHERE column_name = 'ts'").fetchone()
            if ts_type == "BIGINT":
                # integer // (not /): Spark truncates nanos->micros; DuckDB's
                # float / rounds-to-nearest and drifts +-1us on half-micros
                con.execute(
                    "CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                    "(make_timestamp(ts // 1000) AS ts) "
                    f"FROM read_parquet('{src}')")
    return con


def compare(got, want):
    """(verdict, dtype_warnings): verdict is "OK" when the two frames hold
    the same rows under the driver's normalization, else a SCHEMA, ROWS or
    VALUES line naming the difference."""
    # driver sorts columns by name before hashing values
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"SCHEMA: spark={list(got.columns)} oracle={list(want.columns)}", []
    if len(got) != len(want):
        return f"ROWS: spark={len(got)} oracle={len(want)}", []
    # normalize for comparison: sort rows, stringify
    def norm(df):
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    g, w = norm(got), norm(want)
    # STRICT, like the driver: the driver hashes stringified values, so the
    # local gate is exact string compare on every column — no float
    # tolerance. (`31` vs `31.0` must FAIL here; the old isclose branch
    # masked exactly that class — VERDICT r2 "What's wrong" #2.) Width-only
    # dtype skew (int32 vs int64) stringifies identically and passes the
    # driver, so it is a warning, not a failure.
    bad, dtype_warn = [], []
    for c in g.columns:
        gc, wc = g[c], w[c]
        if str(gc.dtype) != str(wc.dtype):
            dtype_warn.append(f"{c}: spark={gc.dtype} oracle={wc.dtype}")
        try:
            eq = gc.astype(str).equals(wc.astype(str))
        except Exception:
            eq = False
        if not eq:
            bad.append(c)
    if bad:
        verdict = f"VALUES: cols {bad}"
        ex = []
        for c in bad[:2]:
            diff = (g[c].astype(str) != w[c].astype(str))
            idx = diff[diff].index[:3]
            ex.append({c: [(str(g[c][i]), str(w[c][i])) for i in idx]})
        return verdict + f" examples {ex}", dtype_warn
    return "OK", dtype_warn


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = connect(sfdir)

    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    results = {}
    for name, sql in sorted(oracle.items()):
        rd = os.path.join(outdir, name)
        if not os.path.isdir(rd):
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{rd}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ERROR: {e}"
            continue
        verdict, dtype_warn = compare(got, want)
        if dtype_warn and verdict == "OK":
            print(f"WARN {name}  dtype skew (values match): {dtype_warn}")
        results[name] = verdict

    n_ok = sum(1 for v in results.values() if v == "OK")
    for k, v in sorted(results.items()):
        print(("PASS " if v == "OK" else "FAIL ") + k + ("" if v == "OK" else "  " + str(v)[:300]))
    print(f"\n{n_ok}/{len(results)} oracle-checked queries match")
    # also report queries with no oracle (rows-only)
    all_q = set(os.path.basename(p) for p in glob.glob(os.path.join(outdir, "*")) if os.path.isdir(p))
    no_oracle = all_q - set(oracle)
    if no_oracle:
        print("rows-only (no oracle):", sorted(no_oracle))

    # optional machine artifact (--json PATH): per-query verdicts in the
    # CORRECTNESS_rN shape, so the decade sweep can ship as DECADE_rN.json
    # instead of living only in README prose (r10 verdict item 2)
    if "--json" in sys.argv:
        jpath = sys.argv[sys.argv.index("--json") + 1]
        out = {}
        for q in sorted(all_q | set(oracle)):
            v = results.get(q)
            try:
                srows = con.execute("SELECT count(*) FROM read_parquet(" +
                    f"'{os.path.join(outdir, q)}/*.parquet')").fetchone()[0]
            except Exception:
                srows = None
            if v is None:
                out[q] = {"rows_match": None, "schema_match": None,
                          "hash_match": None, "spark_rows": srows,
                          "oracle_rows": None, "err": "no_oracle"}
            elif v == "OK":
                out[q] = {"rows_match": True, "schema_match": True,
                          "hash_match": True, "spark_rows": srows,
                          "oracle_rows": srows, "err": None}
            elif v.startswith(("ROWS", "SCHEMA", "VALUES")):
                out[q] = {"rows_match": not v.startswith("ROWS"),
                          "schema_match": not v.startswith("SCHEMA"),
                          "hash_match": False, "spark_rows": srows,
                          "oracle_rows": None, "err": str(v)[:300]}
            else:
                # infra/IO exception (e.g. DuckDB temp-disk full): no
                # comparison happened, so no match field may read true
                out[q] = {"rows_match": None, "schema_match": None,
                          "hash_match": None, "spark_rows": srows,
                          "oracle_rows": None, "err": str(v)[:300]}
        with open(jpath, "w") as f:
            json.dump({"sfdir": sfdir, "n_ok": n_ok, "n_checked": len(results),
                       "rows_only": sorted(no_oracle), "queries": out}, f,
                      indent=1, sort_keys=True)
        print(f"wrote {jpath}")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
