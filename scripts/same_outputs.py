#!/usr/bin/env python3
"""Neutral-refactor check: do two graft.Verify outdirs, one from the parent
commit and one from the change, describe the same results?

  - For every query either outdir holds, the two Spark parquet outputs must
    hold the same rows (check_oracle.py's normalization: columns sorted by
    name, rows sorted, values compared as strings).
  - For every oracle key whose SQL text differs between the two
    oracle_sql.json files, both texts run in DuckDB over the SF dir's
    tables and must return the same rows.

Prints one line per changed oracle text, one MISMATCH line per differing
key (in it, "spark=" is the change and "oracle=" the parent) and a
summary; exits 1 on any mismatch.
Reads only: it never runs Verify and writes nothing into either outdir.

Usage: python3 scripts/same_outputs.py <parent_outdir> <change_outdir> <sfdir>
"""
import sys, os, json

sys.dont_write_bytecode = True  # reads only: no __pycache__ beside it
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import connect, compare


def spark_outputs(outdir):
    return {n for n in os.listdir(outdir)
            if os.path.isdir(os.path.join(outdir, n))}


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__.strip().splitlines()[-1])
    parent, change, sfdir = sys.argv[1:4]
    con = connect(sfdir)
    bad = []

    def read(outdir, name):
        return con.execute("SELECT * FROM read_parquet(" +
            f"'{os.path.join(outdir, name)}/*.parquet')").fetchdf()

    names = spark_outputs(parent) | spark_outputs(change)
    for name in sorted(names):
        try:
            verdict, _ = compare(read(change, name), read(parent, name))
        except Exception as e:
            verdict = f"ERROR: {e}"
        if verdict != "OK":
            bad.append(f"SPARK {name}  {verdict[:300]}")

    p_sql = json.load(open(os.path.join(parent, "oracle_sql.json")))
    c_sql = json.load(open(os.path.join(change, "oracle_sql.json")))
    changed = sorted(k for k in p_sql.keys() | c_sql.keys()
                     if p_sql.get(k) != c_sql.get(k))
    for name in changed:
        if name not in p_sql or name not in c_sql:
            bad.append(f"ORACLE {name}  present on one side only")
            continue
        try:
            verdict, _ = compare(con.execute(c_sql[name]).fetchdf(),
                                 con.execute(p_sql[name]).fetchdf())
        except Exception as e:
            verdict = f"ERROR: {e}"
        print(("SAME " if verdict == "OK" else "DIFF ") +
              f"oracle text changed: {name}")
        if verdict != "OK":
            bad.append(f"ORACLE {name}  {verdict[:300]}")

    for line in bad:
        print("MISMATCH " + line)
    print(f"\n{len(names)} Spark outputs compared, "
          f"{len(changed)} oracle texts changed, {len(bad)} mismatches")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
