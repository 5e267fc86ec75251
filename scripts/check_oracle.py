#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 scripts/check_oracle.py <verify_out_dir> <sf_dir> [q1,q2,...]

Reads each <name>/ parquet result written by graft.Verify plus
oracle_sql.json, runs each oracle statement in DuckDB with the sf tables
registered as views, sorts columns by name / rows by all columns, and
compares values exactly (strict superset of any hash compare).

The optional third argument mirrors graft.Verify's: a comma-separated list
of query names. Only those are scored, and each must have Spark output and
match; everything else in the output dir or oracle_sql.json is ignored.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize decimal/np types to canonical strings for strict compare
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.map(cell)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main(out_dir: str, sf_dir: str, only: set | None = None) -> int:
    con = duckdb.connect()
    import os
    for t in TABLES:
        # driver testdata ships single files; Spark-written replicas (the
        # 10x scale dir) are part-file directories — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    import glob
    have = {p.rstrip("/").split("/")[-1] for p in glob.glob(f"{out_dir}/*/")}
    if only is not None:
        have &= only
    for name in sorted(have):
        if name not in oracles:
            try:
                rows = len(pd.read_parquet(f"{out_dir}/{name}"))
                print(f"  ROWS-ONLY {name}: {rows} rows {'OK' if rows > 0 else 'EMPTY!'}")
                if rows == 0:
                    n_fail += 1
                else:
                    n_pass += 1
            except Exception as e:
                print(f"  ERROR {name}: {e}")
                n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
            want = canon(con.sql(oracles[name]).df())
        except Exception as e:
            print(f"✗ {name}: load/oracle error: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"✗ {name}: columns differ spark={list(got.columns)} duck={list(want.columns)}")
            n_fail += 1
        elif len(got) != len(want):
            print(f"✗ {name}: rowcount differ spark={len(got)} duck={len(want)}")
            n_fail += 1
        elif not got.equals(want):
            neq = (got != want).any(axis=1)
            print(f"✗ {name}: {int(neq.sum())}/{len(got)} rows differ; first diffs:")
            both = pd.concat(
                [got[neq].head(3).add_prefix("spark_"), want[neq].head(3).add_prefix("duck_")],
                axis=1,
            )
            print(both.to_string())
            n_fail += 1
        else:
            print(f"✓ {name}: {len(got)} rows match")
            n_pass += 1
    # --subset: builder-side partial runs (Verify's optional 3rd arg dumps
    # only some queries); score only what was dumped instead of failing
    # every undumped oracle. The driver never passes this.
    if "--subset" not in sys.argv:
        missing = (set(oracles) if only is None else only) - have
        for name in sorted(missing):
            print(f"✗ {name}: oracle declared but no spark output")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sys.exit(main(args[0], args[1], set(args[2].split(",")) if len(args) > 2 else None))
