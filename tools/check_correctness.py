"""Local mirror of the driver's correctness gate.

Runs each __spark_entry__.queries() entry at sf0.01 on Spark AND its
oracle_sql() on DuckDB, then compares row count, schema (column names), and
exact values (rows sorted by all columns, columns sorted by name).

Usage: PYTHONPATH=/root/repo python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd
from spark_session import make_session

import __spark_entry__ as entry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(sdf.columns) != sorted(odf.columns):
        issues.append(f"schema: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return issues
    if len(sdf) != len(odf):
        issues.append(f"rowcount: spark={len(sdf)} oracle={len(odf)}")
    a, b = canon(sdf), canon(odf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                neq = ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
            else:
                neq = av != bv
            n_bad = int(np.sum(neq))
            if n_bad:
                i = int(np.argmax(neq))
                issues.append(
                    f"col {c}: {n_bad} mismatches, first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
    return issues


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)
    spark = make_session("check_correctness")
    con = duck_con()
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failed, skipped = [], []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failed.append(name)
            results[name] = {"rows_match": False, "err": f"spark: {type(e).__name__}"}
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None, "err": "no_oracle",
            }
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s) — no oracle")
            continue
        if "GOLDEN sf0.01" in oracles[name] and "sf0.01" not in SF_DIR:
            skipped.append(name)
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": "golden_pins_sf0.01",
            }
            print(f"skip {name}: golden oracle pins sf0.01, SF_DIR={SF_DIR}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failed.append(name)
            results[name] = {"rows_match": False, "err": f"duckdb: {str(e)[:200]}"}
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        issues = compare(name, sdf, odf)
        results[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": not issues,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": None,
            "golden": "GOLDEN sf0.01" in oracles[name] or None,
            "zero_rows": len(sdf) == 0 or None,
        }
        if issues:
            failed.append(name)
            print(f"FAIL {name} ({len(sdf)} spark rows / {len(odf)} oracle rows):")
            for i in issues[:5]:
                print(f"     {i}")
        elif len(sdf) == 0:
            # a 0-row "exact match" proves nothing — surface it loudly
            print(f"PASS? {name}: 0 rows on both sides — trivially matching "
                  f"({time.time()-t0:.1f}s); make the fixture produce rows")
        else:
            print(f"PASS {name}: {len(sdf)} rows match exactly ({time.time()-t0:.1f}s)")
    summary = "ALL PASS" if not failed else "FAILURES: " + ", ".join(failed)
    if skipped:
        summary += f" ({len(skipped)} skipped: golden oracle pins sf0.01)"
    print(f"\n{summary}")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_out} ({len(results)} queries)")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
