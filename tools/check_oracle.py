"""Emulate the driver's correctness gate locally: run each queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01 (or $SF_DIR), then
compare row counts, column names, and exact sorted values.

Usage: python tools/check_oracle.py [query ...]
       python tools/check_oracle.py --tail --out history/TAILCHECK_r04.json

``--tail`` checks only the registry entries OUTSIDE the driver's first-50
correctness window; ``--out`` additionally writes a JSON artifact so the
per-round verification of deprioritized queries is RECORDED, not just
run (r3 advice: tail coverage must not depend on an undocumented local
run).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from scidbgeo_spark.model import TABLES
from scidbgeo_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount {len(spark_df)} vs {len(oracle_df)}")
        return problems
    a, b = normalize(spark_df), normalize(oracle_df)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            af = av.astype(np.float64)
            bf = bv.astype(np.float64)
            # equal_nan: SQL NULL arrives as NaN on both engines; a
            # NULL==NULL row (e.g. hourly_acf's constant-series r) must
            # compare equal, matching the driver's null-aware value hash
            if not np.array_equal(af, bf, equal_nan=True):
                bad = np.nonzero(af != bf)[0][:3]
                problems.append(f"col {c}: float mismatch at rows {bad.tolist()} {af[bad]} vs {bf[bad]}")
        else:
            if not np.array_equal(av, bv):
                bad = np.nonzero(av != bv)[0][:3]
                problems.append(f"col {c}: mismatch at rows {bad.tolist()} {av[bad]!r} vs {bv[bad]!r}")
    # dtype report (schema parity is informative, not exact across engines)
    da = {c: str(a[c].dtype) for c in a.columns}
    db = {c: str(b[c].dtype) for c in b.columns}
    if da != db:
        problems.append(f"NOTE dtypes spark={da} duck={db}")
    return problems


DRIVER_WINDOW = 50  # entries the round driver verifies itself


def main() -> int:
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    tail_only = "--tail" in args
    if tail_only:
        args.remove("--tail")
    wanted = args
    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    tail_names = set(list(qs)[DRIVER_WINDOW:])
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if wanted and name not in wanted:
            continue
        if tail_only and name not in tail_names:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"ok": False, "err": str(e)[:500]}
            failures += 1
            continue
        if name not in sqls:
            print(f"okro {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"ok": True, "rows_only": True, "spark_rows": len(sdf)}
            continue
        odf = con.execute(sqls[name]).df()
        problems = [p for p in compare(name, sdf, odf)]
        hard = [p for p in problems if not p.startswith("NOTE")]
        results[name] = {
            "ok": not hard,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "problems": hard,
            "sec": round(time.time() - t0, 1),
        }
        if hard:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            note = "; ".join(p for p in problems if p.startswith("NOTE"))
            print(f"ok   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s) {note}")
    if out_path:
        import json

        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "scope": "tail (registry entries beyond the driver's "
                    f"first-{DRIVER_WINDOW} window)"
                    if tail_only
                    else "selected",
                    "n_checked": len(results),
                    "n_failed": failures,
                    "results": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {out_path}: {len(results)} checked, {failures} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
