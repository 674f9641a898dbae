"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet dir, then compares row count, column names,
and order-insensitive values. Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhealth_spark.session import get_spark  # noqa: E402
from mhealth_spark.source import TESTDATA_TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        except duckdb.IOException:
            pass
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns {scols} vs {dcols}")
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = np.allclose(
                av.to_numpy(dtype=float),
                bv.to_numpy(dtype=float),
                rtol=1e-9,
                atol=1e-9,
                equal_nan=True,
            )
        else:
            ok = av.astype(str).equals(bv.astype(str))
        if not ok:
            mism = (av.astype(str) != bv.astype(str))
            idx = mism[mism].index[:3].tolist()
            problems.append(
                f"col {c!r} mismatch, e.g. rows {idx}: "
                f"{[(av[i], bv[i]) for i in idx]}"
            )
    return problems


def main() -> int:
    import json

    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    import __spark_entry__ as entry_mod

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    spark = get_spark("check_oracles", master="local[8]", shuffle_partitions=8)
    con = duck_con(sf_dir)
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"spark error: {exc}"[:400],
            }
            continue
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            results[name] = {
                "rows_match": len(spark_pdf) >= 0,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": len(spark_pdf),
                "oracle_rows": None,
                "err": "no_oracle",
            }
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": len(spark_pdf),
                "oracle_rows": None,
                "err": f"duckdb error: {exc}"[:400],
            }
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        status = "OK" if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status} {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
        for p in problems:
            print(f"    {p}")
        results[name] = {
            "rows_match": len(spark_pdf) == len(duck_pdf),
            "schema_match": sorted(spark_pdf.columns) == sorted(duck_pdf.columns),
            "hash_match": not problems,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(duck_pdf),
            "err": "; ".join(problems)[:400] if problems else None,
        }
    spark.stop()
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"wrote {out_path} ({len(results)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
