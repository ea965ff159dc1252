#!/usr/bin/env python
"""Driver-mimic correctness checker: run every ``queries()`` entry on
Spark and its ``oracle_sql()`` on DuckDB over one data directory
(default sf0.01), compare row count, schema (column names), and
order-insensitive values.

Usage: python tools/check_correctness.py [--data DIR] [name ...]
(default: all queries over the sf0.01 tables). ``--data`` points both
engines at another directory of harness parquet (e.g. sf0.001 or sf0.1);
the checker only reads it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from myodish_peak_analysis_spark.schema import HARNESS_TABLES  # noqa: E402
from myodish_peak_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def _oracle_child(sql: str, out_path: str, data: str) -> None:
    con = duckdb.connect()
    for t in HARNESS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    con.sql(sql).df().to_parquet(out_path)


def run_oracle(sql: str, data: str) -> pd.DataFrame:
    """Run the oracle in a forked subprocess: the heavy 301-tap windowed
    FIR queries leave allocator-retained memory behind; in-process they
    cumulatively OOM later queries sharing the process with the JVM."""
    import multiprocessing as mp
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        ctx = mp.get_context("fork")
        p = ctx.Process(target=_oracle_child, args=(sql, f.name, data))
        p.start()
        p.join()
        if p.exitcode != 0:
            raise RuntimeError(f"oracle subprocess exit {p.exitcode}")
        return pd.read_parquet(f.name)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            continue
        if np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    res = {"name": name}
    res["rows"] = (len(sdf), len(odf))
    res["rows_match"] = len(sdf) == len(odf)
    res["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
    res["hash_match"] = False
    if res["rows_match"] and res["schema_match"]:
        a, b = normalize(sdf), normalize(odf)
        ok = True
        worst = 0.0
        for c in a.columns:
            av, bv = a[c], b[c]
            if np.issubdtype(av.dtype, np.floating):
                na, nb = av.isna(), bv.isna()
                if not (na == nb).all():
                    ok = False
                    res.setdefault("bad_cols", []).append((c, "nan placement"))
                    continue
                diff = np.abs(av[~na].to_numpy() - bv[~nb].to_numpy())
                d = float(diff.max()) if diff.size else 0.0
                worst = max(worst, d)
                if d > 0:
                    ok = False
                    res.setdefault("bad_cols", []).append((c, f"maxdiff={d:g}"))
            else:
                if not av.fillna("\0").equals(bv.fillna("\0")):
                    ok = False
                    res.setdefault("bad_cols", []).append((c, "values differ"))
        res["hash_match"] = ok
        res["max_float_diff"] = worst
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    ap.add_argument("--data", default=SF_DIR, help="directory of the harness parquet tables")
    args = ap.parse_args()
    only = set(args.names)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_ok = n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.data).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_bad += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle, rows-only) [{t_spark:.1f}s]")
            n_ok += 1
            continue
        t0 = time.time()
        try:
            odf = run_oracle(oracles[name], args.data)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_bad += 1
            continue
        t_duck = time.time() - t0
        res = compare(name, sdf, odf)
        status = "OK  " if (res["rows_match"] and res["schema_match"] and res["hash_match"]) else "FAIL"
        if status == "OK  ":
            n_ok += 1
        else:
            n_bad += 1
        extra = f" bad={res.get('bad_cols')}" if res.get("bad_cols") else ""
        if not res["schema_match"]:
            extra += f" spark_cols={sorted(sdf.columns)} oracle_cols={sorted(odf.columns)}"
        print(
            f"{status}  {name}: rows={res['rows']} schema={res['schema_match']} "
            f"hash={res['hash_match']} maxdiff={res.get('max_float_diff', '-')}"
            f" [spark {t_spark:.1f}s, duck {t_duck:.1f}s]{extra}"
        )
    print(f"\n{n_ok} ok, {n_bad} failing")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
