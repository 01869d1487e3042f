"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at the given sf dir and compares with the
``oracle_sql()`` DuckDB result the way the DRIVER does: both sides go
through pandas (Spark ``toPandas`` / DuckDB ``.df()``), columns sorted by
name, rows sorted with ``DataFrame.sort_values`` (which THROWS on
list-valued cells — so do we), per-column dtype *kind* compared (int64 vs
float64 drift fails — DuckDB ``SUM(int)`` returns HUGEINT which pandas
widens to float/object), then an order-insensitive value hash.

Round-1 lesson: the previous mirror stringified every cell, which passed
list-typed columns and int/float drift that the driver rejects. This one
must be at least as strict as the driver.

An entry whose builder raises ``ReferenceUnavailable`` (the
reference's query files are not mounted) is listed as ``unavailable``
with its own count and does not fail the gate; any other exception
does.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

from prefect_flow_arc_kg_postgres_etl_spark.plans.kg import ReferenceUnavailable
from prefect_flow_arc_kg_postgres_etl_spark.plans.registry import QUERIES
from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import TABLES


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the comparison kind the driver's
    canonicalizer is sensitive to: integer vs float vs bool vs datetime
    vs object. int64 vs float64 on the same column = drift = FAIL."""
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    return "object"


def _reject_unhashable(df: pd.DataFrame, side: str) -> str | None:
    """The driver's pandas sort_values raises on list/dict/ndarray cells.
    Detect them explicitly so the failure is attributable."""
    for col in df.columns:
        if df[col].dtype == object:
            for v in df[col].head(1000):
                if isinstance(v, (list, tuple, dict, set, np.ndarray)):
                    return f"{side} column '{col}' has {type(v).__name__} cells"
    return None


def canon_cell(v) -> str:
    try:
        if v is None or (not isinstance(v, (list, np.ndarray)) and pd.isna(v)):
            return "\\N"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (np.floating, float)):
        v = float(v)
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    return str(v)


def canon_frame(df: pd.DataFrame) -> tuple[pd.DataFrame, str]:
    """Driver-shaped canonicalization: columns sorted by name, rows
    sorted by all columns (raises like the driver on unsortable cells),
    then an md5 over stringified cells."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")  # raises on list cells
    h = hashlib.md5()
    for row in df.itertuples(index=False, name=None):
        h.update("\x01".join(canon_cell(v) for v in row).encode())
        h.update(b"\n")
    return df, h.hexdigest()


def compare(s_pd: pd.DataFrame, d_pd: pd.DataFrame) -> list[str]:
    problems = []
    if len(s_pd) != len(d_pd):
        problems.append(f"rowcount spark={len(s_pd)} duck={len(d_pd)}")
    if sorted(s_pd.columns) != sorted(d_pd.columns):
        problems.append(
            f"cols spark={sorted(s_pd.columns)} duck={sorted(d_pd.columns)}"
        )
        return problems

    for side, df in (("spark", s_pd), ("duck", d_pd)):
        bad = _reject_unhashable(df, side)
        if bad:
            problems.append(f"unhashable (driver would err): {bad}")
    if problems:
        return problems

    for col in sorted(s_pd.columns):
        ks, kd = _kind(s_pd[col].dtype), _kind(d_pd[col].dtype)
        # pandas widens nullable ints to float/object; only flag when both
        # sides are null-free numeric and still disagree, or one side is
        # numeric and the other is not.
        if ks != kd:
            nullable = s_pd[col].isna().any() or d_pd[col].isna().any()
            numeric_pair = {ks, kd} <= {"int", "float"}
            if not (nullable and numeric_pair):
                problems.append(
                    f"dtype drift '{col}': spark={s_pd[col].dtype} duck={d_pd[col].dtype}"
                )
    if problems:
        return problems

    try:
        s_canon, hs = canon_frame(s_pd)
    except TypeError as e:
        return [f"spark canonicalize error (driver would err): {e}"]
    try:
        d_canon, hd = canon_frame(d_pd)
    except TypeError as e:
        return [f"duck canonicalize error (driver would err): {e}"]
    if hs != hd:
        problems.append("value-hash mismatch")
        s_set = {
            tuple(canon_cell(v) for v in r)
            for r in s_canon.itertuples(index=False, name=None)
        }
        d_set = {
            tuple(canon_cell(v) for v in r)
            for r in d_canon.itertuples(index=False, name=None)
        }
        problems.append(
            f"spark-only={list(s_set - d_set)[:3]} duck-only={list(d_set - s_set)[:3]}"
        )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    unavailable = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            s_pd = sdf.toPandas()
        except ReferenceUnavailable as e:
            print(f"UNAV {name}: {e}")
            unavailable.append(name)
            continue
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            bad = _reject_unhashable(s_pd, "spark")
            if bad:
                print(f"FAIL {name}: rows-only but {bad}")
                n_fail += 1
                continue
            print(f"ok   {name}: rows-only ({len(s_pd)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            d_pd = con.sql(spec.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(s_pd, d_pd)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_pd)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {len(unavailable)} unavailable")
    if unavailable:
        print("unavailable: " + ", ".join(unavailable))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
