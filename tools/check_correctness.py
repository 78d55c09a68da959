"""Local replica of the driver's t2 correctness gate.

Runs every registry query on Spark at sf0.01 AND its DuckDB oracle on the
same parquet, then compares row count, sorted column names, and exact
(order-insensitive) values. Strict by default — any cell mismatch fails —
with a near-miss report for float drift diagnosis.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rad_database_parse_spark.catalog.io import TESTDATA_TABLES  # noqa: E402
from rad_database_parse_spark.registry import all_queries  # noqa: E402
from rad_database_parse_spark.session import clear_caches, get_session  # noqa: E402


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for name in TESTDATA_TABLES:
        conn.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return conn


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            def _cell(v):
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    return None
                if isinstance(v, (list, np.ndarray)):  # make sortable/hashable
                    return tuple(v)
                return v

            df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duckdb={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns: spark={sorted(spark_pdf.columns)} duckdb={sorted(duck_pdf.columns)}"
        )
    if problems:
        return problems
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        # Dtype parity: the driver hashes each side's materialized pandas
        # values, so an integer column on one side vs float64 on the other
        # (DuckDB HUGEINT -> float64 is the trigger; q12_latency_priority,
        # CORRECTNESS_r09) hash-fails even when every value is numerically
        # identical. Fail here too, so the local gate is no weaker than
        # the driver's hash (VERDICT r9 item 3).
        s_int = np.issubdtype(sv.dtype, np.integer)
        d_int = np.issubdtype(dv.dtype, np.integer)
        # Flag float-vs-int AND object-vs-int (ADVICE r10: DuckDB HUGEINT
        # can materialize as object dtype too, which the old float-only
        # condition let through to the value comparison — where python
        # int == numpy int silently passes while the driver's hash of
        # the materialized values still fails).
        if s_int != d_int and (
            np.issubdtype(sv.dtype, np.floating)
            or np.issubdtype(dv.dtype, np.floating)
            or sv.dtype == object
            or dv.dtype == object
        ):
            problems.append(
                f"col {c}: dtype parity: spark={sv.dtype} duckdb={dv.dtype} "
                "(int-vs-float/object split hash-fails on the driver even "
                "when values are equal — CAST the oracle to BIGINT)"
            )
            continue
        if np.issubdtype(sv.dtype, np.floating) and np.issubdtype(dv.dtype, np.floating):
            both_nan = np.isnan(sv.astype(float)) & np.isnan(dv.astype(float))
            eq = (sv == dv) | both_nan
            if not eq.all():
                bad = ~eq
                diffs = np.abs(sv[bad].astype(float) - dv[bad].astype(float))
                problems.append(
                    f"col {c}: {bad.sum()} mismatches, max |Δ|={np.nanmax(diffs):.3e}, "
                    f"first spark={sv[bad][0]!r} duckdb={dv[bad][0]!r}"
                )
        else:
            eq = (pd.Series(sv).astype(object).where(pd.notna(sv), None)
                  == pd.Series(dv).astype(object).where(pd.notna(dv), None)) | (
                pd.isna(pd.Series(sv)) & pd.isna(pd.Series(dv))
            )
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first spark={sv[i]!r} duckdb={dv[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))
    spark = get_session()
    conn = duck_conn(sf_dir)
    registry = all_queries()
    n_pass = n_fail = n_weak = 0
    for name, qd in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = qd.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # drop persisted intermediates so cached partitions from ops
            # that persist() mid-plan don't accumulate across the
            # single-session 570-query run (ADVICE r6). clear_caches also
            # sweeps RDD-level localCheckpoint blocks, which clearCache
            # misses (ADVICE r10).
            clear_caches(spark)
        if qd.oracle is None:
            ok = len(spark_pdf) >= 0
            print(f"WEAK {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s, no oracle)")
            n_weak += 1
            continue
        try:
            duck_pdf = conn.execute(qd.oracle).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   - {p}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
