"""Local replica of the driver's correctness harness: run every
__spark_entry__ query on Spark AND its oracle SQL on DuckDB over the same
parquet tables, compare row count, schema shape, and exact values
(column-name-sorted, row-sorted).

Each result line carries a sha256 of the query's normalized Spark rows,
rows-only queries included, so two sweeps (say before and after a change)
compare value for value: diff their PASS/ok/FAIL lines with the trailing
timing dropped (``sed 's/ ([0-9.]*s[a-z ]*)$//'``).

Spark is sized by ``get_spark``'s host default: export SPARK_GRAFT_CPUS
(e.g. ``$(nproc)``) to run local[n] with 2n shuffle partitions.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from pbf2json_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """sha256 of the normalized rows, column names included."""
    return hashlib.sha256(normalize(df.copy()).to_csv(index=False).encode()).hexdigest()


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if len(a) != len(b):
        errs.append(f"rowcount spark={len(a)} oracle={len(b)}")
    if sorted(a.columns) != sorted(b.columns):
        errs.append(f"columns spark={sorted(a.columns)} oracle={sorted(b.columns)}")
        return errs
    if errs:
        return errs
    a, b = normalize(a.copy()), normalize(b.copy())
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        # Dtype-KIND parity must hold before any numeric coercion: the
        # driver's value hash is dtype-faithful, so a Spark int64 column
        # vs a DuckDB float64 column (e.g. SUM(BIGINT) -> HUGEINT ->
        # pandas float64) hashes "123" vs "123.0" and goes red even when
        # every value is numerically equal.  Rounds 2-4 missed exactly
        # this because the old compare coerced both sides to float64.
        ak = "float" if np.issubdtype(av.dtype, np.floating) else (
            "int" if np.issubdtype(av.dtype, np.integer) else "other")
        bk = "float" if np.issubdtype(bv.dtype, np.floating) else (
            "int" if np.issubdtype(bv.dtype, np.integer) else "other")
        if ak != bk:
            errs.append(
                f"col {c}: dtype-kind mismatch spark={av.dtype} ({ak}) "
                f"oracle={bv.dtype} ({bk}) — driver hash WILL differ "
                f"(e.g. uncast DuckDB SUM(BIGINT) -> HUGEINT -> float64)"
            )
            continue
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(np.float64)
            bv = bv.astype(np.float64)
            same = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not same.all():
                i = int(np.argmin(same))
                errs.append(
                    f"col {c}: {int((~same).sum())} mismatches, first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r} diff={av[i]-bv[i]!r}"
                )
        else:
            same = av == bv
            if not same.all():
                i = int(np.argmin(same))
                errs.append(
                    f"col {c}: {int((~same).sum())} mismatches, first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = entry_mod.oracle_sql()
    failed = []
    for name, fn, *_ in entry_mod.QUERY_TABLE:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        t1 = time.time()
        sha = digest(sdf)
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows, sha256 {sha} ({t1-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failed.append(name)
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name} ({len(sdf)} vs {len(odf)} rows), sha256 {sha}:")
            for e in errs[:5]:
                print(f"     {e}")
            failed.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows match, sha256 {sha} ({t1-t0:.1f}s spark)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
