"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares
row count, sorted column-name schema, and an order-insensitive value
hash. Each PASS/OK? line ends with ``hash=<16 hex>``, a digest of the
normalized Spark result, so two trees' runs can be diffed query by
query. Usage:  python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from ts_raster_spark.session import get_spark  # noqa: E402
from ts_raster_spark.sources.turns import TABLE_NAMES  # noqa: E402


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """NO float re-rounding here (round 4): query outputs are already
    normalized by finalize()/sql_r4 on both engines, and the driver
    value-hashes them as-is — a local 4-dp re-round was LOOSER than the
    driver and could green-light a value the driver would flag.  Signed
    zeros are normalized by the queries' own ``+ 0.0`` contract."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # unify ints across engines
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result's column names and values
    (CSV floats print round-trip exact, so a last-bit change shows)."""
    return hashlib.sha256(norm(df).to_csv(index=False).encode()).hexdigest()[:16]


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"schema: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rows: spark={len(sdf)} oracle={len(odf)}")
    a, b = norm(sdf), norm(odf)
    if len(a) == len(b):
        try:
            # EXACT equality, zero tolerance — the driver value-hashes,
            # so even a last-bit float difference fails there; the local
            # gate must be exactly as strict to predict driver green.
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append(f"values: {str(e).splitlines()[-1][:400]}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = os.environ.get("TSRS_CHECK_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    spark.sparkContext.setLogLevel("FATAL")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    failed = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex).splitlines()[0][:300]}")
            failed.append(name)
            continue
        if name not in os_:
            print(f"OK?  {name}: rows={len(sdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s] hash={value_hash(sdf)}")
            continue
        try:
            odf = con.execute(os_[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: rows={len(sdf)}/{len(odf)} " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(sdf)} [{time.time()-t0:.1f}s] hash={value_hash(sdf)}")
    print(f"\n{n_run - len(failed)}/{n_run} pass")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
