"""Simulate the driver: a vanilla SparkSession (NOT the engine's tuned
factory) consumes __spark_entry__.py as a black box, and every query is
hashed against its DuckDB oracle with the correctness gate's own
canon/vhash (``perfbench/check.py``).

Usage: python tools/driver_sim.py [query ...]   (default: every query)
Env: DRIVER_SIM_SF_DIR (default: the sf0.01 fixture). Exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check  # noqa: E402

SF = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")


def vanilla_session():
    """The driver's own session: no UTC pin, no ANSI flag, default shuffle
    partitions. driver.memory is HOST SIZING, not semantics: the default 1g
    local JVM is marginal for the sf0.1 sweep's AQE broadcasts (the LSH
    shingle table) and OOMs mid-sweep; 4g matches the smallest executor a
    real deployment would run."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # call-site capture and the codegen cache size stay at Spark's
        # defaults, as in the driver's session
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    import __spark_entry__ as mod
    from personal_data_lakehouse_spark.plans.registry import TABLES

    qs, osql = mod.queries(), mod.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    unknown = sorted(set(names) - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1
    spark = vanilla_session()
    con = check.oracle_connection(SF, TABLES)

    df = mod.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows, schema={[f.name for f in df.schema.fields]}")
    if n == 0:
        raise SystemExit("entry() returned no rows")

    fails = 0
    for name in sorted(names):
        # Per-query isolation: registry callables persist() intermediates
        # (LSH band index, IVF cells) sized for ONE invocation, and the real
        # driver evaluates queries independently; without the clear, a full
        # sf0.1 sweep accumulates cache blocks until the heap runs out.
        spark.catalog.clearCache()
        t0 = time.time()
        s_cols, s_rows = check.arrow_rows(qs[name](spark, SF).toArrow())
        if name not in osql:
            print(f"  {name:28s} rows-only: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
            continue
        # DuckDB via arrow, NOT fetchall(): the real driver hashes through a
        # pandas/arrow path where HUGEINT arrives as decimal128(38,0) (a
        # Decimal in to_pylist) while fetchall() gives a plain Python int,
        # so a fetchall() check passes results the gate rejects.
        d_cols, d_rows = check.arrow_rows(con.sql(osql[name]).arrow())
        ok_schema = sorted(s_cols) == sorted(d_cols)
        ok_rows = len(s_rows) == len(d_rows)
        # A Decimal or list value fails outright, whatever the other side
        # holds: the real driver's hash reads a Spark Decimal and DuckDB's
        # float64 as different even when numerically equal, and its pandas
        # sort cannot hash list columns (join arrays to strings before the
        # final projection). Rows-only queries are never hashed.
        try:
            ok_hash = check.vhash(s_cols, s_rows) == check.vhash(d_cols, d_rows)
        except check.NonScalar as e:
            fails += 1
            print(f"  {name:28s} FAIL NonScalar: {e}")
            continue
        if ok_schema and ok_rows and ok_hash:
            print(f"  {name:28s} OK  {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        else:
            fails += 1
            print(f"  {name:28s} FAIL schema={ok_schema} rows={ok_rows}"
                  f"({len(s_rows)}/{len(d_rows)}) hash={ok_hash}")
    print(f"\n{len(names)} queries, {fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
