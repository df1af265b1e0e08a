"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at the same sf, compare
row count + sorted-column value sets. Usage:

    PYTHONPATH=/root/repo python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from lsh_forest_for_multi_vector_retrieval_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        driver_memory="16g",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # a typo'd query name must not produce a false-green "all passed"
    # with zero checks run (round-5 review)
    unknown = only - qs.keys()
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}; known: {sorted(qs)}")
        return 2
    failures = []
    # generated classes compiled by the queries: with every class still
    # cached, the distinct classes they need (get_spark's cache size)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-query isolation: one raising query (e.g. a fixture-oracle
        # sf guard at a different sf_dir) records ONE failure instead of
        # aborting the whole gate unchecked (round-5 review)
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            if name not in oracles:
                print(f"{name:28s} rows-only: {len(spdf)} rows  OK(no oracle)")
                continue
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:28s} FAIL raised {type(e).__name__}: {e}")
            failures.append(name)
            continue
        a, b = canon(spdf), canon(opdf)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT {len(a)} vs {len(b)}"
        else:
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=True
                )
            except AssertionError as e:
                status = "VALUES: " + str(e).split("\n")[0]
                # show a sample diff
                merged = a.merge(b, how="outer", indicator=True)
                diff = merged[merged["_merge"] != "both"]
                if len(diff):
                    status += f" | {len(diff)} differing rows, e.g.\n{diff.head(4)}"
        mark = "PASS" if status == "OK" else "FAIL"
        print(f"{name:28s} {mark} rows={len(a)} {status if mark == 'FAIL' else ''}")
        if mark == "FAIL":
            failures.append(name)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    print(f"generated classes compiled by the queries: {compiled} (codegen cache: {cache})")
    # entry smoke
    if not only:
        n = entrymod.entry(spark).count()
        print(f"entry() smoke: {n} rows")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all oracle checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
