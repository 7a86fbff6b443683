"""Local pre-flight for the driver's t2 gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB, compare row bags.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
Runs on local[$SPARK_GRAFT_CPUS] (default: every core) and prints the
sweep's total wall time on its last line.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    # Type-tagged: the driver's value-hash is type-sensitive (DuckDB
    # HUGEINT/DECIMAL vs Spark BIGINT was three rounds of reds), so an
    # int on one side and a Decimal/float on the other must FAIL here
    # even when numerically equal.
    if isinstance(v, float):
        return ("float", round(v, 4))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    return (type(v).__name__, v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    t_start = time.time()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sorted(
                tuple(norm(v) for v in row) for row in sdf.collect()
            )
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = sorted(tuple(norm(v) for v in row) for row in res.fetchall())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        # driver sorts columns by name before hashing
        sidx = [i for i, _ in sorted(enumerate(scols), key=lambda x: x[1])]
        oidx = [i for i, _ in sorted(enumerate(ocols), key=lambda x: x[1])]
        srows2 = sorted(tuple(r[i] for i in sidx) for r in srows)
        orows2 = sorted(tuple(r[i] for i in oidx) for r in orows)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: schema {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
        elif srows2 != orows2:
            diff_a = [r for r in srows2 if r not in orows2][:3]
            diff_b = [r for r in orows2 if r not in srows2][:3]
            print(
                f"FAIL {name}: rows {len(srows2)} vs {len(orows2)}; "
                f"spark-only {diff_a}; duck-only {diff_b}"
            )
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows2)} rows match ({time.time()-t0:.1f}s)")
    print()
    wall = f"{time.time() - t_start:.0f}s wall"
    if failures:
        print("FAILURES:", failures, wall)
        sys.exit(1)
    print("all green", wall)


if __name__ == "__main__":
    main()
