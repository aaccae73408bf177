"""Local stand-in for the driver's correctness gate: run every query in
``queries()`` against its ``oracle_sql()`` twin on DuckDB and compare
row count, column names, and an order-insensitive value hash.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of the double — exact match required (driver-style)
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm_value(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def spark_frame(spark, fn, sf_dir: str) -> tuple[list[str], list[tuple]]:
    sdf = fn(spark, sf_dir)
    return sdf.columns, [tuple(r) for r in sdf.collect()]


def duck_frame(con, oracle: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(oracle)
    return [d[0] for d in res.description], res.fetchall()


def differences(spark_side, duck_side) -> list[str]:
    """THE parity comparison: row count, column names, and the
    order-insensitive value hash. Returns the problems found (empty
    means parity); a value mismatch also lists the first 3 differing
    canonical rows."""
    (scols, srows), (dcols, drows) = spark_side, duck_side
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rows {len(srows)} vs {len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
    elif frame_digest(scols, srows) != frame_digest(dcols, drows):
        problems.append("value-hash mismatch")
        so = sorted("\x01".join(_norm_value(v) for v in r) for r in srows)
        do = sorted("\x01".join(_norm_value(v) for v in r) for r in drows)
        diff = [(a, b) for a, b in zip(so, do) if a != b][:3]
        problems += [f"spark: {a!r} / duck: {b!r}" for a, b in diff]
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # driver-faithful mode: a bare session with NONE of session.py's
        # configs — catches anything that silently depends on them
        # (nanosAsLong is set at runtime by plans.registry.table)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .appName("parity-vanilla")
            .getOrCreate()
        )
    else:
        from hive_scripts_spark.session import get_spark

        spark = get_spark("parity")
    if os.environ.get("SPARK_GRAFT_NO_BHJ"):
        # 100 TB posture soak: at lake scale the big sides never fit the
        # broadcast threshold, so AQE's BHJ conversions all fall back to
        # shuffle joins — every query must be VALUE-identical that way.
        # (Explicit broadcast() hints on genuinely-bounded sides — dims,
        # eval sets, O(partitions) frames — still apply; those are sized
        # by construction, not by threshold.)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    queries, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            spark_side = spark_frame(spark, fn, sf_dir)
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(spark_side[1])} rows) — no oracle")
            continue
        try:
            duck_side = duck_frame(con, oracles[name])
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(ex).__name__}: {ex}")
            continue
        problems = differences(spark_side, duck_side)
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "\n      ".join(problems))
        else:
            print(f"PASS  {name} ({len(spark_side[1])} rows)")
    spark.stop()
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
