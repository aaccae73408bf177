"""Registry of named queries with DuckDB oracles.

Every operator claimed in SURVEY §2 registers here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent ANSI-SQL oracle string for DuckDB. The
driver compares the two at sf0.01 by row count + schema +
order-insensitive value hash, so:

* every computed column is aliased identically on both sides;
* float aggregates go through **exact decimal accumulation** then a cast
  to double (deterministic on both engines, immune to summation order);
* fingerprints use the portable md5-prefix modular sum
  (:mod:`hive_scripts_spark.functions.canonical`).

Import side effect: importing this module imports the query modules,
which populate :data:`QUERIES` / :data:`ORACLES` via :func:`register`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} (a second "
                "register() would silently shadow the first in the "
                "driver's queries() dict)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: time-typed columns per table: the data layer has shipped these as
#: TIMESTAMP(NANOS)-as-long, micros-NTZ, and micros-UTC parquet at
#: various times (events.ts changed representation mid-round-4), so every
#: one is canonicalized on load instead of assuming a layout.
_TS_COLUMNS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (TESTDATA.md layout).

    Columns listed in :data:`_TS_COLUMNS` are canonicalized to a
    UTC-instant ``TIMESTAMP`` by the dtype-driven probe in
    :mod:`hive_scripts_spark.sources.events`, whatever parquet
    representation the data layer picked.
    """
    ts_cols = _TS_COLUMNS.get(name)
    if not ts_cols:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from hive_scripts_spark.sources.events import normalize_event_ts, pin_utc

    pin_utc(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in ts_cols:
        df = normalize_event_ts(df, c)
    return df


def _load_all() -> None:
    # populate the registry (import side effects); registry order is
    # import order
    from hive_scripts_spark.plans import analytics_queries  # noqa: F401
    from hive_scripts_spark.plans import extension_queries  # noqa: F401
    from hive_scripts_spark.plans import reference_queries  # noqa: F401


_load_all()
