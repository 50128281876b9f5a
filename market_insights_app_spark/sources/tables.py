"""Parquet table loaders for the driver testdata.

Columnar parquet replaces the reference's single-file row-store SQLite
(db.py:9-16). Reads are plain ``spark.read.parquet`` so Catalyst keeps
full pushdown freedom: filters and projections written downstream reach
the scan (PushedFilters / ReadSchema), which is the 100 TB-scale
contract — never pre-materialize, never collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_insights_app_spark.schemas import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Schema comes from the parquet footer
    (already the exact types in schemas.TESTDATA); passing no explicit
    schema keeps vectorized reader + pushdown defaults intact.

    events.ts is parquet TIMESTAMP(NANOS): Spark 4 reads it natively as
    TIMESTAMP_NTZ truncated to microseconds — bit-identical to DuckDB's
    ``epoch_us(ts)`` truncation, so both engines see the same instants
    and NTZ predicates push down to the scan (row-group pruning). If an
    enclosing session was built with the legacy ``nanosAsLong`` conf the
    column arrives as a long of nanoseconds instead; the branch below
    canonicalizes that shape to the same microsecond timestamps.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TESTDATA_TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Keep the raw nanos column: predicates on the converted ts
        # cannot push through the arithmetic into the parquet scan, but
        # an equivalent raw-space predicate on ts_ns can (row-group
        # pruning at scale) — see operators.filters.events_ts_range.
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}
