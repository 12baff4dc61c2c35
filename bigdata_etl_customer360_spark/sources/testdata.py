"""Loaders for the driver's synthetic TPC-H-ish tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Scan-plan memo, per session: {(sf_dir, table): the scan's JVM DataFrame}.
# Every spark.read.parquet call re-lists the path and re-reads parquet
# footers for schema resolution on the DRIVER — measured 70-130 ms per call
# at local[32], re-paid by every query build and every bench pass. The
# testdata paths are immutable, so the resolved scan (a plan + schema, NO
# rows — every action still reads the parquet) is declared once per session
# and referenced thereafter (guide §6 file-listing costs). The key is the
# session, not the application: a plan is analyzed under the confs of the
# session it belongs to (time zone, shuffle partitions), so a newSession()
# must not reuse another session's plan. Values are JVM handles, rewrapped
# for the caller, so no value refers back to its key: a session that is
# dropped takes its entries out of the memo.
_SCAN_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    columns: list[str] | None = None,
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # the conf is consulted at plan AND execution time, so set it on
        # every call, also when the scan plan comes from the memo
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo = _SCAN_MEMO.setdefault(spark, {})
    jdf = memo.get((sf_dir, name))
    if jdf is not None:
        df = DataFrame(jdf, spark)
    else:
        if name == "events":
            # events.ts has shipped as parquet TIMESTAMP(NANOS) in some
            # testdata generations (which Spark's vectorized reader rejects —
            # read as long nanos and convert) and plain TIMESTAMP(MICROS) in
            # others. Adapt to whichever is on disk instead of assuming a
            # generation.
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if isinstance(df.schema["ts"].dataType, T.LongType):
                # integer DIV, not `/`: epoch-nanos (~1.7e18) exceed double's
                # exact integer range, so float division drifts the odd
                # microsecond. Micro-aligned data -> truncation is lossless
                # and matches DuckDB's nanos→micros cast.
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
                # naive micros: interpret the wall-clock as UTC so the column
                # is the same instant (and same session-TZ-rendered value) as
                # the nanos generation produced via timestamp_micros
                df = df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        memo[(sf_dir, name)] = df._jdf
    if columns:
        df = df.select(*columns)
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view so queries can run
    through the ``spark.sql`` surface (same names the DuckDB oracle
    uses)."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
