"""Sinks (SURVEY §2.1 S7/S8).

Mirrors the reference's MySQL JDBC sink (ETL_customer_interaction.py:73-80,
ETL_customer_behavior.py:145-158) with explicit mode semantics (the
reference's README claims append but the code overwrites — code wins), plus
a parquet sink for lake-style output. Credentials come from the caller /
environment; never hardcoded (the reference embeds an API key and DB
password in source — ETL_customer_behavior.py:28)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "com.mysql.cj.jdbc.Driver",
    mode: str = "overwrite",
    batchsize: int = 10000,
    num_partitions: int | None = None,
) -> None:
    """JDBC sink. One DB connection per partition — cap with
    ``num_partitions`` so a 1000-executor job doesn't open 1000
    connections against one MySQL server."""
    out = df.repartition(num_partitions) if num_partitions else df
    (
        out.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batchsize))
        .mode(mode)
        .save()
    )


def write_partitioned_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    files_per_partition: int | None = 1,
) -> None:
    """Idempotent incremental write: overwrite ONLY the partitions present
    in ``df``, leaving every other partition untouched.

    This is the daily-rerun operating model the reference assumes
    (ETL_customer_behavior.py:161-166 iterates date ranges) but cannot
    express — its JDBC overwrite drops the WHOLE table each run, and a
    plain parquet ``append`` double-counts on re-run. With the per-write
    ``partitionOverwriteMode=dynamic`` option (the session conf is left
    alone), ``mode('overwrite')`` deletes exactly the
    partition directories the incoming frame writes — so re-running any
    date window is byte-idempotent, and concurrent runs over DISJOINT
    windows never touch each other's data. At 100 TB this is also the
    cheap path: a day's re-run costs one day's write, not a table rewrite.

    ``files_per_partition`` controls output layout. Left at the default
    (1), the frame is hash-repartitioned on the partition columns first,
    so every partition directory is written by exactly one task → exactly
    one file. Without it, EVERY upstream task writes a file into EVERY
    partition dir it has rows for — the classic tasks×partitions
    small-files explosion (and, on a single-row-group source, the
    opposite failure: one task serially writing all partitions). Set it
    >1 to salt hot partitions (a skewed day gets UP TO N writers / N
    files — the salt hashes whole rows, so fully-duplicate rows co-locate
    and hash collisions mod N can land on fewer than N values; it also
    requires every column be xxhash64-hashable, i.e. no MapType), or None
    to keep the upstream partitioning as-is.
    """
    if files_per_partition is not None:
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in partition_by]
        if files_per_partition > 1:
            # deterministic salt: spread each partition's rows over N
            # writers without rand() (stable under task retry)
            cols.append(F.pmod(F.xxhash64(*df.columns), F.lit(files_per_partition)))
        df = df.repartition(*cols)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_console(df: DataFrame, n: int = 20, truncate: bool = True) -> None:
    df.show(n, truncate=truncate)
