"""Schema-explicit, multi-path source readers.

The reference reads sources one file/dir per day inside Python loops and
folds them with ``union`` (ETL_customer_behavior.py:170-181,
ETL_customer_interaction.py:87-92), with inferred schemas everywhere —
which costs one eager inference job per file and builds N-deep union
plans. Here every read is a single multi-path scan with a pinned schema:
no inference jobs, a flat plan, and Catalyst partition pruning.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def date_range_paths(base: str, start: str, end: str, suffix: str = "") -> list[str]:
    """``yyyyMMdd`` path list for an inclusive date range.

    Generalizes the reference's ``generate_date``
    (ETL_customer_behavior.py:17-19) without the pandas dependency. For
    hive-layout data (``date=.../``) prefer a partitioned read plus a
    ``WHERE`` clause and let Catalyst prune instead.
    """
    d0 = date.fromisoformat(f"{start[:4]}-{start[4:6]}-{start[6:8]}")
    d1 = date.fromisoformat(f"{end[:4]}-{end[4:6]}-{end[6:8]}")
    if d1 < d0:
        raise ValueError(f"end {end} before start {start}")
    out = []
    cur = d0
    while cur <= d1:
        out.append(f"{base}{cur.strftime('%Y%m%d')}{suffix}")
        cur += timedelta(days=1)
    return out


def read_json_lines(
    spark: SparkSession, paths: list[str] | str, schema: StructType
) -> DataFrame:
    """JSON-lines scan with an explicit schema (SURVEY §2.1 S1).

    The explicit schema removes the reference's per-file eager
    schema-inference job (ETL_customer_interaction.py:64) and pins column
    types against malformed days.
    """
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.schema(schema).json(paths)


def read_parquet(
    spark: SparkSession,
    paths: list[str] | str,
    columns: list[str] | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Multi-path parquet scan (SURVEY §2.1 S2/S3/S4).

    Parquet is self-describing (footer schema), so no inference job; an
    optional ``columns`` projection lets Catalyst prune the scan to the
    requested columns (visible as ReadSchema in .explain).
    """
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    df = reader.parquet(*paths)
    if columns:
        df = df.select(*columns)
    return df


def read_partition_window(
    spark: SparkSession,
    base_path: str,
    column: str,
    values: list[str],
    schema: StructType,
) -> DataFrame:
    """Parquet scan of just the ``<column>=<value>`` partitions of a
    hive-layout table, with a pinned ``schema`` (data columns plus
    ``column``).

    ``spark.read.parquet(base_path)`` lists every partition directory
    (past ``spark.sql.sources.parallelPartitionDiscovery.threshold`` — 32 —
    directories, as a Spark job) and then runs a footer job to infer a
    schema, before any filter can prune. Here the driver asks the Hadoop
    filesystem whether each window directory exists and hands only those
    to the reader, with ``basePath`` so ``column`` stays a partition
    column and the schema pinned so no footer is read: listing cost is
    O(window), not O(table depth), and building the frame runs no Spark
    job while the window stays within that threshold.

    Values missing from the table are skipped and repeated ones read once;
    if none exists the result is an empty frame with ``schema``. Values
    are used as directory names unescaped: dates and month tags need no
    escaping.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(base_path).getFileSystem(spark._jsc.hadoopConfiguration())
    root = base_path.rstrip("/")
    dirs = [f"{root}/{column}={v}" for v in dict.fromkeys(values)]
    present = [d for d in dirs if fs.exists(hpath(d))]
    if not present:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", base_path).parquet(*present)


def read_csv(
    spark: SparkSession,
    paths: list[str] | str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with a MANDATORY explicit schema (no inference job, no
    silent type drift on a malformed day) and FAILFAST parsing by default
    — a corrupt row stops the load instead of poisoning the lake
    (``mode='PERMISSIVE'`` opts back into null-filling). Multi-path like
    every reader here: one flat scan, no union folds."""
    if isinstance(paths, str):
        paths = [paths]
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", mode)
        .csv(paths)
    )


def read_orc(
    spark: SparkSession,
    paths: list[str] | str,
    columns: list[str] | None = None,
) -> DataFrame:
    """ORC scan — self-describing like parquet (footer schema, column
    pruning + predicate pushdown via Catalyst), covering the other
    columnar lake format a migrating user may hold."""
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.orc(*paths)
    if columns:
        df = df.select(*columns)
    return df


def read_binary(
    spark: SparkSession,
    paths: list[str] | str,
    path_glob_filter: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Binary-file scan (``binaryFile`` format) — how a real multimodal
    pipeline ingests raw media: one row per file with
    ``(path, modificationTime, length, content)``, read distributed (each
    task opens its own files; the driver only lists). ``path_glob_filter``
    prunes at LISTING time (e.g. ``"*.tar"`` / ``"*.jpg"``), so excluded
    files are never opened; ``recursive`` descends nested directories.

    Scale notes: files >2 GB cannot ride a single BinaryType cell — shard
    upstream (the tar-shard convention in
    ``operators.multimodal.expand_tar_shards`` keeps members small while
    amortizing filesystem metadata over ~100-1000 members per shard).
    """
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read.format("binaryFile")
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(paths)
