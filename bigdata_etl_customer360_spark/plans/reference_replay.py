"""The reference's two ETL programs, recomposed from engine operators on
reference-SHAPED inputs (FIXTURES.md §A) — parity surface for replay tests.

``interaction_pipeline``  ≙ ETL_customer_interaction.py:82-98 end-to-end:
    30 daily JSON-lines files of ES-export TV logs → per-contract watch
    profile (pivoted per-type totals, active days, Most Watched, Taste,
    Level_Activeness) with the reference's exact output schema
    (README.md:80-93).
``behavior_pipeline``     ≙ ETL_customer_behavior.py:160-204 end-to-end:
    two months of search-log parquet → per-user top keyword per month →
    category classification → month-over-month trend comparison
    (README.md:102-112).

Differences from the reference are deliberate plan-shape fixes (SURVEY §4):
one multi-path scan instead of per-day union folds; explicit schemas (no
inference jobs); ONE pivot-aggregate after the union instead of 30 per-day
pivots; date derived from the file path instead of a per-day literal;
deterministic top-1 tie-break; classification inside the engine
(``classify_column``: keyword rules as a native CASE projection, other
classifiers in mapInPandas) instead of a 10k-row driver collect.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdata_etl_customer360_spark.functions.expressions import (
    argmax_label,
    bucketize_expr,
    flag_concat,
)
from bigdata_etl_customer360_spark.operators.enrich import classify_column
from bigdata_etl_customer360_spark.operators.relational import (
    map_dimension,
    top_k_per_group,
    trend_compare,
)
from bigdata_etl_customer360_spark.sources.readers import (
    read_json_lines,
    read_parquet,
    read_partition_window,
)

# --- interaction (log_content) ---------------------------------------------

# ES-export envelope (FIXTURES.md §A1); explicit so a malformed day cannot
# silently change inferred types (reference infers: ETL_customer_interaction.py:64).
LOG_CONTENT_SCHEMA = StructType(
    [
        StructField("_index", StringType()),
        StructField("_type", StringType()),
        StructField("_id", StringType()),
        StructField("_score", LongType()),
        StructField(
            "_source",
            StructType(
                [
                    StructField("Contract", StringType()),
                    StructField("Mac", StringType()),
                    StructField("TotalDuration", LongType()),
                    StructField("AppName", StringType()),
                ]
            ),
        ),
    ]
)

# AppName → content type (ETL_customer_interaction.py:10-17). Unmapped
# AppNames become 'Error' and are dropped (:20); config, not code.
APP_TYPE_MAP = {
    "CHANNEL": "Truyen Hinh",
    "DSHD": "Truyen Hinh",
    "KPLUS": "Truyen Hinh",
    "KPlus": "Truyen Hinh",
    "VOD": "Phim Truyen",
    "FIMS_RES": "Phim Truyen",
    "BHD_RES": "Phim Truyen",
    "VOD_RES": "Phim Truyen",
    "FIMS": "Phim Truyen",
    "BHD": "Phim Truyen",
    "DANET": "Phim Truyen",
    "RELAX": "Giai Tri",
    "CHILD": "Thieu Nhi",
    "SPORT": "The Thao",
}

# Pinned pivot values, alphabetical — kills the eager distinct job an
# unpinned pivot would run (ETL_customer_interaction.py:69).
CONTENT_TYPES = ("Giai Tri", "Phim Truyen", "The Thao", "Thieu Nhi", "Truyen Hinh")
# Argmax tie priority = the reference's when-chain order
# (ETL_customer_interaction.py:25-31).
MOST_WATCHED_PRIORITY = (
    "Truyen Hinh",
    "Phim Truyen",
    "Giai Tri",
    "Thieu Nhi",
    "The Thao",
)


def _slug(name: str) -> str:
    return name.replace(" ", "_")


def _interaction_clean(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Flatten + date-stamp + dimension-map + junk-filter stage shared by
    the one-shot pipeline and the incremental lake ingest."""
    raw = read_json_lines(spark, paths, LOG_CONTENT_SCHEMA)
    # file path .../yyyyMMdd.json → date (S3/E8 generalized: partition
    # identity comes from the path, not a driver-side literal).
    day = F.to_date(
        F.regexp_extract(F.input_file_name(), r"(\d{8})\.json", 1), "yyyyMMdd"
    )
    flat = raw.select("_source.*").withColumn("Date", day)

    mapped = map_dimension(flat, "AppName", APP_TYPE_MAP, out_col="Type", drop_unmapped=True)
    return mapped.filter(F.col("Contract") != "0")  # junk key (:19)


def interaction_pipeline(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Per-contract watch profile from daily JSON-lines logs.

    Output schema matches the reference's `interaction_data` table
    (README.md:80-93): Contract, Total_<Type>×5, Active, `Most Watched`,
    Taste, Level_Activeness.

    Plan: ONE multi-path JSON scan (date from input_file_name, replacing
    the per-day to_date(lit) stamp at ETL_customer_interaction.py:70) →
    flatten → dimension map + junk filters → a single pivot-aggregate
    with countDistinct(date) riding the same shuffle → codegen'd labels.
    The reference instead pivots per day and unions 30 pivoted frames
    (30 shuffles before the final one).
    """
    return _interaction_profile(_interaction_clean(spark, paths))


def _interaction_profile(clean: DataFrame, span_days: int | None = None) -> DataFrame:
    # ONE grouped aggregation: the 5 pivoted sums AND the distinct-day
    # count ride the same shuffle (the reference pivots per day, unions 30
    # frames, then aggregates again — 31 shuffles where one suffices).
    # ``span_days`` bounds how many distinct dates ``clean`` can hold.
    sums = [
        F.coalesce(
            F.sum(F.when(F.col("Type") == t, F.col("TotalDuration"))), F.lit(0)
        ).alias(f"Total_{_slug(t)}")
        for t in CONTENT_TYPES
    ]
    if span_days is not None and span_days <= ACTIVE_BITMASK_MAX_DAYS:
        # Distinct dates less than 64 days apart never share a residue mod
        # 64, so the popcount of OR-ed day bits is the exact distinct-day
        # count. bit_or is a fixed-width partial aggregate: one plain
        # hash-aggregate shuffle, where countDistinct plans two. No
        # per-window literal, so generated code is the same every day.
        day_bit = F.expr("shiftleft(1L, pmod(unix_date(Date), 64))")
        active = F.bit_count(F.bit_or(day_bit)).cast("long")
    else:
        active = F.countDistinct("Date")
    renamed = clean.groupBy("Contract").agg(*sums, active.alias("Active"))
    slug_cols = [f"Total_{_slug(t)}" for t in CONTENT_TYPES]
    prio_cols = [f"Total_{_slug(t)}" for t in MOST_WATCHED_PRIORITY]

    return (
        renamed.withColumn(
            "Most Watched", argmax_label(prio_cols, list(MOST_WATCHED_PRIORITY))
        )
        .withColumn("Taste", flag_concat(slug_cols, list(CONTENT_TYPES)))
        .withColumn(
            "Level_Activeness",
            # >20 High, 10..20 Medium, <10 Low (ETL_customer_interaction.py:54-57)
            bucketize_expr("Active", [9, 20], ["Low", "Medium", "High"], right_closed=True),
        )
        .select("Contract", *slug_cols, "Active", "Most Watched", "Taste", "Level_Activeness")
    )


# --- incremental lake (daily re-run operating model) ------------------------

# What interaction_ingest_daily lands: the cleaned event columns, with Date
# as the partition column. Pinned so a lake read infers nothing.
INTERACTION_LAKE_SCHEMA = StructType(
    [
        StructField("Contract", StringType()),
        StructField("Mac", StringType()),
        StructField("TotalDuration", LongType()),
        StructField("AppName", StringType()),
        StructField("Type", StringType()),
        StructField("Date", DateType()),
    ]
)

# Longest window whose distinct-day count the profile takes from a 64-bit
# day mask (one shuffle) instead of countDistinct (two).
ACTIVE_BITMASK_MAX_DAYS = 64


def interaction_ingest_daily(spark: SparkSession, paths: list[str], lake_path: str) -> None:
    """Stage 1 of the incremental formulation: land CLEANED, typed daily
    events in a Date-partitioned parquet lake via dynamic partition
    overwrite. Re-running any day (late data, a fixed extractor) rewrites
    exactly that day's partition — idempotent by construction, and the
    profile stage never re-reads days outside its window.

    The reference re-runs its whole month-long fold for any correction
    (ETL_customer_behavior.py:161-166's date-range loop, same model in
    ETL_customer_interaction.py); this splits ingest from aggregation so
    a daily correction costs one day's scan + write.
    """
    from bigdata_etl_customer360_spark.sources.sinks import write_partitioned_overwrite

    write_partitioned_overwrite(_interaction_clean(spark, paths), lake_path, ["Date"])


def interaction_profile_from_lake(
    spark: SparkSession,
    lake_path: str,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """Stage 2: the same profile aggregate, reading the Date-partitioned
    lake.

    With both ``start`` and ``end`` (ISO dates, inclusive) the lake is read
    through :func:`read_partition_window`: only the window's existing
    ``Date=`` directories are resolved and listed, with the pinned
    :data:`INTERACTION_LAKE_SCHEMA` — listing cost is O(window), not
    O(lake depth), and building the frame runs no Spark job for windows
    up to 32 days. Days missing from the lake are skipped. The bounds stay
    as filters on top; they touch only the partition column, so they cost
    nothing at run time. A window of at most ``ACTIVE_BITMASK_MAX_DAYS``
    (64) days counts active days with a day bitmask in the aggregate's
    single shuffle (exact only while every date in the frame lies within
    64 consecutive days, which the window guarantees); longer windows and
    calls without a window (one or no bound: a full-lake read) use
    countDistinct."""
    span_days = None
    if start is not None and end is not None:
        d0, d1 = date.fromisoformat(start), date.fromisoformat(end)
        span_days = max((d1 - d0).days + 1, 0)
        days = [(d0 + timedelta(days=k)).isoformat() for k in range(span_days)]
        lake = read_partition_window(spark, lake_path, "Date", days, INTERACTION_LAKE_SCHEMA)
    else:
        lake = spark.read.parquet(lake_path)
    if start is not None:
        lake = lake.filter(F.col("Date") >= F.lit(start).cast("date"))
    if end is not None:
        lake = lake.filter(F.col("Date") <= F.lit(end).cast("date"))
    return _interaction_profile(lake, span_days)


# --- behavior (log_search) --------------------------------------------------

LOG_SEARCH_SCHEMA = StructType(
    [
        StructField("eventID", StringType()),
        StructField("datetime", StringType()),
        StructField("user_id", StringType()),
        StructField("keyword", StringType()),
        StructField("category", StringType()),
        StructField("proxy_isp", StringType()),
        StructField("platform", StringType()),
        StructField("networkType", StringType()),
        StructField("action", StringType()),
    ]
)

# The reference's 14 classification labels (ETL_customer_behavior.py:71-85).
BEHAVIOR_LABELS = (
    "Action", "Romance", "Comedy", "Horror", "Animation", "Drama", "C Drama",
    "K Drama", "Sports", "Music", "Reality Show", "TV Channel", "News", "Other",
)


def most_search(df: DataFrame) -> DataFrame:
    """Top search keyword per user (most_search macro,
    ETL_customer_behavior.py:10-15) with a DETERMINISTIC tie-break
    (count desc, keyword asc) — the reference left ties to chance."""
    counted = (
        df.where(F.col("keyword").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id", "keyword")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    top = top_k_per_group(
        counted, ["user_id"], [F.col("count").desc(), F.col("keyword").asc()], k=1
    )
    return top.select("user_id", F.col("keyword").alias("most_search"))


def behavior_pipeline(
    spark: SparkSession,
    june_paths: list[str],
    july_paths: list[str],
    classifier,
) -> DataFrame:
    """Month-over-month search-behavior trend (ETL_customer_behavior.py
    :160-204 end-to-end), classification through ``classify_column``
    (no driver collect, no 10k-row silent cap — the reference's
    ``limit(10000)`` at :33 truncates its own input).

    Output schema = `behavior_data` (README.md:102-112): user_id,
    most_search_T6, category_T6, most_search_T7, category_T7,
    Trending_Type, Category_Change.
    """

    def month_profile(paths: list[str], tag: str) -> DataFrame:
        logs = read_parquet(spark, paths, columns=["user_id", "keyword"])
        top = most_search(logs)
        enriched = classify_column(top, "most_search", classifier, out_col="category")
        return enriched.select(
            "user_id",
            F.col("most_search").alias(f"most_search_{tag}"),
            F.col("category").alias(f"category_{tag}"),
        )

    return _month_trend(
        month_profile(june_paths, "T6"), month_profile(july_paths, "T7")
    )


def _month_trend(t6: DataFrame, t7: DataFrame) -> DataFrame:
    """Join two month profiles (user_id, most_search_T*, category_T*) into
    the reference's `behavior_data` shape — shared by the one-shot
    pipeline and the incremental lake path."""
    # inner join: single-month users drop, as in the reference (:196);
    # trend labels on the category columns (:199-201 / :138-143).
    compared = trend_compare(
        t6.withColumnRenamed("category_T6", "category"),
        t7.withColumnRenamed("category_T7", "category"),
        key="user_id",
        value_col="category",
        left_suffix="_T6",
        right_suffix="_T7",
        how="inner",
        trend_col="Trending_Type",
        change_col="Category_Change",
    )
    # trend_compare projects key+value; re-attach the keyword columns.
    out = (
        compared.join(t6.select("user_id", "most_search_T6"), on="user_id")
        .join(t7.select("user_id", "most_search_T7"), on="user_id")
    )
    return out.select(
        "user_id",
        "most_search_T6",
        F.col("category_T6"),
        "most_search_T7",
        F.col("category_T7"),
        "Trending_Type",
        "Category_Change",
    )


# What behavior_ingest_month lands, with month as the partition column.
BEHAVIOR_LAKE_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("most_search", StringType()),
        StructField("category", StringType()),
        StructField("month", StringType()),
    ]
)


def behavior_ingest_month(
    spark: SparkSession,
    paths: list[str],
    classifier,
    lake_path: str,
    month: str,
) -> None:
    """Incremental stage 1 for the behavior pipeline: one month's
    (user_id, most_search, category) profile landed as a ``month=<tag>``
    partition via dynamic overwrite. Re-classifying or re-extracting a
    month replaces ONLY that partition; every already-landed month keeps
    its bytes (and its classifier outputs — no accidental re-labeling of
    history when the rule set evolves)."""
    from bigdata_etl_customer360_spark.sources.sinks import write_partitioned_overwrite

    logs = read_parquet(spark, paths, columns=["user_id", "keyword"])
    top = most_search(logs)
    enriched = classify_column(top, "most_search", classifier, out_col="category")
    out = enriched.select("user_id", "most_search", "category").withColumn(
        "month", F.lit(month)
    )
    write_partitioned_overwrite(out, lake_path, ["month"])


def behavior_trend_from_lake(
    spark: SparkSession, lake_path: str, month_a: str, month_b: str
) -> DataFrame:
    """Incremental stage 2: month-over-month trend between any two landed
    months — the two ``month=`` partitions read through
    :func:`read_partition_window` with the pinned
    :data:`BEHAVIOR_LAKE_SCHEMA` (no listing of other months, no footer
    job), then the same join/trend plan as the one-shot pipeline."""
    lake = read_partition_window(
        spark, lake_path, "month", [month_a, month_b], BEHAVIOR_LAKE_SCHEMA
    )

    def tagged(month: str, tag: str) -> DataFrame:
        return lake.filter(F.col("month") == month).select(
            "user_id",
            F.col("most_search").alias(f"most_search_{tag}"),
            F.col("category").alias(f"category_{tag}"),
        )

    return _month_trend(tagged(month_a, "T6"), tagged(month_b, "T7"))
