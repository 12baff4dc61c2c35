"""Bucketed tables: pre-shuffled storage for co-located joins and
id-keyed pipelines.

Writing a fact table bucketed by its join key hash-partitions the DATA ON
DISK; any later equi-join between tables bucketed the same way (same key,
same bucket count) needs NO shuffle at read time — the exchange the join
would otherwise pay on every query is paid once at write time. This is the
standard answer for a 100 TB fact table joined on the same key by many
recurring queries (the complement of `broadcast` for small dims and
`salted_join` for skew).

The same property powers the DEDUP LADDER: its shuffles split into
CONTENT-keyed (shingle / fingerprint / band-hash joins — inherent to the
algebra, bucketing cannot remove them) and ID-keyed (minhash signature
build ``groupBy(doc_id)``, the cluster-canonical ``docs ⋈ labels`` corpus
side, per-doc re-assembly). A corpus written ``bucketBy(doc_id)`` makes
the scan report ``HashPartitioning(doc_id, n)``, so EnsureRequirements
drops the Exchange in front of every id-keyed stage that consumes the
scan through narrow transformations — one corpus-wide shuffle paid at
write time, amortized across exact-dedup -> near-dup -> cluster runs that
would otherwise each re-shuffle the corpus. Pick ``buckets`` >= cluster
parallelism — that also keeps :func:`operators.util.fan_out` a no-op so
the bucketing survives into the operators. The session catalog (in-memory
here, a real metastore in production) carries the bucket metadata;
reading the same parquet by PATH loses it.

POINT LOOKUPS (e.g. "is this fingerprint seen?" against a 100 TB lake):
a bucket-key equality filter can prune the scan to 1 of ``buckets``
files — but Spark's ``DisableUnnecessaryBucketedScan`` rule drops the
bucketed scan for a bare filter query (no join/agg wants the
distribution), silently losing the pruning. Set
``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` for the
lookup — :func:`bucket_pruned_scans` scopes it — and the scan shows
``SelectedBucketsCount: 1 out of N``
(pinned by tests/test_plans.py::test_bucket_pruning_point_lookup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    buckets: int = 16,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (optionally sort-within-bucket) parquet table
    in the session catalog. ``sort_cols`` additionally pre-sorts each
    bucket file so a sort-merge join skips its sort too. ``path`` makes
    the table external (data at ``path``, metadata in the catalog) — for
    overwrites the existing table is dropped first, since saveAsTable
    refuses to re-point an external table at a new location (keeps
    bench/driver re-runs with fresh scratch dirs idempotent)."""
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    if path is not None and mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table through the catalog (a PATH read of the same
    files would silently drop the bucket metadata and re-introduce the
    Exchanges bucketing exists to remove)."""
    return spark.table(table)


def co_located_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-spec bucketed tables on their bucket key — plans as a
    shuffle-free sort-merge join (bucketed scans already satisfy the
    join's distribution requirement)."""
    return spark.table(left_table).join(
        spark.table(right_table), on=on, how=how
    )


def seen_fold_bucketed(
    spark: SparkSession,
    table: str,
    fps: DataFrame,
    buckets: int = 32,
    path: str | None = None,
    fp_col: str = "fp",
    fps_is_distinct: bool = False,
) -> None:
    """Fold a batch's fingerprints into a seen-set LAKE stored as an
    ``fp``-bucketed table — the 100 TB shape of incremental dedup's
    accumulated history (``operators.dedup.doc_fingerprints``).

    ``fps_is_distinct``: the lake itself needs distinct input only to
    avoid appending the same NEW fingerprint twice from one batch; when
    the caller feeds dedup_incremental survivors (one row per fp by
    construction — the maintainer call sites), the ``distinct()`` here
    is a wasted agg pass over the batch (r17, the seen_is_distinct
    discipline applied to the fold side). The NULL filter always runs.

    The plain-parquet seen snapshot re-shuffles the ENTIRE seen set on
    every batch's anti-join (and again on every fold's distinct): at
    100 TB of history that per-batch Exchange dwarfs the batch itself.
    Bucketing the lake by the fingerprint makes the scan report
    ``HashPartitioning(fp, buckets)``, so both consumers become
    shuffle-free on the lake side, paying only a |batch|-sized Exchange:

    - the ingest anti-join ``batch LEFT ANTI JOIN lake ON fp``
      (``dedup_incremental(batch, seen=spark.table(table))``), and
    - the fold's own only-new filter below.

    First call creates the table (``bucketBy(buckets, fp)``; ``path``
    makes it external). Later calls APPEND only the fingerprints not
    already present (anti-join against the lake — lake side shuffle-free
    by the same bucketing), so the lake stays distinct by construction
    and no fold ever rewrites history — vs the plain snapshot's full
    read-union-distinct-overwrite. Re-folding an already-folded batch
    appends nothing (the anti-join drops every row), so the fold is
    idempotent under at-least-once redelivery just like the snapshot
    maintainer. Each append lands ≤ ``buckets`` new files; a periodic
    :func:`compact_lake` pass rewrites them back to one file per bucket
    — the bucket spec, not the file layout, is the contract. Pick
    ``buckets`` >= cluster parallelism, and keep it FIXED for the lake's
    lifetime (appends must match the table's spec).

    NULL fingerprints are dropped: the only consumer semantics a seen
    set has is equality anti-joins, where NULL matches nothing — a NULL
    row could never suppress a document, but (NULL != NULL) would make
    the only-new filter re-append it on EVERY fold, growing the lake
    silently. ``operators.dedup.text_fingerprint`` never emits NULL
    (post-md5 sentinel); this guards foreign fingerprint columns.

    Every fold repartitions on ``fp_col`` at the bucket width before the
    write (see :func:`lake_create_or_append` — one file per non-empty
    bucket per fold, elided when the upstream already hash-partitions on
    the key at that width), so file counts grow with FOLD COUNT, not
    fold count × write tasks.

    Catalog-loss guard: table metadata lives in the session catalog
    (in-memory here, a metastore in production). If the catalog entry is
    gone (fresh session) but ``path`` already holds data, the "first
    call" branch would OVERWRITE the accumulated lake — refuse loudly
    instead; :func:`register_seen_lake` re-attaches the catalog entry
    over the existing files.

    Plan pinned by tests/test_plans.py::
    test_bucketed_seen_lake_antijoin_has_no_lake_side_exchange.
    """
    fps = fps.select(F.col(fp_col).alias(fp_col)).filter(
        F.col(fp_col).isNotNull()
    )
    if not fps_is_distinct:
        fps = fps.distinct()
    if not spark.catalog.tableExists(table):
        # probe the MANAGED warehouse location too when no external path
        # was given (ADVICE r14): a fresh in-memory-catalog session
        # forgets a managed lake while its files survive, and the
        # first-fold overwrite below would drop the history
        probe = path if path is not None else _default_table_path(spark, table)
        if _lake_has_history(probe):
            raise RuntimeError(
                f"seen lake table {table!r} is not in the session catalog "
                f"but {probe!r} (or its ._old swap twin) already holds data "
                "— overwriting would drop the accumulated history. "
                "Re-attach it first: register_seen_lake(spark, "
                f"{table!r}, {probe!r}, buckets={buckets}, "
                f"fp_col={fp_col!r}); a lone ._old means a maintenance "
                "pass crashed mid-swap — re-run rebucket_lake/compact_lake "
                "to recover it."
            )
        fps = fps.repartition(int(buckets), F.col(fp_col))
        writer = fps.write.mode("overwrite").format("parquet").bucketBy(
            buckets, fp_col
        )
        if path is not None:
            writer = writer.option("path", path)
        writer.saveAsTable(table)
        return
    new = fps.join(spark.table(table), on=fp_col, how="left_anti").repartition(
        int(buckets), F.col(fp_col)
    )
    new.write.mode("append").format("parquet").bucketBy(buckets, fp_col).saveAsTable(
        table
    )


def _default_table_path(spark: SparkSession, table: str) -> str:
    """The warehouse location a MANAGED table's files land at — the path
    the catalog-loss guards must probe when the caller gave no external
    path (ADVICE r14: a managed lake in a fresh in-memory-catalog session
    still has surviving files, and the 'first fold' branch would commit
    re-crawls against an empty seen set without this probe)."""
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    parts = table.split(".")
    if len(parts) == 2:
        return os.path.join(wh, parts[0].lower() + ".db", parts[1].lower())
    return os.path.join(wh, table.lower())


def _dir_has_data(path: str) -> bool:
    """True when ``path`` holds any non-hidden file (Spark data files; a
    lone _SUCCESS / _QUERY_ID marker does not count as data)."""
    import os

    for root, _dirs, files in os.walk(path):
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def _lake_has_history(path: str) -> bool:
    """Catalog-loss probe for every first-write guard: the lake's history
    counts as present when ``path`` holds data OR when ``path._old``
    does — a crash INSIDE the rebucket/compact swap window leaves the
    whole history parked at ``._old`` with ``path`` gone, and a fresh
    session's guard that only probed ``path`` would take the first-write
    branch and orphan it silently (re-running the maintenance pass
    recovers from ``._old``; see :func:`rebucket_lake`)."""
    return _dir_has_data(path) or _dir_has_data(path.rstrip("/") + "._old")


def _data_file_count(path: str) -> int:
    """Non-hidden data files under ``path`` — the quantity
    :func:`maybe_compact_lake`'s trigger watches."""
    import os

    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def maybe_compact_lake(
    spark: SparkSession, table: str, path: str, max_files: int
) -> bool:
    """Run :func:`compact_lake` iff the lake's data-file count exceeds
    ``max_files``; returns True when a compaction ran. The streaming
    maintainers call this AFTER their folds (opt-in
    ``compact_files_over=``) — the inter-batch window of a maintainer is
    single-writer by construction, which is exactly compact_lake's
    requirement, so lake self-maintenance needs no outside scheduler.
    With the aligned fold writes each fold lands ≤ one file per
    non-empty bucket, so ``max_files = k * buckets`` compacts roughly
    every ``k`` batches."""
    if _data_file_count(path) <= int(max_files):
        return False
    compact_lake(spark, table, path)
    return True


def register_seen_lake(
    spark: SparkSession,
    table: str,
    path: str,
    buckets: int = 32,
    fp_col: str = "fp",
    fp_type: str = "STRING",
) -> None:
    """Re-attach a seen-fingerprint lake's catalog entry over its existing
    files — the restart path for :func:`seen_fold_bucketed` when the
    session catalog is in-memory (a fresh session forgets the table but
    the external parquet survives). The DDL re-declares the SAME bucket
    spec the writer used; Spark recovers each file's bucket id from the
    bucketed writer's file-name convention, so the re-registered scan
    reports ``HashPartitioning(fp, buckets)`` exactly like the original
    (pinned by tests/test_plans.py::test_register_seen_lake_restores_
    bucketed_scan). ``buckets``/``fp_col``/``fp_type`` MUST match the
    lake's original spec — a mismatched re-declaration would mis-route
    the bucket-pruned reads or silently mis-declare the column; the
    spec, not this call, is the lake's contract. ``fp_type`` covers
    foreign fingerprint columns (a lake folded from e.g. 64-bit hashes
    re-attaches as ``BIGINT``); the declared type is validated against
    the parquet footer when the path holds data."""
    register_lake(spark, table, path, [(fp_col, fp_type)], fp_col, buckets)


def register_lake(
    spark: SparkSession,
    table: str,
    path: str,
    columns: list[tuple[str, str]],
    bucket_col: str,
    buckets: int,
) -> None:
    """Generic catalog re-attach for an external bucketed lake
    (:func:`register_seen_lake` for arbitrary schemas — the near-dup
    maintainer's band/signature lakes need more than one column). The
    declared column types are validated against the parquet footer of the
    existing files (when any): a wrong DDL would otherwise silently
    declare a wrong schema and corrupt every downstream join."""
    if _dir_has_data(path):
        actual = {f.name: f.dataType.simpleString() for f in spark.read.parquet(path).schema.fields}
        for name, ddl in columns:
            declared = (
                spark.sql(f"SELECT CAST(NULL AS {ddl})").schema[0]
                .dataType.simpleString()
            )
            if actual.get(name) != declared:
                raise ValueError(
                    f"lake at {path!r} declares column {name!r} as {ddl!r} "
                    f"({declared}) but the parquet footer says "
                    f"{actual.get(name)!r} — the re-attach DDL must match "
                    "the lake's written schema exactly."
                )
    cols_ddl = ", ".join(f"{name} {ddl}" for name, ddl in columns)
    spark.sql(
        f"CREATE TABLE {table} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({bucket_col}) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def rebucket_seen_lake(
    spark: SparkSession,
    table: str,
    path: str,
    buckets: int,
    fp_col: str = "fp",
    fp_type: str = "STRING",
) -> None:
    """Migrate a seen-fingerprint lake to a NEW bucket count — the
    bucket-evolution story (VERDICT r14 task 6): ``buckets`` is pinned
    for a lake's lifetime because appends must match the table's spec,
    but a lake that grew 100x needs wider buckets eventually. Values are
    untouched — fold/anti-join results before and after the migration
    are identical (pinned by tests/test_plans.py::test_rebucket_seen_
    lake), only the Exchange-elision width changes. Single-column
    convenience over :func:`rebucket_lake` (which migrates any lake —
    the near-dup band/signature lakes, the ANN codes lake)."""
    rebucket_lake(spark, table, path, [(fp_col, fp_type)], fp_col, buckets)


def rebucket_lake(
    spark: SparkSession,
    table: str,
    path: str,
    columns: list[tuple[str, str]],
    bucket_col: str,
    buckets: int,
) -> None:
    """Generic bucket-count migration for an external bucketed lake: one
    maintenance pass — read the rows, rewrite them bucketed at the new
    width into ``<path>._tmp``, swap directories crash-safely (the
    ``compact_parquet`` discipline — at every instant ``path`` or
    ``._old`` holds the full history), and re-register the catalog entry
    with the new spec (``columns`` as for :func:`register_lake`).

    Single-writer maintenance pass (pause folds while it runs). A crash
    before the swap leaves the lake untouched (stale ``._tmp`` is
    removed on retry); a crash inside the swap window recovers from
    ``._old`` on retry; a crash after the swap but before the
    re-register leaves the files at the NEW width with no catalog entry
    — re-run this function (its read is a plain path read) or
    ``register_lake`` with the new count.

    The rewrite repartitions on the bucket column at the target width
    before writing: ``repartition(n, col)``'s HashPartitioning router
    (pmod of Murmur3) IS the bucketed writer's bucket-id function, so
    each write task holds exactly one bucket's rows and the rewritten
    lake lands ONE file per non-empty bucket — every migration is also
    a full compaction (:func:`compact_lake` runs this pass at the
    CURRENT width for exactly that effect)."""
    import os
    import shutil

    tmp, old = path.rstrip("/") + "._tmp", path.rstrip("/") + "._old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)  # crash hit the swap window: recover
    shutil.rmtree(tmp, ignore_errors=True)  # stale partial rewrite
    rows = spark.read.parquet(path).repartition(int(buckets), F.col(bucket_col))
    tmp_table = table + "__rebucket_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    rows.write.mode("overwrite").format("parquet").bucketBy(
        int(buckets), bucket_col
    ).option("path", tmp).saveAsTable(tmp_table)
    # drop METADATA only (external tables keep their files), then swap
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    register_lake(spark, table, path, columns, bucket_col, int(buckets))


def bucket_pruned_scans(spark: SparkSession):
    """Context manager enabling bucket pruning for point lookups: within
    the block, a bucket-key equality filter scans ``SelectedBucketsCount:
    1 out of N`` instead of every file (the module docstring's
    is-this-fp-seen pattern). Spark's DisableUnnecessaryBucketedScan
    otherwise drops the bucketed scan for a bare filter — and because
    PHYSICAL PLANNING HAPPENS AT ACTION TIME, flipping the conf around
    just the DataFrame construction does nothing: run the action (or
    ``plan_of``/``explain``) inside the block. Restores the previous
    setting on exit; session-scoped conf, so don't interleave with
    concurrent queries that need auto-bucketed-scan disabling decisions
    of their own."""
    from bigdata_etl_customer360_spark.operators.util import session_conf

    return session_conf(
        spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )


def compact_lake(spark: SparkSession, table: str, path: str) -> None:
    """Bucket-preserving compaction of an external bucketed lake: rewrite
    the accreted append files into one file per non-empty bucket — same
    rows, same spec, crash-safe swap (:func:`rebucket_lake` at the lake's
    CURRENT width).

    Why it exists: the append-only fold discipline lands up to
    ``buckets`` new files per fold, so a lake folded thousands of times
    pays per-batch file listing/open overhead that grows with FOLD COUNT
    even while the algorithmic cost stays |batch|-shaped —
    scripts/stress_neardup.py measured an over-bucketed maintainer paying
    3x per-batch wall on that overhead alone. This maintenance pass
    restores the file-count floor without touching the lake's contract.

    The bucket spec is derived FROM the catalog entry rather than taken
    as arguments: compaction must never change the spec, and re-stating
    it at the call site is exactly the transcription error
    ``register_lake`` exists to catch. Single-writer (pause folds while
    it runs), same crash windows as ``rebucket_lake``. Readers attached
    through OTHER sessions must ``spark.catalog.refreshTable`` after the
    swap (same rule as any maintenance rewrite)."""
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    buckets = int(desc["Num Buckets"])
    bucket_cols = [
        c.strip(" `") for c in desc["Bucket Columns"].strip("[]").split(",")
    ]
    if len(bucket_cols) != 1:
        raise ValueError(
            f"compact_lake supports single-column bucketing; {table!r} is "
            f"bucketed on {bucket_cols}"
        )
    if desc.get("Sort Columns", "[]").strip("[] `"):
        raise ValueError(
            f"{table!r} declares a sort-within-bucket spec "
            f"({desc['Sort Columns']}) which this rewrite would silently "
            "drop — compact sorted tables with write_bucketed(sort_cols=...)"
            " directly."
        )
    columns = [
        (f.name, f.dataType.simpleString())
        for f in spark.table(table).schema.fields
    ]
    rebucket_lake(spark, table, path, columns, bucket_cols[0], buckets)


def lake_create_or_append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    bucket_col: str,
    buckets: int,
    path: str,
) -> None:
    """Create-or-append primitive for an external bucketed lake whose
    caller owns the only-new filtering (:func:`seen_fold_bucketed` bakes
    the anti-join in; the near-dup maintainer computes ONE new-id set
    that gates appends to TWO lakes, so the filter lives with the
    caller). First call creates the table (with the same catalog-loss
    guard as ``seen_fold_bucketed``: a populated ``path`` without a
    catalog entry refuses loudly — :func:`register_lake` re-attaches);
    later calls append. Appends are atomic at job commit; keep
    ``buckets`` fixed for the lake's lifetime.

    ``spark`` must be the session the CALLER reads the lake through.
    ``df`` may belong to a different session (inside ``foreachBatch``
    the micro-batch frames live on a per-batch CLONE of the session);
    a clone-side insert does not invalidate the reader session's cached
    file listing for the table, so without the refresh below every
    later ``spark.table(table)`` silently reads the pre-append listing
    — history-losing, and invisible until a re-crawl sails through.

    Every write repartitions on ``bucket_col`` at the bucket width
    first: Spark's bucketed writer does NOT shuffle, so an unaligned
    input lands one file per (write task × bucket present) and a lake
    folded thousands of times accretes tasks× more files than the fold
    count — the real source of the stress_neardup over-bucketing
    overhead. ``repartition(n, col)`` routes by the same pmod-Murmur3
    the writer buckets by, so each task holds exactly one bucket (one
    file per non-empty bucket per fold), Catalyst elides the exchange
    entirely when the upstream already hash-partitions on the key at
    that width, and otherwise it costs one batch-sized (never
    lake-sized) shuffle."""
    df = df.repartition(int(buckets), F.col(bucket_col))
    if not spark.catalog.tableExists(table):
        if _lake_has_history(path):
            raise RuntimeError(
                f"lake table {table!r} is not in the session catalog but "
                f"{path!r} (or its ._old swap twin) already holds data — "
                "overwriting would drop the accumulated history. Re-attach "
                "it first with sources.bucketed.register_lake (same "
                "columns/bucket spec the writer used); a lone ._old means "
                "a maintenance pass crashed mid-swap — re-run "
                "rebucket_lake/compact_lake to recover it."
            )
        df.write.mode("overwrite").format("parquet").bucketBy(
            buckets, bucket_col
        ).option("path", path).saveAsTable(table)
    else:
        df.write.mode("append").format("parquet").bucketBy(
            buckets, bucket_col
        ).saveAsTable(table)
    spark.catalog.refreshTable(table)
