"""Shared operator plumbing."""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_scope_state = threading.local()


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` that an enclosing :func:`cache_scope` can release.

    Operators are pure ``DataFrame -> DataFrame`` and must cache
    intermediates consumed by both sides of a self-join — but they return
    before any action runs, so they can never unpersist. Bare ``.cache()``
    therefore leaks blocks until LRU eviction unless the caller remembers
    ``spark.catalog.clearCache()`` — a sledgehammer that also evicts every
    unrelated cache in the session. ``scoped_cache`` keeps the same lazy
    semantics but registers the frame with the innermost active
    :func:`cache_scope` (if any) so the CALLER controls the lifetime.
    With no active scope this is exactly ``.cache()``.
    """
    cached = df.cache()
    stack = getattr(_scope_state, "stack", None)
    if stack:
        stack[-1].append(cached)
    return cached


@contextmanager
def cache_scope(blocking: bool = False) -> Iterator[list[DataFrame]]:
    """Release every operator-internal cache created inside the block.

    Usage::

        with cache_scope():
            minhash_lsh_pairs(docs).write.parquet(out)   # action inside
        # all intermediate posting/signature caches are unpersisted here

    Scopes nest (inner frames release at inner exit) and are thread-local,
    so concurrent driver threads don't release each other's caches. The
    yielded list is the live registry — callers may append their own
    cached frames to tie them to the same lifetime. ``blocking=True``
    waits for block removal (deterministic for tests; production callers
    usually want the async default). Run the ACTION inside the scope:
    frames unpersisted at exit recompute from lineage if consumed later
    (correct, just slower)."""
    stack = getattr(_scope_state, "stack", None)
    if stack is None:
        stack = _scope_state.stack = []
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield frames
    finally:
        stack.pop()
        for f in frames:
            f.unpersist(blocking=blocking)


@contextmanager
def session_conf(spark, key: str, value: str) -> Iterator[None]:
    """Set session conf ``key`` to ``value`` for the block, then restore
    the exact prior state — the old value, or UNSET if the key was unset
    (so a registered default is not pinned as an explicit setting) — also
    when the block raises.

    Session conf is SESSION-global: a query planned concurrently on the
    same SparkSession during the block sees ``value`` too. Operators that
    need their own width or conversion path assume one driver thread per
    session (the bench/driver model); a concurrent deployment should run
    them on ``spark.newSession()``."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def sized_shuffle(spark, n_rows: int, rows_per_partition: int = 25_000):
    """:func:`session_conf` sizing ``spark.sql.shuffle.partitions`` to an
    iterative loop's data for the duration of the loop.

    An iterative operator pays the shuffle-partition count EVERY round ×
    every exchange; under a session tuned for wide scans (e.g. the
    default 200) a small graph schedules thousands of empty tasks and
    the loop is pure overhead (measured: 8-round pagerank on a 180k-edge
    graph, 53s at 200 partitions vs 6.7s at 16 — AQE does not rescue it
    because each round's eager checkpoint materializes at the configured
    width). Partitions only ever shrink toward the data, never grow past
    the session's setting, so that stays authoritative on a real cluster.
    No defaultParallelism floor: a tiny loop's rounds are dominated by
    task scheduling, not compute — 4 partitions of 25k rows beat 32
    near-empty ones."""
    key = "spark.sql.shuffle.partitions"
    target = min(int(spark.conf.get(key)), max(4, n_rows // rows_per_partition + 1))
    return session_conf(spark, key, str(target))


def let1(bound: Column, body: Callable[[Column], Column]) -> Column:
    """``let v = bound in body(v)`` as a Catalyst expression.

    Spark's projection collapsing INLINES a withColumn-defined expression
    into every downstream reference — an expensive subexpression used k
    times is computed k times (no CSE in interpreted higher-order
    functions). Binding it as a one-element-array lambda variable forces
    single evaluation: ``element_at(transform(array(bound), v -> body), 1)``.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def inline1(bound: Column, body: Callable[[Column], Column]) -> Column:
    """Multi-output ``let``: evaluate ``bound`` once, emit the fields of
    ``body(bound)`` (a struct) as real columns via the ``inline``
    generator. Use in ``df.select("*", inline1(...))``.

    Unlike ``let1`` + struct-field extraction (which re-inlines the whole
    expression per field), a generator's child is evaluated ONCE per row
    and its output attributes are ordinary columns downstream projections
    can reference for free.
    """
    return F.inline(F.transform(F.array(bound), body))


# Per-task input-byte target for ARROW/PANDAS-UDF stages (see fan_out's
# per_task_bytes): enough work to dominate the ~0.2-0.35s Python-worker
# round-trip floor, small enough that any real corpus still fans to full
# cluster width.
ARROW_TASK_BYTES = 8 << 20


def local_df(spark, rows, schema) -> DataFrame:
    """Lift a small driver-side result to a DataFrame via ARROW.

    ``rows`` is a row list, or a pandas frame whose columns already carry
    their dtypes (int64/float64/...) — that one goes to Arrow as is.
    ``createDataFrame(list)`` backs the frame with a pickled-row RDD
    split into defaultParallelism slices: EVERY downstream action pays
    one Python-worker round trip per slice (~0.3s x 32 empty tasks at
    local[32] for a 3-row model frame, re-paid on every evaluation;
    0.40s vs 0.10s per evaluation for a 20k-row (id, rank) frame).
    The Arrow path ships the rows as record batches once; evaluation
    stays JVM-side. Values are carried exactly (int64/float64/string;
    None -> null); on any conversion surprise (exotic types, nested
    rows) it falls back to the plain path — correctness first. Arrow is
    switched on for the call only (:func:`session_conf`), so vanilla
    sessions work.
    """
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        sch = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        if isinstance(rows, pd.DataFrame):
            pdf = rows
        else:
            if not rows:
                return spark.createDataFrame([], sch)
            pdf = pd.DataFrame(
                {f.name: [r[i] for r in rows] for i, f in enumerate(sch.fields)},
                dtype="object",
            )
        with session_conf(spark, "spark.sql.execution.arrow.pyspark.enabled", "true"):
            return spark.createDataFrame(pdf, schema=sch)
    except Exception:
        return spark.createDataFrame(rows, schema)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    per_task_bytes: int | None = None,
) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster parallelism)
    before compute-heavy per-row work.

    A small/compacted input (one parquet row group) plans as ONE partition,
    serializing an expensive projection onto one core while the rest of the
    cluster idles. The repartition shuffle costs far less than the skew it
    removes. No-op when the input is already parallel enough — at real
    scale (thousands of input splits) this never triggers.

    ``per_task_bytes`` (r16, guide §4): for ARROW/PANDAS-UDF stages the
    per-task cost floor is a Python-worker round trip (~0.2-0.35s measured
    at local[32] regardless of rows), so fanning a tiny frame to cluster
    width multiplies overhead instead of removing skew. When set, the
    target is additionally capped at ``ceil(plan-estimated bytes /
    per_task_bytes)`` — a KB-scale frame stays at 1 partition (and the
    repartition exchange disappears entirely), while anything big enough
    for the work to dominate still fans to full width (the estimate comes
    from Catalyst plan stats; when unknown, Spark reports a huge sentinel
    and the cap is a no-op — fail open to parallelism). JVM-only
    projections should NOT pass it: their per-task floor is ~ms, so full
    width is free insurance.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if per_task_bytes:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            if 0 < est < (1 << 50):  # a real estimate, not the unknown sentinel
                target = max(1, min(target, -(-est // int(per_task_bytes))))
        except Exception:
            pass  # stats unavailable -> keep full width
    # df.rdd converts the plan to an RDD on the driver to read its partition
    # count — the only public API that answers "how many partitions would
    # this scan get". For a plain scan or a cached frame that is planning
    # only (no job), but with AQE on, an uncached input containing an
    # exchange runs its shuffle stages first, one job each (1-2 jobs
    # measured for dedup_exact(filter_corpus(docs)) at local[4]). fan_out
    # wraps per-QUERY inputs, not per-row paths; don't call it inside loops.
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def plan_summary(df: DataFrame) -> dict[str, int]:
    """Count the plan nodes that decide whether a query survives 100x:
    exchanges (shuffles), scans, joins by strategy, whole-stage-codegen
    spans, and the red flags (CartesianProduct, BroadcastNestedLoopJoin,
    row-at-a-time Python evals).

    The same introspection the plan tests do ad-hoc, exposed for users:
    ``plan_summary(q)["exchanges"]`` in a CI assertion pins a query's
    shuffle count so a regression (a lost broadcast, a new Exchange from
    a refactor) fails loudly instead of shipping 10x shuffle volume.
    Counts come from the FORMATTED physical plan (post-AQE initial plan).
    """
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    ops = plan.split("\n\n")[0]
    # codegen spans only show in SIMPLE mode as "*(id)" stage markers —
    # and under AQE only AFTER execution (the pre-execution AdaptiveSparkPlan
    # prints without them), so expect 0 on an unexecuted adaptive plan
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        df.explain()
    codegen_ids = set(re.findall(r"\*\((\d+)\)", buf2.getvalue()))

    def n(token: str) -> int:
        return sum(1 for line in ops.splitlines() if token in line)

    return {
        "exchanges": n("Exchange"),
        "scans": n("Scan "),
        "broadcast_hash_joins": n("BroadcastHashJoin"),
        "sort_merge_joins": n("SortMergeJoin"),
        "shuffled_hash_joins": n("ShuffledHashJoin"),
        "nested_loop_joins": n("NestedLoop"),
        "cartesian_products": n("CartesianProduct"),
        "codegen_spans": len(codegen_ids),
        "python_evals": n("BatchEvalPython") + n("ArrowEvalPython"),
        "windows": n("Window"),
        "aggregates": n("HashAggregate") + n("SortAggregate")
        + n("ObjectHashAggregate"),
    }


def range_prefix_offsets(df, order_cols, total_expr):
    """Shared core of the DISTRIBUTED PREFIX SUM (keyless
    ``interval_concurrency``, ``assign_row_ids``): range-partition on the
    order columns, pin partition ids with an eager localCheckpoint (the
    offsets collect and the downstream projection MUST see the same
    placement), collect per-partition totals (|partitions| rows — bounded
    driver work), and return ``(binned, off_expr, total)``: ``off_expr``
    maps each row's ``_pid`` to the cumulative total of all earlier
    partitions, and ``total`` is the grand total across all partitions.
    ``total_expr`` is the per-partition aggregate whose running total is
    being distributed (``F.sum(col)`` for value cumsums,
    ``F.count(lit(1))`` for row numbering).

    ``total`` exists because callers like ``rfm_scores`` need the row
    count the collect already computed; returning it saves them a
    separate count job.

    Raises if the input already carries a ``_pid`` column — silently
    overwriting it would return partition ids in place of user data.
    """
    if "_pid" in df.columns:
        raise ValueError(
            "input already has a '_pid' column (reserved by the "
            "distributed prefix-sum machinery); rename it first"
        )
    spark = df.sparkSession
    npart = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4, 1)
    binned = df.repartitionByRange(npart, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    binned = binned.localCheckpoint(eager=True)
    totals = {
        r["_pid"]: r["_t"]
        for r in binned.groupBy("_pid").agg(total_expr.alias("_t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_expr = (
        F.element_at(
            F.create_map(
                *[
                    x
                    for pid in sorted(offsets)
                    for x in (F.lit(pid), F.lit(offsets[pid]))
                ]
            ),
            F.col("_pid"),
        )
        if offsets
        else F.lit(0)
    )
    return binned, off_expr, acc
