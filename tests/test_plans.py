"""Plan-shape regression tests: the physical plans we rely on for scale
must not silently regress (accidental cartesian products, lost broadcast,
lost parquet pushdown/pruning).
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod
from pyspark.sql import functions as F
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_cartesian_products_anywhere(spark):
    """No query may degenerate into CartesianProduct. The brute-force ANN
    cross join must be a broadcast nested loop (bounded query set), never
    a shuffle cartesian."""
    for name, q in entrymod.queries().items():
        plan = plan_of(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"


def test_dimension_join_broadcasts(spark):
    plan = plan_of(entrymod.q_join_agg(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # nation side must broadcast


def test_pricing_summary_filter_pushdown(spark):
    plan = plan_of(entrymod.q_pricing_summary(spark, SF_DIR))
    assert "PushedFilters" in plan
    # the shipdate predicate must reach the parquet scan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]


def test_token_count_column_pruning(spark):
    plan = plan_of(entrymod.q_token_count(spark, SF_DIR))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_bucketed_corpus_feeds_dedup_ladder_without_id_exchanges(spark, tmp_path):
    """The dedup ladder's id-keyed stages must consume a doc_id-bucketed
    corpus without re-shuffling it: the write-time bucket shuffle is paid
    once and reused. Content-keyed exchanges (shingle / band-hash joins)
    are inherent and stay; measured here as a strict Exchange-count drop
    plus a hard zero on the pure groupBy(doc_id) stage, with bit-identical
    results from both inputs."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from bigdata_etl_customer360_spark.operators.graph import keep_cluster_canonical
    from bigdata_etl_customer360_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR)
    write_bucketed(
        docs, "docs_ladder_b", "doc_id", buckets=8, path=str(tmp_path / "docs_b")
    )
    try:
        docs_b = read_bucketed(spark, "docs_ladder_b")

        def n_exchanges(df):
            return plan_of(df).count("Exchange")

        agg_b = docs_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        assert n_exchanges(agg_b) == 0, "bucketed groupBy(doc_id) must not shuffle"

        mh = lambda d: minhash_lsh_pairs(d, num_hashes=16, bands=8, verify=False)
        assert n_exchanges(mh(docs_b)) < n_exchanges(mh(docs))

        lad = lambda d: keep_cluster_canonical(
            d, ngram_jaccard_pairs(d, threshold=0.3)
        )
        plain = sorted(r["doc_id"] for r in lad(docs).select("doc_id").collect())
        bucketed = sorted(r["doc_id"] for r in lad(docs_b).select("doc_id").collect())
        assert plain == bucketed and len(plain) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_ladder_b")


def test_bucketed_seen_lake_antijoin_has_no_lake_side_exchange(spark, tmp_path):
    """Incremental dedup's 100 TB shape (VERDICT r12 task 3): with the
    seen-fingerprint history in an fp-bucketed lake, the per-batch anti-
    join pays exactly ONE Exchange — the batch side — while the lake scan
    satisfies the join's distribution from its bucketing (no Exchange, no
    broadcast of an unbounded history). The fold itself must stay append-
    only-new (lake distinct by construction) and equal the plain
    union-distinct snapshot row-for-row."""
    import re as _re

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import seen_fold_bucketed
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    def n_exchange_nodes(df):
        return len(_re.findall(r"^\(\d+\) Exchange", plan_of(df), _re.M))

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 0)  # overlaps b0 on %6
    table = "seen_lake_plan_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        seen_fold_bucketed(
            spark, table, doc_fingerprints(b0), buckets=8,
            path=str(tmp_path / "seen_lake"),
        )
        seen_fold_bucketed(spark, table, doc_fingerprints(b1), buckets=8)
        # append-only-new keeps the lake distinct == plain union-distinct
        plain = doc_fingerprints(b0).unionByName(doc_fingerprints(b1)).distinct()
        lake = spark.table(table)
        assert lake.count() == lake.distinct().count() == plain.count()

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "fp", F.md5(F.col("text"))
        ).select("doc_id", "fp")
        anti = batch.join(spark.table(table), on="fp", how="left_anti")
        plan = plan_of(anti)
        assert "Bucketed: true" in plan, "lake scan must stay bucketed"
        assert n_exchange_nodes(anti) == 1, (
            "anti-join must shuffle ONLY the batch side:\n" + plan
        )
        # the fold's own only-new filter has the same shape
        new = doc_fingerprints(b1).join(
            spark.table(table), on="fp", how="left_anti"
        )
        assert n_exchange_nodes(new) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_bucketed_dedup_foreachbatch_lake_side_no_exchange(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 task 2 pin: INSIDE the streaming maintainer's
    foreachBatch, the per-batch survivor plan must shuffle only the
    batch — exactly 2 Exchanges total (the batch side of the anti-join +
    dedup_exact's single agg) with the lake scan bucketed; a lake that
    lost its bucketing would add a third, history-sized Exchange. The
    plan is captured from the REAL drain via a spy around
    dedup_incremental (bound at maintainer call time)."""
    import os
    import re as _re
    import time

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_etl_customer360_spark.operators import dedup as dedup_mod
    from bigdata_etl_customer360_spark.streaming.windows import (
        stream_dedup_incremental_bucketed,
        stream_from_parquet,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        [(10, "alpha"), (11, "delta")],  # cross-batch re-crawl
    ]
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array([r[0] for r in rows], _pa.int64()),
                    "text": _pa.array([r[1] for r in rows], _pa.string()),
                }
            ),
            p,
        )
        t = time.time() + 5 * i
        os.utime(p, (t, t))

    captured: list[str] = []
    real = dedup_mod.dedup_incremental

    def spy(new_docs, seen, **kw):
        out = real(new_docs, seen, **kw)
        if seen is not None:
            captured.append(plan_of(out))
        return out

    monkeypatch.setattr(dedup_mod, "dedup_incremental", spy)
    table = "stream_seen_lake_plan_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stream_dedup_incremental_bucketed(
            stream_from_parquet(
                spark, str(src), schema, max_files_per_trigger=1
            ),
            table,
            str(tmp_path / "survivors"),
            str(tmp_path / "ckpt"),
            buckets=8,
            seen_table_path=str(tmp_path / "seen_lake"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert captured, "second micro-batch must anti-join against the lake"
    for plan in captured:
        assert "Bucketed: true" in plan, "lake scan lost its bucketing:\n" + plan
        n = len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))
        assert n == 2, (
            "foreachBatch survivor plan must shuffle ONLY the batch "
            f"(anti-join batch side + dedup_exact agg = 2), got {n}:\n" + plan
        )


def test_stream_neardup_foreachbatch_lake_side_no_exchange(
    spark, tmp_path, monkeypatch
):
    """VERDICT r14 task 1 pin: INSIDE the near-dup maintainer's
    foreachBatch, every Exchange is batch-sized — the bands lake scan
    (candidate join on bhash) and the sigs lake scan (verify join +
    only-new fold anti-join, both on id) stay bucketed with NO Exchange
    anywhere ('Bucketed: false' would mean a lake that lost its spec and
    re-shuffles 100 TB of folded history per micro-batch). Plans are
    captured from the REAL drain via spies around _neardup_survivors and
    lake_create_or_append; exchange totals are pinned (they include the
    not-re-executed exchanges listed inside cached InMemoryRelation
    subtrees — deterministic for this fixed plan)."""
    import os
    import re as _re
    import time

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    import bigdata_etl_customer360_spark.sources.bucketed as bk
    import bigdata_etl_customer360_spark.streaming.windows as win

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different text entirely here")],
        # cross-batch exact + near re-crawls
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "completely different text entirely here extra")],
    ]
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array([r[0] for r in rows], _pa.int64()),
                    "text": _pa.array([r[1] for r in rows], _pa.string()),
                }
            ),
            p,
        )
        t = time.time() + 5 * i
        os.utime(p, (t, t))

    surv_plans: list[str] = []
    fold_plans: list[str] = []
    real_surv = win._neardup_survivors
    real_fold = bk.lake_create_or_append

    def spy_surv(batch_df, sh, banded, lake_bands, lake_sets, thr, id_col):
        out = real_surv(batch_df, sh, banded, lake_bands, lake_sets, thr, id_col)
        if lake_bands is not None:
            surv_plans.append(plan_of(out))
        return out

    def spy_fold(spark_, table, df, bucket_col, buckets, path):
        if spark_.catalog.tableExists(table):
            fold_plans.append(plan_of(df))
        return real_fold(spark_, table, df, bucket_col, buckets, path)

    monkeypatch.setattr(win, "_neardup_survivors", spy_surv)
    monkeypatch.setattr(bk, "lake_create_or_append", spy_fold)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bands_t, sigs_t = "nd_plan_bands_t", "nd_plan_sigs_t"
    spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
    spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
    try:
        win.stream_dedup_neardup(
            win.stream_from_parquet(
                spark, str(src), schema, max_files_per_trigger=1
            ),
            bands_t,
            sigs_t,
            str(tmp_path / "survivors"),
            str(tmp_path / "ckpt"),
            num_hashes=64,
            bands=32,
            threshold=0.6,
            buckets=8,
            bands_table_path=str(tmp_path / "bands_lake"),
            sigs_table_path=str(tmp_path / "sigs_lake"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
    assert surv_plans, "second micro-batch must join against the lakes"
    for plan in surv_plans:
        assert plan.count("Bucketed: true") == 2, (
            "bands + sigs lake scans must both stay bucketed:\n" + plan
        )
        assert "Bucketed: false" not in plan
        n = len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))
        assert n == 15, (
            "survivor plan must shuffle ONLY the batch (posting/agg/"
            "candidate/verify/union exchanges, all batch-sized), "
            f"got {n}:\n" + plan
        )
    # fold plans: bands append (semi-join via the only-new anti-join) and
    # sigs append (the anti-join itself) — one bucketed sigs scan each
    assert len(fold_plans) == 2
    for plan in fold_plans:
        assert plan.count("Bucketed: true") == 1, plan
        assert "Bucketed: false" not in plan
    ns = [
        len(_re.findall(r"^\(\d+\) Exchange", p, _re.M)) for p in fold_plans
    ]
    assert ns == [5, 4], (
        f"fold must shuffle only the batch, got {ns}:\n" + fold_plans[0]
    )


def test_ivfpq_index_append_frozen_and_bucketed(spark, tmp_path, monkeypatch):
    """VERDICT r14 task 2 pins: (a) append + search NEVER re-fit — the
    model is frozen at build (a re-fit would silently mix incompatible
    code spaces); (b) the append's only-new anti-join is lake-side
    shuffle-free (id-bucketed codes lake; only the new batch pays an
    Exchange); (c) the search's ADC pass reads ONLY (id, cell, codes)
    from the lake — parquet column pruning keeps the stored exact-tier
    vectors out of the first-pass scan, the byte shape PQ exists for."""
    import re as _re

    from pyspark.sql import functions as F

    import bigdata_etl_customer360_spark.operators.ann_index as ai
    import bigdata_etl_customer360_spark.operators.similarity as sim
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", SF_DIR)
    table = "ivfpq_idx_plan_t"
    path = str(tmp_path / "codes")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    fits = []
    real_fit = sim._spherical_kmeans

    def spy_fit(*a, **kw):
        fits.append(1)
        return real_fit(*a, **kw)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        ai.ivfpq_index_build(
            spark, emb.filter(F.col("vec_id") % 2 == 0), table, path,
            num_centroids=16, buckets=8,
        )
        # ann_index fits through similarity.ivfpq_fit, which reads the
        # module-global — one patch point covers build, append, search
        monkeypatch.setattr(sim, "_spherical_kmeans", spy_fit)

        # (b) only-new anti-join: lake side bucketed, one batch-side
        # Exchange (broadcast disabled to force the shuffle shape)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fresh = emb.filter(F.col("vec_id") % 2 == 1).join(
            spark.table(table).select("vec_id"), on="vec_id", how="left_anti"
        )
        plan = plan_of(fresh)
        assert "Bucketed: true" in plan
        assert "Bucketed: false" not in plan
        assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        ai.ivfpq_index_append(
            spark, emb.filter(F.col("vec_id") % 2 == 1), table, path
        )
        got = ai.cosine_topk_ivfpq_from_index(
            spark, emb.filter(F.col("vec_id") < 5), table, path,
            k=3, nprobe=4, rerank=20,
        )
        # (c) ADC scan column pruning: the lake scan feeding the ADC join
        # must read only id/cell/codes — qvec/qnorm appear in a SEPARATE
        # re-rank scan, never in the codes scan's ReadSchema
        plan = plan_of(got)
        scans = _re.findall(
            r"ReadSchema: struct<[^>]*>", plan
        )
        code_scans = [s for s in scans if "codes" in s]
        assert code_scans and all("qvec" not in s for s in code_scans), scans
        got.collect()
        # (a) frozen model: neither the append nor the search re-fit
        assert fits == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_register_seen_lake_restores_bucketed_scan(spark, tmp_path):
    """Catalog-loss restart path: after DROP TABLE (external files kept),
    register_seen_lake's DDL must restore the SAME scan properties — the
    re-attached lake reads back identical rows, reports Bucketed: true,
    anti-joins with zero lake-side Exchange, and keeps folding
    append-only-new."""
    import re as _re

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import (
        register_seen_lake,
        seen_fold_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    table = "seen_lake_reattach_t"
    path = str(tmp_path / "seen_lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        seen_fold_bucketed(spark, table, doc_fingerprints(b0), buckets=8, path=path)
        before = sorted(r["fp"] for r in spark.table(table).collect())
        spark.sql(f"DROP TABLE {table}")  # external: files survive

        # the fold itself must refuse to overwrite the orphaned lake
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="register_seen_lake"):
            seen_fold_bucketed(
                spark, table, doc_fingerprints(b1), buckets=8, path=path
            )

        register_seen_lake(spark, table, path, buckets=8)
        assert sorted(r["fp"] for r in spark.table(table).collect()) == before

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "fp", F.md5(F.col("text"))
        ).select("doc_id", "fp")
        anti = batch.join(spark.table(table), on="fp", how="left_anti")
        plan = plan_of(anti)
        assert "Bucketed: true" in plan, "re-attached scan must stay bucketed"
        assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1

        # appends keep working and stay only-new
        seen_fold_bucketed(spark, table, doc_fingerprints(b1), buckets=8)
        plain = doc_fingerprints(b0).unionByName(doc_fingerprints(b1)).distinct()
        lake = spark.table(table)
        assert lake.count() == lake.distinct().count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_brute_ann_broadcasts_queries(spark):
    plan = plan_of(entrymod.q_ann_cosine_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Same-spec bucketed tables must join WITHOUT an exchange on either
    side — the write-time bucketing replaces the per-query shuffle."""
    from bigdata_etl_customer360_spark.sources.bucketed import (
        co_located_join,
        write_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    orders = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, "customer", SF_DIR).select("c_custkey", "c_nationkey")
    write_bucketed(orders, "orders_b", "o_custkey", buckets=8, sort_cols="o_custkey")
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "customer_b", "o_custkey",
        buckets=8, sort_cols="o_custkey",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        joined = co_located_join(spark, "orders_b", "customer_b", on="o_custkey")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # correctness: equals the plain join
        plain = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_range_join_is_equi_join_not_nested_loop(spark):
    """range_join must meet on the grid-bin equi key: no
    BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan even
    though the predicate is an inequality."""
    from bigdata_etl_customer360_spark.operators.temporal import range_join
    from bigdata_etl_customer360_spark.sources.testdata import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", SF_DIR)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("c_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    plan = plan_of(
        range_join(purchases, clicks, "p_ts", "c_ts", "c_end", keys=["user_id"],
                   bin_seconds=3600)
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_keyless_interval_concurrency_has_no_global_window(spark):
    """The keyless sweep-line must run its cumulative sum as a
    distributed prefix sum over _pid range partitions — never a single
    empty-partition global Window."""
    from bigdata_etl_customer360_spark.operators.temporal import interval_concurrency
    from bigdata_etl_customer360_spark.sources.testdata import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, "lineitem", SF_DIR).select(
        F.col("l_shipdate").alias("s"),
        (F.col("l_shipdate") + F.expr("INTERVAL 14 DAYS")).alias("e"),
    )
    plan = plan_of(interval_concurrency(li, "s", "e"))
    assert "_pid" in plan, "prefix-sum window must partition by _pid"


def test_mixture_sample_filter_rides_broadcast(spark):
    """The big-table pass of mixture_sample is a broadcast join + map-only
    filter: the rates frame (|domains| rows) must broadcast, never
    shuffle the corpus."""
    from bigdata_etl_customer360_spark.operators.sampling import mixture_sample
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR)
    plan = plan_of(
        mixture_sample(docs, "lang", {"en": 0.5, "fr": 0.5}, id_col="doc_id")
    )
    assert "BroadcastHashJoin" in plan


def test_plan_summary_counts(spark):
    from bigdata_etl_customer360_spark.operators.util import plan_summary
    from bigdata_etl_customer360_spark.sources.testdata import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, "orders", SF_DIR)
    cust = load_table(spark, "customer", SF_DIR)
    q = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    s = plan_summary(q)
    assert s["broadcast_hash_joins"] == 1
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0
    assert s["scans"] == 2
    assert s["aggregates"] >= 2      # partial + final
    assert s["exchanges"] >= 1       # the groupBy shuffle
    assert s["python_evals"] == 0


def test_plan_summary_counts_map_in_pandas_stage(spark):
    from bigdata_etl_customer360_spark.operators.util import plan_summary

    df = spark.range(4)
    assert plan_summary(df.mapInPandas(lambda it: it, df.schema))[
        "python_evals"
    ] == 1


def test_no_rowwise_python_eval_anywhere(spark):
    """No graded query may plan a row-at-a-time pickled Python eval
    (BatchEvalPython). Arrow-batched pandas UDFs (ArrowEvalPython /
    mapInPandas stages) are the sanctioned Python path."""
    for name, q in entrymod.queries().items():
        plan = plan_of(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name} plans a row-wise Python eval"


def test_assign_row_ids_window_is_partition_local(spark):
    """The global-numbering plan must window over _pid partitions (range
    partition + offsets), never an empty-frame global window that funnels
    the table through one reducer."""
    from pyspark.sql import functions as F

    from bigdata_etl_customer360_spark.operators.relational import assign_row_ids

    df = spark.range(1000).select(
        (F.col("id") % 9).alias("a"), F.col("id").alias("b")
    )
    plan = (
        assign_row_ids(df, ["a", "b"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "windowspecdefinition(_pid" in plan


def test_entry_module_has_no_duplicate_toplevel_defs():
    """Regression for the round-6 ADVICE defect: a stale copy of a query
    builder defined LATER in __spark_entry__.py silently shadows the
    fixed one (queries() registers whatever name is bound last). Any
    duplicate top-level def is therefore a latent shadowing bug."""
    import ast
    import collections
    import inspect

    src = inspect.getsource(entrymod)
    names = [
        node.name
        for node in ast.parse(src).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    dupes = [n for n, c in collections.Counter(names).items() if c > 1]
    assert not dupes, f"duplicate top-level defs shadow earlier fixes: {dupes}"


def test_rebucket_seen_lake(spark, tmp_path):
    """Bucket evolution (VERDICT r14 task 6): migrating the seen lake to
    2x buckets must not move one fingerprint, the re-registered scan
    must stay Exchange-free on the lake side at the NEW width, folds
    must keep working only-new afterwards, and a crash inside the swap
    window must recover from ._old."""
    import os
    import re as _re
    import shutil

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import (
        rebucket_seen_lake,
        seen_fold_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 5 == 0)
    table = "seen_lake_rebucket_t"
    path = str(tmp_path / "seen_lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        seen_fold_bucketed(spark, table, doc_fingerprints(b0), buckets=4, path=path)
        seen_fold_bucketed(spark, table, doc_fingerprints(b1), buckets=4)
        before = sorted(r["fp"] for r in spark.table(table).collect())

        rebucket_seen_lake(spark, table, path, buckets=8)
        assert sorted(r["fp"] for r in spark.table(table).collect()) == before
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert desc.get("Num Buckets") == "8"

        # anti-join stays lake-side shuffle-free at the new width
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = docs.withColumn("fp", F.md5(F.col("text"))).select("fp")
        anti = batch.join(spark.table(table), on="fp", how="left_anti")
        plan = plan_of(anti)
        assert "Bucketed: true" in plan
        assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # folds keep working only-new at the new width
        seen_fold_bucketed(spark, table, doc_fingerprints(b2), buckets=8)
        lake = spark.table(table)
        expected = (
            doc_fingerprints(b0)
            .unionByName(doc_fingerprints(b1))
            .unionByName(doc_fingerprints(b2))
            .distinct()
        )
        assert lake.count() == lake.distinct().count() == expected.count()
        after = sorted(r["fp"] for r in lake.collect())

        # crash inside the swap window: path gone, ._old holds the lake
        spark.sql(f"DROP TABLE {table}")
        os.rename(path, path + "._old")
        rebucket_seen_lake(spark, table, path, buckets=16)
        assert sorted(r["fp"] for r in spark.table(table).collect()) == after
        assert not os.path.isdir(path + "._old")
        assert not os.path.isdir(path + "._tmp")
        shutil.rmtree(path, ignore_errors=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_lake(spark, tmp_path):
    """compact_lake (the stress_neardup file-count finding, made a
    maintenance pass): an append-accreted seen lake rewrites to ONE file
    per non-empty bucket with the spec derived FROM THE CATALOG — rows,
    bucket width, lake-side Exchange elision, and later only-new folds
    all unchanged."""
    import os
    import re as _re

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import (
        compact_lake,
        seen_fold_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    def _data_files(p):
        return [
            f
            for _r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        ]

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    table = "seen_lake_compact_t"
    path = str(tmp_path / "seen_lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        seen_fold_bucketed(
            spark, table, doc_fingerprints(docs.filter(F.col("doc_id") % 2 == 0)),
            buckets=4, path=path,
        )
        for k in (3, 5, 7):
            seen_fold_bucketed(
                spark, table,
                doc_fingerprints(docs.filter(F.col("doc_id") % k == 0)),
                buckets=4,
            )
        before_rows = sorted(r["fp"] for r in spark.table(table).collect())
        n_before = len(_data_files(path))
        assert n_before > 4  # appends accreted past one file per bucket

        compact_lake(spark, table, path)

        assert 0 < len(_data_files(path)) <= 4 < n_before
        assert sorted(r["fp"] for r in spark.table(table).collect()) == before_rows
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert desc.get("Num Buckets") == "4"  # spec untouched

        # anti-join stays lake-side shuffle-free after compaction
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = docs.withColumn("fp", F.md5(F.col("text"))).select("fp")
        anti = batch.join(spark.table(table), on="fp", how="left_anti")
        plan = plan_of(anti)
        assert "Bucketed: true" in plan
        assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # folds keep working only-new afterwards
        seen_fold_bucketed(
            spark, table,
            doc_fingerprints(docs.filter(F.col("doc_id") % 11 == 0)),
            buckets=4,
        )
        lake = spark.table(table)
        expected = doc_fingerprints(
            docs.filter(
                (F.col("doc_id") % 2 == 0)
                | (F.col("doc_id") % 3 == 0)
                | (F.col("doc_id") % 5 == 0)
                | (F.col("doc_id") % 7 == 0)
                | (F.col("doc_id") % 11 == 0)
            )
        ).distinct()
        assert lake.count() == lake.distinct().count() == expected.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucket_pruning_point_lookup(spark, tmp_path):
    """Point lookups on a bucketed lake prune to ONE bucket's files —
    but only with autoBucketedScan disabled: Spark's
    DisableUnnecessaryBucketedScan drops the bucketed scan for a bare
    filter (no join/agg wants the distribution) and the pruning with it.
    Pin both behaviors so the is-this-fp-seen pattern keeps its 1/N
    scan (the module docstring's point-lookup guidance)."""
    import re as _re

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import (
        seen_fold_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    table = "seen_lake_prune_t"
    path = str(tmp_path / "seen_lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    from bigdata_etl_customer360_spark.sources.bucketed import (
        bucket_pruned_scans,
    )

    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf)
    try:
        seen_fold_bucketed(
            spark, table, doc_fingerprints(docs), buckets=8, path=path
        )
        probe = spark.table(table).limit(1).collect()[0]["fp"]
        lookup = lambda: spark.table(table).filter(F.col("fp") == probe)

        # default: the planner drops the bucketed scan for a bare filter
        assert "SelectedBucketsCount" not in plan_of(lookup())

        with bucket_pruned_scans(spark):
            plan = plan_of(lookup())
            m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
            assert m and m.group(1) == "1" and m.group(2) == "8", plan
            assert [r["fp"] for r in lookup().collect()] == [probe]
        assert spark.conf.get(conf) == prev  # restored on exit
    finally:
        spark.conf.set(conf, prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_fold_guard_detects_mid_swap_crash(spark, tmp_path):
    """A crash INSIDE the rebucket/compact swap window parks the whole
    history at ``path._old`` with ``path`` gone; a fresh session's fold
    must refuse the first-write branch (before this guard it silently
    overwrote ``path`` and orphaned the history), and re-running the
    maintenance pass recovers from ._old."""
    import os

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import (
        rebucket_seen_lake,
        seen_fold_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    table = "seen_lake_midswap_t"
    path = str(tmp_path / "seen_lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        seen_fold_bucketed(
            spark, table, doc_fingerprints(docs.filter(F.col("doc_id") % 2 == 0)),
            buckets=4, path=path,
        )
        before = sorted(r["fp"] for r in spark.table(table).collect())
        # simulate the mid-swap crash + fresh session
        spark.sql(f"DROP TABLE {table}")
        os.rename(path, path + "._old")
        with pytest.raises(RuntimeError, match="mid-swap"):
            seen_fold_bucketed(
                spark, table,
                doc_fingerprints(docs.filter(F.col("doc_id") % 3 == 0)),
                buckets=4, path=path,
            )
        # the maintenance pass recovers ._old and the lake folds again
        rebucket_seen_lake(spark, table, path, buckets=4)
        assert sorted(r["fp"] for r in spark.table(table).collect()) == before
        seen_fold_bucketed(
            spark, table,
            doc_fingerprints(docs.filter(F.col("doc_id") % 3 == 0)),
            buckets=4, path=path,
        )
        lake = spark.table(table)
        assert lake.count() == lake.distinct().count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_lake_refuses_sorted_tables(spark, tmp_path):
    """A sort-within-bucket spec would be silently dropped by the
    compaction rewrite — refuse instead (no lake in this repo sorts, but
    the catalog-derived spec must stay the whole contract)."""
    from bigdata_etl_customer360_spark.sources.bucketed import (
        compact_lake,
        write_bucketed,
    )

    table = "compact_sorted_guard_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = str(tmp_path / "sorted_lake")
    try:
        write_bucketed(
            spark.range(50).selectExpr("id", "id % 7 as v"),
            table, "id", buckets=4, sort_cols="v", path=path,
        )
        with pytest.raises(ValueError, match="sort-within-bucket"):
            compact_lake(spark, table, path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_seen_fold_managed_lake_catalog_loss_guard(spark, tmp_path):
    """ADVICE r14: a MANAGED lake (no external path) in a fresh
    in-memory-catalog session still has surviving warehouse files — the
    first-fold branch must probe the warehouse location and refuse."""
    import os

    from bigdata_etl_customer360_spark.operators.dedup import doc_fingerprints
    from bigdata_etl_customer360_spark.sources.bucketed import (
        _default_table_path,
        seen_fold_bucketed,
    )
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    table = "seen_lake_managed_guard_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh_dir = _default_table_path(spark, table)
    # simulate the fresh session: surviving managed files, no catalog entry
    os.makedirs(wh_dir, exist_ok=True)
    with open(os.path.join(wh_dir, "part-00000.parquet"), "w") as fh:
        fh.write("x")
    try:
        with pytest.raises(RuntimeError, match="register_seen_lake"):
            seen_fold_bucketed(spark, table, doc_fingerprints(docs), buckets=4)
    finally:
        import shutil

        shutil.rmtree(wh_dir, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_semantic_foreachbatch_lake_side_no_exchange(
    spark, tmp_path, monkeypatch
):
    """r15 pin for the SemDeDup maintainer: inside foreachBatch the
    vector-lake scan (drop join on the sign bucket) and the id-lake scan
    (only-new fold anti-join) stay bucketed with no Exchange anywhere —
    every Exchange is batch-sized. Same spy pattern as the near-dup pin;
    exchange totals pinned for this fixed plan."""
    import os
    import re as _re
    import time

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    import bigdata_etl_customer360_spark.sources.bucketed as bk
    import bigdata_etl_customer360_spark.streaming.windows as win

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, [1.0, 1.0, 0.0]), (2, [1.0, -1.0, 0.0])],
        [(10, [1.1, 1.1, 0.0]), (11, [0.0, 0.0, 1.0])],  # scaled re-encode
    ]
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "vec_id": _pa.array([r[0] for r in rows], _pa.int64()),
                    "embedding": _pa.array(
                        [r[1] for r in rows], _pa.list_(_pa.float64())
                    ),
                }
            ),
            p,
        )
        t = time.time() + 5 * i
        os.utime(p, (t, t))

    surv_plans: list[str] = []
    fold_plans: list[str] = []
    real_surv = win._semantic_survivors
    real_fold = bk.lake_create_or_append

    def spy_surv(batch_df, qz, lake_vecs, thr, id_col):
        out = real_surv(batch_df, qz, lake_vecs, thr, id_col)
        if lake_vecs is not None:
            surv_plans.append(plan_of(out))
        return out

    def spy_fold(spark_, table, df, bucket_col, buckets, path):
        if spark_.catalog.tableExists(table):
            fold_plans.append(plan_of(df))
        return real_fold(spark_, table, df, bucket_col, buckets, path)

    monkeypatch.setattr(win, "_semantic_survivors", spy_surv)
    monkeypatch.setattr(bk, "lake_create_or_append", spy_fold)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    vt, it = "sem_plan_vecs_t", "sem_plan_ids_t"
    spark.sql(f"DROP TABLE IF EXISTS {vt}")
    spark.sql(f"DROP TABLE IF EXISTS {it}")
    try:
        win.stream_dedup_semantic(
            win.stream_from_parquet(
                spark, str(src), schema, max_files_per_trigger=1
            ),
            vt,
            it,
            str(tmp_path / "survivors"),
            str(tmp_path / "ckpt"),
            threshold=0.9,
            bucket_bits=2,
            buckets=4,
            vecs_table_path=str(tmp_path / "vecs_lake"),
            ids_table_path=str(tmp_path / "ids_lake"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {vt}")
        spark.sql(f"DROP TABLE IF EXISTS {it}")
    assert surv_plans, "second micro-batch must join against the lake"
    for plan in surv_plans:
        assert plan.count("Bucketed: true") == 1, plan  # vector lake scan
        assert "Bucketed: false" not in plan
    ns = [
        len(_re.findall(r"^\(\d+\) Exchange", p, _re.M)) for p in surv_plans
    ]
    assert ns == [5], f"survivor plan must shuffle only the batch: {ns}"
    assert len(fold_plans) == 2  # vecs append + ids append (only-new gated)
    for plan in fold_plans:
        assert plan.count("Bucketed: true") == 1, plan  # id lake scan
        assert "Bucketed: false" not in plan
    ns = [
        len(_re.findall(r"^\(\d+\) Exchange", p, _re.M)) for p in fold_plans
    ]
    assert ns == [1, 2], f"fold must shuffle only the batch: {ns}"
