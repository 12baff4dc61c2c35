"""The three workloads: inputs, warm-up, one timed op, and its check.

A workload object is used on both sides of the process boundary:
``make_inputs`` and ``check`` run in the benchmark's own process (numpy,
pyarrow, DuckDB; no Spark), while ``warm_up``, ``op`` and ``save`` run in
the worker process that owns the SparkSession. Ops call only public
library functions; every call is wrapped in a tracer span whose kind says
whether it builds a DataFrame (``build``) or materializes one (``exec``).
"""

from __future__ import annotations

import glob
import os
from datetime import date, timedelta

import numpy as np

import gen
from layers import NullTracer


def _sink_dir(work: str, i: int) -> str:
    return os.path.join(work, "sink", f"op_{i:04d}")


class C360Daily:
    """Land day d in the Date-partitioned lake, then write the trailing
    30-day interaction profile to a parquet sink."""

    name = "c360_daily"
    nominal_op_s = 1.5
    window = 30
    prime_ops = 2

    def make_inputs(self, work: str, seed: int, n_ops: int) -> dict:
        days = self.window - 1 + n_ops
        return gen.gen_log_content(os.path.join(work, "log_content"), seed, days)

    def _day(self, i: int) -> int:
        return self.window - 1 + i

    def warm_up(self, spark, inputs: dict, work: str) -> None:
        from bigdata_etl_customer360_spark.plans.reference_replay import LOG_CONTENT_SCHEMA
        from bigdata_etl_customer360_spark.sources.readers import read_json_lines

        read_json_lines(spark, inputs["paths"][0], LOG_CONTENT_SCHEMA).count()

    def prime(self, spark, inputs: dict, work: str) -> None:
        # lands the days before the first timed day in one call, except
        # the last prime_ops of them, which get a normal op each
        from bigdata_etl_customer360_spark.plans.reference_replay import (
            interaction_ingest_daily,
        )

        first_op_day = self._day(-self.prime_ops)
        interaction_ingest_daily(
            spark, inputs["paths"][:first_op_day], os.path.join(work, "lake")
        )
        for i in range(-self.prime_ops, 0):
            self.op(spark, inputs, work, i, NullTracer())

    def op(self, spark, inputs: dict, work: str, i: int, tracer):
        from bigdata_etl_customer360_spark.plans.reference_replay import (
            interaction_ingest_daily,
            interaction_profile_from_lake,
        )
        from bigdata_etl_customer360_spark.sources.sinks import write_parquet

        d = self._day(i)
        lake = os.path.join(work, "lake")
        with tracer.span("exec", "plans.ingest"):
            interaction_ingest_daily(spark, [inputs["paths"][d]], lake)
        with tracer.span("build", "plans.profile"):
            prof = interaction_profile_from_lake(
                spark, lake, gen.day_iso(d - self.window + 1), gen.day_iso(d)
            )
        with tracer.span("exec", "sources.sink"):
            write_parquet(prof, _sink_dir(work, i))
        return None

    def save(self, result, work: str, i: int) -> None:
        pass

    def sink_dirs(self, work: str, i: int) -> list[str]:
        return [_sink_dir(work, i)]

    def check(self, inputs: dict, work: str, i: int, con) -> str | None:
        d = self._day(i)
        if not getattr(self, "_loaded", False):
            _load_log_content(con, inputs["paths"])
            self._loaded = True
        want = con.execute(
            _PROFILE_SQL + _ROW_HASH_SQL,
            [gen.day_iso(d - self.window + 1), gen.day_iso(d)],
        ).fetchone()
        got = con.execute(
            "SELECT count(*), sum(hash(Contract, Total_Giai_Tri, Total_Phim_Truyen,"
            ' Total_The_Thao, Total_Thieu_Nhi, Total_Truyen_Hinh, Active, "Most Watched",'
            " Taste, Level_Activeness)::HUGEINT) FROM read_parquet(?)",
            [os.path.join(_sink_dir(work, i), "*.parquet")],
        ).fetchone()
        if tuple(got) != tuple(want):
            return f"sink (rows, hash) {tuple(got)} != DuckDB {tuple(want)}"
        ties = con.execute(
            "SELECT count(*) FROM read_parquet(?) WHERE list_contains(?, Contract)"
            " AND \"Most Watched\" = 'Truyen Hinh'",
            [os.path.join(_sink_dir(work, i), "*.parquet"), inputs["tie_contracts"]],
        ).fetchone()[0]
        if ties != len(inputs["tie_contracts"]):
            return f"{ties} tie contracts resolved to Truyen Hinh, want {len(inputs['tie_contracts'])}"
        return None


def _load_log_content(con, paths: list[str]) -> None:
    types = "CASE " + " ".join(
        f"WHEN AppName = '{a}' THEN '{t}'" for a, t in _APP_TYPES.items()
    ) + " END"
    con.execute(
        f"""
        CREATE OR REPLACE TABLE ev AS
        SELECT Contract, TotalDuration, Type, Date FROM (
          SELECT _source.Contract AS Contract,
                 _source.TotalDuration AS TotalDuration,
                 {types.replace('AppName', '_source.AppName')} AS Type,
                 strptime(regexp_extract(filename, '(\\d{{8}})\\.json', 1), '%Y%m%d')::DATE AS Date
          FROM read_json(?, format='newline_delimited', filename=true,
               columns={{'_index': 'VARCHAR', '_type': 'VARCHAR', '_id': 'VARCHAR',
                        '_score': 'BIGINT',
                        '_source': 'STRUCT(Contract VARCHAR, Mac VARCHAR, TotalDuration BIGINT, AppName VARCHAR)'}})
        ) WHERE Type IS NOT NULL AND Contract <> '0'
        """,
        [paths],
    )


# The reference's AppName dimension (ETL_customer_interaction.py:10-17),
# restated here so the oracle does not share code with the program.
_APP_TYPES = {
    "CHANNEL": "Truyen Hinh", "DSHD": "Truyen Hinh", "KPLUS": "Truyen Hinh",
    "KPlus": "Truyen Hinh", "VOD": "Phim Truyen", "FIMS_RES": "Phim Truyen",
    "BHD_RES": "Phim Truyen", "VOD_RES": "Phim Truyen", "FIMS": "Phim Truyen",
    "BHD": "Phim Truyen", "DANET": "Phim Truyen", "RELAX": "Giai Tri",
    "CHILD": "Thieu Nhi", "SPORT": "The Thao",
}

_PROFILE_SQL = """
WITH p AS (
  SELECT Contract,
    coalesce(sum(CASE WHEN Type = 'Giai Tri' THEN TotalDuration END), 0)::BIGINT AS g,
    coalesce(sum(CASE WHEN Type = 'Phim Truyen' THEN TotalDuration END), 0)::BIGINT AS p,
    coalesce(sum(CASE WHEN Type = 'The Thao' THEN TotalDuration END), 0)::BIGINT AS s,
    coalesce(sum(CASE WHEN Type = 'Thieu Nhi' THEN TotalDuration END), 0)::BIGINT AS c,
    coalesce(sum(CASE WHEN Type = 'Truyen Hinh' THEN TotalDuration END), 0)::BIGINT AS t,
    count(DISTINCT Date)::BIGINT AS a
  FROM ev WHERE Date BETWEEN ?::DATE AND ?::DATE GROUP BY Contract
), labelled AS (
  SELECT Contract, g, p, s, c, t, a,
    CASE greatest(t, p, g, c, s)
      WHEN t THEN 'Truyen Hinh' WHEN p THEN 'Phim Truyen' WHEN g THEN 'Giai Tri'
      WHEN c THEN 'Thieu Nhi' ELSE 'The Thao' END AS mw,
    concat_ws('-',
      CASE WHEN g <> 0 THEN 'Giai Tri' END, CASE WHEN p <> 0 THEN 'Phim Truyen' END,
      CASE WHEN s <> 0 THEN 'The Thao' END, CASE WHEN c <> 0 THEN 'Thieu Nhi' END,
      CASE WHEN t <> 0 THEN 'Truyen Hinh' END) AS taste,
    CASE WHEN a <= 9 THEN 'Low' WHEN a <= 20 THEN 'Medium' ELSE 'High' END AS lvl
  FROM p
)
"""
_ROW_HASH_SQL = (
    "SELECT count(*), sum(hash(Contract, g, p, s, c, t, a, mw, taste, lvl)::HUGEINT)"
    " FROM labelled"
)


class GraphIterative:
    """One co-purchase graph refresh: rebuild the support>=2 edge set from
    lineitem/orders, then run the six iterative graph operators and pull
    each (small) result to the driver."""

    name = "graph_iterative"
    nominal_op_s = 5.0
    k = 3
    bfs_every = 50
    max_depth = 8
    pagerank_iterations = 8
    lpa_iterations = 4
    window_days = 300

    def make_inputs(self, work: str, seed: int, n_ops: int) -> dict:
        return gen.gen_copurchase(os.path.join(work, "copurchase"), seed)

    def window(self, i: int) -> tuple[str, str]:
        """Orders window of op ``i``: each refresh slides two days."""
        start = gen.ORDERS_FIRST_DAY + timedelta(days=20 + 2 * i)
        return start.isoformat(), (start + timedelta(days=self.window_days - 1)).isoformat()

    def _edges(self, spark, inputs: dict, i: int):
        from pyspark.sql import functions as F

        lo, hi = self.window(i)
        orders = spark.read.parquet(inputs["paths"]["orders"]).filter(
            F.col("o_orderdate").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
        )
        li = spark.read.parquet(inputs["paths"]["lineitem"]).join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi"
        )
        per_order = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("ps"))
        return (
            per_order.select(F.explode("ps").alias("src"), "ps")
            .select("src", F.explode("ps").alias("dst"))
            .filter(F.col("src") < F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 2)
            .select("src", "dst")
        )

    def warm_up(self, spark, inputs: dict, work: str) -> None:
        for path in inputs["paths"].values():
            spark.read.parquet(path).count()

    def prime(self, spark, inputs: dict, work: str) -> None:
        self.op(spark, inputs, work, -1, NullTracer())

    def op(self, spark, inputs: dict, work: str, i: int, tracer):
        from pyspark.sql import functions as F

        from bigdata_etl_customer360_spark.operators import graph

        und = self._edges(spark, inputs, i)
        both = und.unionByName(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        seeds = und.select(F.col("src").alias("id")).distinct().filter(
            F.col("id") % self.bfs_every == 0
        )
        out = {}
        calls = {
            "pagerank": lambda: graph.pagerank(
                both, iterations=self.pagerank_iterations, broadcast_ranks=True
            ),
            "cc": lambda: graph.connected_components(und, "src", "dst"),
            "lpa": lambda: graph.label_propagation(
                und, "src", "dst", max_iterations=self.lpa_iterations,
                early_stop=False, edges_unique=True,
            ),
            "bfs": lambda: graph.bfs_distances(
                und, seeds, "src", "dst", max_depth=self.max_depth, edges_unique=True
            ),
            "kcore": lambda: graph.k_core(und, self.k, "src", "dst", edges_unique=True),
            "triangles": lambda: graph.count_triangles(und),
        }
        for name, call in calls.items():
            with tracer.span("build", f"graph.{name}"):
                df = call()
            with tracer.span("exec", "collect"):
                out[name] = df.toPandas()
        return out

    def save(self, result, work: str, i: int) -> None:
        d = os.path.join(work, "out", f"op_{i:04d}")
        os.makedirs(d, exist_ok=True)
        for name, pdf in result.items():
            pdf.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)

    def sink_dirs(self, work: str, i: int) -> list[str]:
        return []

    def check(self, inputs: dict, work: str, i: int, con) -> str | None:
        import pandas as pd

        ref = _graph_reference(inputs, self, *self.window(i))
        d = os.path.join(work, "out", f"op_{i:04d}")
        got = {n: pd.read_parquet(os.path.join(d, f"{n}.parquet")) for n in ref["names"]}
        return _graph_mismatch(got, ref)


def _graph_reference(inputs: dict, wl: GraphIterative, lo: str, hi: str) -> dict:
    """Expected graph results for one orders window, computed with
    numpy/Python from the same files: the per-seed fingerprint the Spark
    outputs must reproduce."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    orders = pq.read_table(inputs["paths"]["orders"])
    od = orders["o_orderdate"]
    keep = orders.filter(
        pc.and_(
            pc.greater_equal(od, pa.scalar(date.fromisoformat(lo))),
            pc.less_equal(od, pa.scalar(date.fromisoformat(hi))),
        )
    )["o_orderkey"]
    li = pq.read_table(inputs["paths"]["lineitem"])
    edges = gen.copurchase_edges_np(li.filter(pc.is_in(li["l_orderkey"], value_set=keep)))
    nodes = np.unique(edges)
    adj: dict[int, set[int]] = {int(n): set() for n in nodes}
    for a, b in edges.tolist():
        adj[a].add(b)
        adj[b].add(a)
    # components
    comp: dict[int, int] = {}
    for n in sorted(adj):
        if n in comp:
            continue
        stack, members = [n], []
        comp[n] = n
        while stack:
            u = stack.pop()
            members.append(u)
            for v in adj[u]:
                if v not in comp:
                    comp[v] = n
                    stack.append(v)
    # triangles
    tri = sum(len(adj[a] & adj[b]) for a, b in edges.tolist()) // 3
    # k-core peel
    alive = set(adj)
    deg = {n: len(adj[n]) for n in adj}
    queue = [n for n in alive if deg[n] < wl.k]
    while queue:
        u = queue.pop()
        if u not in alive:
            continue
        alive.discard(u)
        for v in adj[u]:
            if v in alive:
                deg[v] -= 1
                if deg[v] < wl.k:
                    queue.append(v)
    # multi-source BFS
    sources = [n for n in adj if n % wl.bfs_every == 0 and any(v > n for v in adj[n])]
    dist = {s: 0 for s in sources}
    frontier = list(sources)
    for depth in range(1, wl.max_depth + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        frontier = nxt
    # pagerank: symmetric adjacency, no dangling nodes
    idx = {n: j for j, n in enumerate(sorted(adj))}
    n_nodes = len(idx)
    src = np.array([idx[a] for a, b in edges.tolist()] + [idx[b] for a, b in edges.tolist()])
    dst = np.array([idx[b] for a, b in edges.tolist()] + [idx[a] for a, b in edges.tolist()])
    outdeg = np.bincount(src, minlength=n_nodes).astype(float)
    rank = np.full(n_nodes, 1.0 / n_nodes)
    for _ in range(wl.pagerank_iterations):
        contrib = np.bincount(dst, weights=rank[src] / outdeg[src], minlength=n_nodes)
        rank = (1 - 0.85) / n_nodes + 0.85 * contrib
    return {
        "names": ["pagerank", "cc", "lpa", "bfs", "kcore", "triangles"],
        "nodes": set(adj),
        "n_edges": len(edges),
        "comp": comp,
        "triangles": tri,
        "kcore": alive,
        "dist": dist,
        "sources": set(sources),
        "pagerank": dict(zip(sorted(adj), rank.tolist())),
    }


def _graph_mismatch(got: dict, ref: dict) -> str | None:
    pr = got["pagerank"]
    ranks = dict(zip(pr["id"].tolist(), pr["rank"].tolist()))
    if set(ranks) != ref["nodes"]:
        return "pagerank node set differs"
    if abs(sum(ranks.values()) - 1.0) > 1e-9:
        return f"pagerank ranks sum to {sum(ranks.values())}"
    worst = max(abs(ranks[n] - r) for n, r in ref["pagerank"].items())
    if worst > 1e-9:
        return f"pagerank off the power-iteration reference by {worst}"
    cc = got["cc"]
    comp = dict(zip(cc["id"].tolist(), cc["component"].tolist()))
    if set(comp) != ref["nodes"]:
        return "connected_components node set differs"
    if _partition(comp) != _partition(ref["comp"]):
        return "connected_components partition differs"
    lpa = got["lpa"]
    labels = dict(zip(lpa["id"].tolist(), lpa["label"].tolist()))
    if set(labels) != ref["nodes"]:
        return "label_propagation node set differs"
    if any(ref["comp"].get(lab) != ref["comp"][n] for n, lab in labels.items()):
        return "label_propagation label crosses a component"
    bfs = got["bfs"]
    dist = dict(zip(bfs["id"].tolist(), bfs["dist"].tolist()))
    if any(dist.get(s) != 0 for s in ref["sources"]):
        return "bfs source distance is not 0"
    if dist != ref["dist"]:
        return "bfs distances differ"
    if set(got["kcore"]["id"].tolist()) != ref["kcore"]:
        return "k_core membership differs"
    t = got["triangles"].iloc[0]
    have = (int(t["n_nodes"]), int(t["n_edges"]), int(t["n_triangles"]))
    want = (len(ref["nodes"]), ref["n_edges"], ref["triangles"])
    if have != want:
        return f"count_triangles {have} != {want}"
    return None


def _partition(label_of: dict) -> set:
    groups: dict = {}
    for n, lab in label_of.items():
        groups.setdefault(lab, set()).add(n)
    return {frozenset(g) for g in groups.values()}


class CorpusCuration:
    """Curate one shard (quality gate, exact and near dedup, canonical keep)
    and classify the survivors into the reference's 14 labels in Python
    workers, writing the labelled shard to a parquet sink."""

    name = "corpus_curation"
    nominal_op_s = 2.5

    prime_docs = 300

    def make_inputs(self, work: str, seed: int, n_ops: int) -> dict:
        # one extra full-size shard and one small shard for the priming ops
        inputs = gen.gen_corpus(os.path.join(work, "corpus"), seed, n_ops + 1)
        small = gen.gen_corpus(
            os.path.join(work, "corpus_prime"), seed, 1, docs_per_shard=self.prime_docs
        )
        inputs["prime_shards"] = [small["shards"][0], inputs["shards"].pop()]
        return inputs

    def _run(self, spark, inputs: dict, shard: dict, sink: str, tracer) -> None:
        from bigdata_etl_customer360_spark.operators.enrich import (
            RuleClassifier,
            classify_column,
        )
        from bigdata_etl_customer360_spark.plans.pipelines import curate_corpus
        from bigdata_etl_customer360_spark.sources.readers import read_parquet
        from bigdata_etl_customer360_spark.sources.sinks import write_parquet

        docs = read_parquet(spark, shard["path"])
        with tracer.span("build", "plans.curate"):
            cur = curate_corpus(docs, sample_n=1_000_000)
        with tracer.span("build", "enrich.classify"):
            cls = classify_column(
                cur.select("doc_id", "lang", "text"), "text",
                RuleClassifier(inputs["label_rules"]), out_col="category",
            )
        with tracer.span("exec", "sources.sink"):
            write_parquet(cls.select("doc_id", "lang", "category"), sink)

    def warm_up(self, spark, inputs: dict, work: str) -> None:
        from bigdata_etl_customer360_spark.sources.readers import read_parquet

        read_parquet(spark, inputs["prime_shards"][0]["path"]).count()

    def prime(self, spark, inputs: dict, work: str) -> None:
        # the cold op on a small shard pays class loading and codegen
        # cheaply; the full-size one warms the size-dependent plan choices
        for k, shard in enumerate(inputs["prime_shards"]):
            self._run(spark, inputs, shard, os.path.join(work, "sink", f"prime_{k}"), NullTracer())

    def op(self, spark, inputs: dict, work: str, i: int, tracer):
        shard = inputs["shards"][i % len(inputs["shards"])]
        self._run(spark, inputs, shard, _sink_dir(work, i), tracer)
        return None

    def save(self, result, work: str, i: int) -> None:
        pass

    def sink_dirs(self, work: str, i: int) -> list[str]:
        return [_sink_dir(work, i)]

    def check(self, inputs: dict, work: str, i: int, con) -> str | None:
        shard = inputs["shards"][i % len(inputs["shards"])]
        case = "CASE " + " ".join(
            "WHEN " + " OR ".join(f"lower(text) LIKE '%{kw}%'" for kw in kws)
            + f" THEN '{label}'"
            for label, kws in inputs["label_rules"].items()
        ) + " ELSE 'Other' END"
        want = con.execute(
            f"SELECT count(*), sum(hash(doc_id, lang, {case})::HUGEINT)"
            " FROM read_parquet(?) WHERE list_contains(?, doc_id)",
            [shard["path"], shard["expected_ids"]],
        ).fetchone()
        got = con.execute(
            "SELECT count(*), sum(hash(doc_id, lang, category)::HUGEINT) FROM read_parquet(?)",
            [os.path.join(_sink_dir(work, i), "*.parquet")],
        ).fetchone()
        if tuple(got) != tuple(want):
            return f"curated shard (rows, hash) {tuple(got)} != expected {tuple(want)}"
        return None


WORKLOADS = {w.name: w for w in (C360Daily(), GraphIterative(), CorpusCuration())}


def sink_stats(paths: list[str]) -> tuple[float, int]:
    """(MB, data files) written under the given sink directories."""
    files = [
        f
        for p in paths
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    ]
    return sum(os.path.getsize(f) for f in files) / 1e6, len(files)
