"""Connected-components / cluster-canonical tests: the pointer-jumping
loop's invariants (VERDICT r2 #1) — chain compression, clique, multiple
components, singleton survival, self-loop-only nodes, determinism under
repartitioning, and the reliable-checkpoint variant."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from bigdata_etl_customer360_spark.operators.graph import (
    connected_components,
    keep_cluster_canonical,
)

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from stress_bfs import np_bfs  # noqa: E402


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_cc_chain_collapses_to_min(spark):
    # long path graph exercises pointer jumping (diameter >> rounds)
    edges = _edges(spark, [(i, i + 1) for i in range(1, 16)])
    lab = _labels(connected_components(edges))
    assert lab == {i: 1 for i in range(1, 17)}


def test_cc_clique_single_round(spark):
    edges = _edges(spark, [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b])
    lab = _labels(connected_components(edges))
    assert lab == {i: 10 for i in range(10, 15)}


def test_cc_multiple_components_and_edge_order(spark):
    # two components; edges listed in "wrong" direction and duplicated
    pairs = [(5, 3), (3, 9), (9, 5), (20, 21), (21, 20), (22, 21)]
    lab = _labels(connected_components(_edges(spark, pairs)))
    assert lab == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20}


def test_cc_partition_independent(spark):
    pairs = [(i, i + 1) for i in range(1, 30)] + [(100, 101), (103, 101)]
    base = _labels(connected_components(_edges(spark, pairs)))
    shuffled = _labels(connected_components(_edges(spark, pairs).repartition(7)))
    assert base == shuffled


def test_cc_reliable_checkpoint_matches_local(spark, tmp_path):
    pairs = [(i, i + 1) for i in range(1, 12)] + [(50, 40)]
    edges = _edges(spark, pairs)
    local = _labels(connected_components(edges))
    reliable = _labels(connected_components(edges, checkpoint_dir=str(tmp_path / "ckpt")))
    assert local == reliable == {**{i: 1 for i in range(1, 13)}, 40: 40, 50: 40}


def test_cc_null_and_self_loop_edges_dropped(spark):
    edges = spark.createDataFrame(
        [(1, 2), (7, 7), (None, 3), (4, None)], "id_a bigint, id_b bigint"
    )
    lab = _labels(connected_components(edges))
    # 7 only self-loops -> absent; nulls contribute nothing
    assert lab == {1: 1, 2: 1}


def test_keep_cluster_canonical_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 42)], "doc_id bigint, text string"
    )
    # cluster {1,2,3} and {10,11}; 42 touches no pair -> survives
    pairs = _edges(spark, [(2, 1), (2, 3), (11, 10)])
    kept = sorted(r["doc_id"] for r in keep_cluster_canonical(docs, pairs).collect())
    assert kept == [1, 10, 42]


def test_curate_corpus_each_stage_applies(spark):
    """One doc per failure mode: quality-gated, exact-dup, near-dup
    cluster member, and a surviving singleton — the composed ladder must
    drop exactly the right ones."""
    from bigdata_etl_customer360_spark.plans.pipelines import curate_corpus

    good = "the quick brown fox jumps over the lazy dog near the quiet river " \
           "while birds sing bright songs above tall green trees every morning"
    near = good.replace("every morning", "each morning")  # high jaccard w/ good
    other = "completely different content about spark engines shuffling data " \
            "across many executor nodes with partitioned parquet files and " \
            "vectorized readers running wide aggregation plans efficiently"
    docs = spark.createDataFrame(
        [
            (1, good, "en"),
            (2, good.upper(), "en"),      # exact dup of 1 after normalization
            (3, near, "en"),              # near dup of 1 -> clustered, 1 kept
            (4, other, "en"),             # survives as its own cluster
            (5, "too short", "en"),       # fails min_tokens
        ],
        "doc_id bigint, text string, lang string",
    )
    kept = curate_corpus(docs, group_col="lang", sample_n=10, min_tokens=15,
                         max_stopword_ratio=0.9, min_distinct_ratio=0.1)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]
    assert "n_tokens" in kept.columns  # quality features ride through


def test_curate_corpus_pairs_fn_override(spark):
    """The pair tier is pluggable: a minhash closure slots in for the
    exact tier and the rest of the ladder is unchanged."""
    from bigdata_etl_customer360_spark.operators.dedup import minhash_lsh_pairs
    from bigdata_etl_customer360_spark.plans.pipelines import curate_corpus

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, base, "en"), (2, base + " phi", "en"),
         (3, "unrelated words entirely here covering separate topics with "
             "plenty distinct vocabulary spread over many tokens total", "en")],
        "doc_id bigint, text string, lang string",
    )
    kept = curate_corpus(
        docs, group_col="lang", sample_n=10, min_tokens=5,
        max_stopword_ratio=1.0, min_distinct_ratio=0.1,
        pairs_fn=lambda df: minhash_lsh_pairs(df, num_hashes=64, bands=32,
                                              threshold=0.5),
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_keep_cluster_canonical_idempotent(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id bigint, text string"
    )
    pairs = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    once = keep_cluster_canonical(docs, pairs)
    twice = keep_cluster_canonical(once, pairs)
    assert sorted(r["doc_id"] for r in twice.collect()) == sorted(
        r["doc_id"] for r in once.collect()
    ) == [1, 4, 5, 7]


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def _np_pagerank(edges, damping=0.85, iterations=15):
    """Dense power iteration with dangling redistribution — ground truth
    mirroring the operator's exact update rule."""
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = {u: 0 for u in nodes}
    for u, _ in edges:
        deg[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / deg[u]
        dangling = sum(r[idx[u]] for u in nodes if deg[u] == 0)
        r = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return {nd: r[idx[nd]] for nd in nodes}


def test_pagerank_matches_numpy_power_iteration(spark):
    from bigdata_etl_customer360_spark.operators.graph import pagerank

    # mixed shape: a hub (1<-2,3,4), a chain, and a dangling node 5
    edges = [(2, 1), (3, 1), (4, 1), (1, 2), (2, 3), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(df, iterations=15).collect()}
    want = _np_pagerank(edges, iterations=15)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_symmetric_clique_is_uniform(spark):
    from bigdata_etl_customer360_spark.operators.graph import pagerank

    edges = [(a, b) for a in range(4) for b in range(4) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [r["rank"] for r in pagerank(df, iterations=10).collect()]
    assert len(got) == 4 and all(abs(x - 0.25) < 1e-12 for x in got)


def test_pagerank_partition_independent_to_float_tolerance(spark):
    from bigdata_etl_customer360_spark.operators.graph import pagerank

    edges = [(i, (i * 3 + 1) % 20) for i in range(20) if i != (i * 3 + 1) % 20]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["id"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    b = {r["id"]: r["rank"] for r in pagerank(df.repartition(7), iterations=12).collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_label_propagation_matches_sync_reference(spark):
    """Two K4 cliques + one bridge: deterministic synchronous LPA with the
    pinned (count desc, label asc) tie rule, checked against a pure-Python
    mirror of the same update."""
    from bigdata_etl_customer360_spark.operators.graph import label_propagation

    cliq1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cliq2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = cliq1 + cliq2 + [(3, 10)]

    def ref_lpa(edges, max_iter=10):
        from collections import Counter, defaultdict

        adj = defaultdict(set)
        for u, v in edges:
            adj[u].add(v); adj[v].add(u)
        labels = {u: u for u in adj}
        for _ in range(max_iter):
            new = {}
            for u in adj:
                c = Counter(labels[v] for v in adj[u])
                best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                new[u] = best
            if new == labels:
                break
            labels = new
        return labels

    df = spark.createDataFrame(edges, schema="id_a long, id_b long")
    got = {r["id"]: r["label"] for r in label_propagation(df).collect()}
    assert got == ref_lpa(edges)
    # communities: each clique collapses to one label
    assert len({got[u] for u in range(4)}) == 1
    assert len({got[u] for u in range(10, 14)}) == 1


def test_label_propagation_keeps_self_loop_only_nodes(spark):
    from bigdata_etl_customer360_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 1), (2, 3)], schema="id_a long, id_b long")
    got = {r["id"]: r["label"] for r in label_propagation(df).collect()}
    assert got[1] == 1  # self-loop-only node keeps its own label
    assert set(got) == {1, 2, 3}


def test_bfs_distances_chain_star_and_multisource(spark):
    from bigdata_etl_customer360_spark.operators.graph import bfs_distances

    # chain 0-1-2-3-4 plus star 10-{11,12}, sources {0, 10}
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)]
    e = spark.createDataFrame(edges, schema="id_a long, id_b long")
    s = spark.createDataFrame([(0,), (10,)], schema="id long")
    got = {r["id"]: r["dist"] for r in bfs_distances(e, s).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 10: 0, 11: 1, 12: 1}
    # unreached component (20-21) absent; max_depth truncates the frontier
    short = {r["id"]: r["dist"] for r in bfs_distances(e, s, max_depth=2).collect()}
    assert short == {0: 0, 1: 1, 2: 2, 10: 0, 11: 1, 12: 1}
    # isolated source (not in edges) still appears at distance 0
    s2 = spark.createDataFrame([(99,)], schema="id long")
    assert {r["id"]: r["dist"] for r in bfs_distances(e, s2).collect()} == {99: 0}


def test_bfs_distances_weighted_prefers_cheap_long_path(spark, monkeypatch):
    import bigdata_etl_customer360_spark.operators.graph as g
    from bigdata_etl_customer360_spark.operators.graph import bfs_distances

    # 0->3 direct costs 10; 0->1->2->3 costs 3; a null weight is no edge
    edges = [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1), (1, 3, None)]
    e = spark.createDataFrame(edges, schema="id_a long, id_b long, w long")
    s = spark.createDataFrame([(0,)], schema="id long")
    for cap in (0, 2_000_000):
        monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", cap)
        got = {r["id"]: r["dist"]
               for r in bfs_distances(e, s, weight_col="w").collect()}
        assert got == {0: 0, 1: 1, 2: 2, 3: 3}, cap
    # hop bound 1: only direct edges relax
    one = {r["id"]: r["dist"]
           for r in bfs_distances(e, s, weight_col="w", max_depth=1).collect()}
    assert one == {0: 0, 1: 1, 3: 10}


def test_bfs_local_mode_matches_distributed(spark, monkeypatch):
    """BFS's whole-graph local mode (numpy rounds over the one pulled
    edge list) must equal the distributed loop EXACTLY, and both must
    equal the numpy mirror: seeded random graphs, unweighted and
    weighted, an isolated source, a max_depth truncation, and a
    15k-leaf star from a single source."""
    import numpy as np

    import bigdata_etl_customer360_spark.operators.graph as g

    rng = np.random.default_rng(11)
    cases = []
    for weighted in (False, True):
        a = rng.integers(0, 40, size=90)
        b = rng.integers(0, 40, size=90)
        w = rng.integers(1, 10, size=90) if weighted else np.ones(90, "int64")
        cases.append((np.stack([a, b], axis=1), w, [0, 7, 999], 20, weighted))
    cases.append((cases[1][0], cases[1][1], [3], 2, True))  # truncated
    # parallel edges of weight 5 and 1: the cheap one wins on both paths
    parallel = (np.array([[0, 1], [1, 0]]), np.array([5, 1]), [0], 20, True)
    cases.append(parallel)
    n = 15_000
    star = np.stack([np.zeros(n, "int64"), np.arange(1, n + 1)], axis=1)
    cases.append((star, np.ones(n, "int64"), [0], 3, False))

    for edges, w, seeds, depth, weighted in cases:
        e = spark.createDataFrame(
            [(int(x), int(y), int(c)) for (x, y), c in zip(edges, w)],
            "id_a long, id_b long, w long",
        )
        s = spark.createDataFrame([(x,) for x in seeds], "id long")
        kw = {"weight_col": "w"} if weighted else {}
        got = []
        for cap in (2_000_000, 0):
            monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", cap)
            got.append(
                {
                    r["id"]: r["dist"]
                    for r in g.bfs_distances(e, s, max_depth=depth, **kw).collect()
                }
            )
        want = np_bfs(edges.astype("int64"), w.astype("int64"), seeds, depth)
        assert got[0] == got[1] == want
        if edges is parallel[0]:
            assert want == {0: 0, 1: 1}
    assert want[0] == 0 and len(want) == n + 1  # the star: every leaf at 1


def test_bfs_ids_keep_their_type_on_both_paths(spark, monkeypatch):
    """String and int node ids come back with the same rows and the same
    schema whichever path runs: the id type is the distributed loop's
    union of the source and edge id types."""
    import bigdata_etl_customer360_spark.operators.graph as g

    cases = [
        ("string", [("a", "b"), ("b", "c"), ("c", "d")], "a",
         {"a": 0, "b": 1, "c": 2, "d": 3}),
        ("int", [(1, 2), (2, 3), (3, 4)], 1, {1: 0, 2: 1, 3: 2, 4: 3}),
    ]
    for typ, pairs, seed, want in cases:
        e = spark.createDataFrame(pairs, f"id_a {typ}, id_b {typ}")
        s = spark.createDataFrame([(seed,)], f"id {typ}")
        out = []
        for cap in (2_000_000, 0):
            monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", cap)
            df = g.bfs_distances(e, s)
            out.append((df.schema, {r["id"]: r["dist"] for r in df.collect()}))
        assert out[0] == out[1], typ
        assert out[0][1] == want
        assert out[0][0].simpleString() == f"struct<id:{typ},dist:bigint>"


# session confs the graph operators change inside their calls
_GRAPH_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.limit.initialNumPartitions",
)
_GRAPH_OPS = {
    "connected_components": lambda g, e, s: g.connected_components(e),
    "pagerank": lambda g, e, s: g.pagerank(e, "id_a", "id_b", iterations=2),
    "hits": lambda g, e, s: g.hits(e, "id_a", "id_b", iterations=2),
    "label_propagation": lambda g, e, s: g.label_propagation(e, max_iterations=2),
    "bfs_distances": lambda g, e, s: g.bfs_distances(e, s, max_depth=3),
    "k_core": lambda g, e, s: g.k_core(e, 2),
    "core_numbers": lambda g, e, s: g.core_numbers(e, max_core=3),
}


def _persisted_after_local_call(spark, monkeypatch, op, fail):
    """Persisted-RDD count change across one local-mode call of ``op``;
    with ``fail`` the Arrow ``toPandas`` edge pull raises (a driver OOM
    stand-in)."""
    import bigdata_etl_customer360_spark.operators.graph as g

    def boom(self):
        raise RuntimeError("pull failed")

    edges = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (1, 2), (5, 5)])
    sources = spark.createDataFrame([(1,)], "id bigint")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    if fail:
        monkeypatch.setattr(type(edges), "toPandas", boom)
        with pytest.raises(RuntimeError, match="pull failed"):
            _GRAPH_OPS[op](g, edges, sources)
    else:
        assert _GRAPH_OPS[op](g, edges, sources).count() > 0
    return jsc.getPersistentRDDs().size() - before


@pytest.mark.parametrize("op", sorted(_GRAPH_OPS))
def test_link_local_mode_failed_pull_releases_edge_cache(spark, monkeypatch, op):
    """A failed local-mode edge pull must not leave the cached edge frame
    persisted for the rest of the session."""
    assert _persisted_after_local_call(spark, monkeypatch, op, fail=True) == 0


@pytest.mark.parametrize("op", sorted(_GRAPH_OPS))
def test_graph_local_mode_leaves_no_persisted_blocks(spark, monkeypatch, op):
    """A successful local-mode call leaves no cached or checkpointed
    block behind: nothing runs before the pull but the one cached count."""
    assert _persisted_after_local_call(spark, monkeypatch, op, fail=False) == 0


@pytest.mark.parametrize("op", sorted(_GRAPH_OPS))
def test_graph_id_type_widens_alike_on_both_paths(spark, monkeypatch, op):
    """An int src and a bigint dst come back as the same column types
    whichever path runs: local mode widens the endpoint types the way the
    distributed loops' unions do."""
    import bigdata_etl_customer360_spark.operators.graph as g

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "id_a int, id_b bigint"
    )
    sources = spark.createDataFrame([(1,)], "id int")
    types = []
    for cap in (2_000_000, 0):
        monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", cap)
        types.append(_GRAPH_OPS[op](g, edges, sources).schema.simpleString())
    assert types[0] == types[1]


def test_pagerank_personalized_matches_numpy(spark):
    """Personalized pagerank == a numpy power iteration with the
    seed-weighted teleport (dangling mass to seeds); mass sums to 1,
    rank concentrates at/near the seeds, an unreachable component gets
    exactly 0, and an all-absent seed set raises."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.graph import pagerank

    # two components: a 0-1-2-3 chain (cycle) and an isolated 10-11 pair;
    # plus a dangling node 4 fed from the chain
    edges = [
        (0, 1), (1, 2), (2, 3), (3, 0),
        (1, 4),          # 4 has no out-edges: dangling
        (10, 11), (11, 10),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (2,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, iterations=12, seeds=seeds).collect()
    }

    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    w = np.zeros(n)
    for s in (0, 2):
        w[idx[s]] = 0.5
    r = w.copy()
    d = 0.85
    for _ in range(12):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / deg[idx[s]]
        dm = sum(r[idx[v]] for v in ids if deg[idx[v]] == 0)
        r = (1 - d) * w + d * (contrib + dm * w)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-12, v
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    assert got[10] == 0.0 and got[11] == 0.0  # unreachable component
    assert got[0] > got[4]  # seeds outrank the periphery

    import pytest as _pt
    with _pt.raises(ValueError, match="seeds"):
        pagerank(df, seeds=spark.createDataFrame([(99,)], "id long"))


def test_hits_matches_numpy_and_zero_sides(spark):
    """hits == the numpy mutual recursion (L1-normalized per half-step),
    nodes without in-edges hold authority 0 and without out-edges hub 0."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.graph import hits

    E = [(1, 10), (1, 11), (2, 10), (2, 12), (3, 11), (3, 12), (3, 10)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r["id"]: (r["hub"], r["authority"]) for r in hits(df, iterations=8).collect()}

    ids = sorted({x for e in E for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, d in E:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(ids))
    for _ in range(8):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    for v in ids:
        assert abs(got[v][0] - h[idx[v]]) < 1e-12, v
        assert abs(got[v][1] - a[idx[v]]) < 1e-12, v
    # bipartite split: sources have no authority, sinks no hub
    assert all(got[v][1] == 0.0 for v in (1, 2, 3))
    assert all(got[v][0] == 0.0 for v in (10, 11, 12))
    # mutual reinforcement: node 3 points at everything -> best hub;
    # node 10 is pointed at by everyone -> best authority
    assert got[3][0] == max(g[0] for g in got.values())
    assert got[10][1] == max(g[1] for g in got.values())


def test_hits_empty_graph_and_bad_iterations(spark):
    import pytest as _pt

    from bigdata_etl_customer360_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src long, dst long")
    assert hits(empty).count() == 0
    with _pt.raises(ValueError):
        hits(empty, iterations=0)


def test_k_core_peels_cascade(spark):
    """K5 plus a degree-3 node whose support peels away: plain degree
    filtering keeps node 6 (deg 3), the 3-core must not."""
    from bigdata_etl_customer360_spark.operators.graph import k_core

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    # node 6 touches three pendant nodes (7, 8, 9): degree 3, but the
    # pendants peel in round 1, then 6 peels in round 2
    fringe = [(6, 7), (6, 8), (6, 9)]
    out = {
        r["id"]: r["degree"]
        for r in k_core(_edges(spark, k5 + fringe), 3).collect()
    }
    assert out == {i: 4 for i in range(1, 6)}


def test_k_core_in_core_degree_not_global(spark):
    """Reported degree is the IN-CORE degree: a core member with extra
    fringe neighbors still reports only its surviving edges."""
    from bigdata_etl_customer360_spark.operators.graph import k_core

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    out = {
        r["id"]: r["degree"]
        for r in k_core(_edges(spark, k4 + [(1, 10), (1, 11)]), 3).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_k_core_empty_and_duplicate_edges(spark):
    from bigdata_etl_customer360_spark.operators.graph import k_core

    # a triangle with duplicate + reversed + self-loop edges collapses
    # to the plain triangle: a 2-core, not a 3-core
    tri = [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)]
    assert k_core(_edges(spark, tri), 3).count() == 0
    got = {r["id"]: r["degree"] for r in k_core(_edges(spark, tri), 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.graph import k_core

    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(260)]
    df = _edges(spark, pairs)
    a = sorted(map(tuple, k_core(df, 4).collect()))
    b = sorted(map(tuple, k_core(df.repartition(11), 4).collect()))
    assert a == b and len(a) > 0


def test_adamic_adar_brute_force_parity(spark):
    """Scores equal the quadratic definition (rounded-term decimal sum)
    on a random graph, existing edges excluded, src < dst."""
    import math
    import random
    from decimal import Decimal

    from bigdata_etl_customer360_spark.operators.graph import adamic_adar

    rng = random.Random(5)
    pairs = {tuple(sorted((rng.randrange(18), rng.randrange(18))))
             for _ in range(40)}
    pairs = [(a, b) for a, b in pairs if a != b]
    got = {(r["id_a"], r["id_b"]): (r["common_neighbors"], r["score"])
           for r in adamic_adar(_edges(spark, pairs)).collect()}

    nbr: dict = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(nbr)
    for i, u in enumerate(nodes):
        for w in nodes[i + 1:]:
            if w in nbr[u]:
                continue
            common = nbr[u] & nbr[w]
            if not common:
                continue
            s = sum(
                Decimal(str(round(1.0 / math.log(len(nbr[v])), 8)))
                for v in common
            )
            want[(u, w)] = (len(common), float(s))
    assert got == want and len(got) > 0


def test_adamic_adar_top_k_and_degree_cap(spark):
    from bigdata_etl_customer360_spark.operators.graph import adamic_adar

    # star around 0 (deg 6 hub) + a path 1-2-3: capping max_degree=3
    # removes the hub's wedges entirely
    star = [(0, i) for i in range(1, 7)]
    path = [(1, 2), (2, 3)]
    full = adamic_adar(_edges(spark, star + path)).collect()
    capped = adamic_adar(
        _edges(spark, star + path), max_degree=3
    ).collect()
    hub_pairs_full = [r for r in full if r["common_neighbors"] > 0]
    assert len(capped) < len(hub_pairs_full)
    # capped graph: only center 2 (deg 2) survives -> pair (1, 3)
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(1, 3)}

    top = adamic_adar(_edges(spark, star + path), top_k=3).collect()
    assert len(top) == 3
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_core_numbers_nested_structure(spark):
    """K5 (core 4), an attached triangle (core 2), a chain tail (core 1)
    — the full profile in one frame, vs repeated k_core memberships."""
    from bigdata_etl_customer360_spark.operators.graph import (
        core_numbers,
        k_core,
    )

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    tri = [(5, 10), (10, 11), (11, 5)]   # triangle sharing node 5
    chain = [(11, 20), (20, 21)]
    edges = _edges(spark, k5 + tri + chain)
    got = {r["id"]: r["core"] for r in core_numbers(edges, max_core=4).collect()}
    assert {got[i] for i in range(1, 6)} == {4}
    assert got[10] == 2 and got[11] == 2
    assert got[20] == 1 and got[21] == 1
    # consistency with k_core membership at every level
    for k in (2, 3, 4):
        members = {r["id"] for r in k_core(edges, k).collect()}
        assert members == {v for v, c in got.items() if c >= k}, k


def test_core_numbers_cap_and_degenerates(spark):
    from bigdata_etl_customer360_spark.operators.graph import core_numbers

    # K8: true core 7, capped at 4
    k8 = [(a, b) for a in range(8) for b in range(a + 1, 8)]
    got = {r["id"]: r["core"] for r in core_numbers(
        _edges(spark, k8), max_core=4).collect()}
    assert set(got.values()) == {4} and len(got) == 8

    # single edge, max_core=1: both nodes core 1
    one = core_numbers(_edges(spark, [(1, 2)]), max_core=1).collect()
    assert {(r["id"], r["core"]) for r in one} == {(1, 1), (2, 1)}

    import pytest as _pt

    with _pt.raises(ValueError):
        core_numbers(_edges(spark, [(1, 2)]), max_core=0)


def test_pagerank_local_mode_matches_distributed(spark, monkeypatch):
    """The small-graph local mode (VERDICT r14 task 4) must agree with
    the distributed rounds to float tolerance on the same graph — and
    a graph over the edge cap must fall back to the distributed loop
    (pinned by forcing the cap to 0)."""
    import bigdata_etl_customer360_spark.operators.graph as g

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1), (2, 1)],
        "src LONG, dst LONG",
    )
    local = {r["id"]: r["rank"] for r in g.pagerank(edges, iterations=6).collect()}
    monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 0)
    dist = {r["id"]: r["rank"] for r in g.pagerank(edges, iterations=6).collect()}
    assert set(local) == set(dist)
    for k in local:
        assert abs(local[k] - dist[k]) < 1e-12, k

    seeds = spark.createDataFrame([(1,), (99,)], "id LONG")
    monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 2_000_000)
    lp = {r["id"]: r["rank"] for r in g.pagerank(edges, iterations=6, seeds=seeds).collect()}
    monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 0)
    dp = {r["id"]: r["rank"] for r in g.pagerank(edges, iterations=6, seeds=seeds).collect()}
    for k in lp:
        assert abs(lp[k] - dp[k]) < 1e-12, k

    # all-absent seeds raise identically on both paths
    import pytest as _pytest

    bad = spark.createDataFrame([(99,)], "id LONG")
    for cap in (2_000_000, 0):
        monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", cap)
        with _pytest.raises(ValueError, match="no seeds present"):
            g.pagerank(edges, iterations=2, seeds=bad)


def test_hits_local_mode_matches_distributed(spark, monkeypatch):
    """Same two-path agreement + cap fallback for HITS, including the
    zero-sides contract (pure sources hold authority 0, pure sinks hub
    0) on both paths."""
    import bigdata_etl_customer360_spark.operators.graph as g

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12), (2, 12)],
        "src LONG, dst LONG",
    )
    local = {
        r["id"]: (r["hub"], r["authority"])
        for r in g.hits(edges, iterations=5).collect()
    }
    monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 0)
    dist = {
        r["id"]: (r["hub"], r["authority"])
        for r in g.hits(edges, iterations=5).collect()
    }
    assert set(local) == set(dist)
    for k in local:
        assert abs(local[k][0] - dist[k][0]) < 1e-12, k
        assert abs(local[k][1] - dist[k][1]) < 1e-12, k
    for k in (1, 2, 3):
        assert local[k][1] == 0.0  # pure sources: authority exactly 0
    for k in (10, 11, 12):
        assert local[k][0] == 0.0  # pure sinks: hub exactly 0


def test_kcore_trio_local_mode_matches_distributed(spark, monkeypatch):
    """r15 local-mode revision of the r13 negative result: k_core /
    core_numbers / label_propagation run driver-side under the edge cap
    and must EXACTLY equal the distributed loop (integer fixed points —
    no float tolerance needed), including the pinned LPA tie rule and
    the self-loop-only own-label contract."""
    import bigdata_etl_customer360_spark.operators.graph as g

    edges = spark.createDataFrame(
        # K4 on 1-4 (3-core), pendant 5 off node 1, triangle 6-7-8,
        # self-loop 9 (LPA: own label), duplicate edge 2-3
        # null endpoint (30, NULL): no edge, and no node anywhere
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5),
         (6, 7), (7, 8), (6, 8), (9, 9), (2, 3), (30, None)],
        "id_a LONG, id_b LONG",
    )

    def run_all():
        kc = sorted(map(tuple, g.k_core(edges, 3).collect()))
        cn = sorted(map(tuple, g.core_numbers(edges, max_core=4).collect()))
        lp = sorted(map(tuple, g.label_propagation(edges, max_iterations=5).collect()))
        return kc, cn, lp

    local = run_all()
    monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 0)
    dist = run_all()
    assert local == dist
    kc, cn, lp = local
    assert [i for i, _ in kc] == [1, 2, 3, 4]  # K4 is the 3-core
    assert dict(cn)[5] == 1 and dict(cn)[6] == 2  # pendant 1, triangle 2
    assert dict(lp)[9] == 9  # self-loop-only node keeps its own label
    assert 30 not in dict(lp) and None not in dict(lp)


def test_cc_local_mode_matches_distributed(spark, monkeypatch):
    """r16: connected_components' small-graph local mode (numpy min-label
    propagation) must equal the distributed loop EXACTLY — component ids
    are a unique integer fixed point. Covers self-loop-only nodes
    (absent from BOTH paths), duplicate edges, and multiple components."""
    import bigdata_etl_customer360_spark.operators.graph as g

    edges = spark.createDataFrame(
        # chain 1-2-3, clique 10-11-12, self-loop-only 99, dup edge 2-3
        [(3, 2), (2, 1), (10, 11), (11, 12), (12, 10), (99, 99), (2, 3)],
        "id_a LONG, id_b LONG",
    )

    def run():
        return sorted(map(tuple, g.connected_components(edges).collect()))

    local = run()
    monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 0)
    dist = run()
    assert local == dist
    comp = dict(local)
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    assert 99 not in comp  # self-loop-only: absent on both paths
    monkeypatch.undo()


def test_cc_non_integral_ids_raise_before_any_job(spark, monkeypatch):
    """Non-integral ids are refused up front, before a Spark job runs, on
    both paths: the distributed loop's decimal label sum cannot take them
    (CAST_INVALID_INPUT under ANSI; with ANSI off a 13-node string chain
    came back as 9 components instead of 1)."""
    import bigdata_etl_customer360_spark.operators.graph as g
    from bigdata_etl_customer360_spark.operators.util import session_conf

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)],
        "id_a string, id_b string",
    )
    sc = spark.sparkContext
    for cap in (2_000_000, 0):
        monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", cap)
        for ansi in ("true", "false"):
            group = f"cc-string-ids-{cap}-{ansi}"
            sc.setJobGroup(group, "connected_components on string ids")
            try:
                with session_conf(spark, "spark.sql.ansi.enabled", ansi):
                    with pytest.raises(ValueError, match="integral node ids"):
                        g.connected_components(chain)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    mixed = spark.createDataFrame([(1, 2.0)], "id_a bigint, id_b double")
    with pytest.raises(ValueError, match="id_b double"):
        g.keep_cluster_canonical(mixed, mixed, id_col="id_a")


@pytest.mark.parametrize("path", ["local", "distributed"])
@pytest.mark.parametrize("op", sorted(_GRAPH_OPS))
def test_graph_operators_leave_session_conf_as_found(spark, monkeypatch, op, path):
    import bigdata_etl_customer360_spark.operators.graph as g

    if path == "distributed":
        monkeypatch.setattr(g, "_LINK_LOCAL_EDGE_CAP", 0)
    edges = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    sources = spark.createDataFrame([(1,)], "id bigint")
    found = {k: spark.conf.get(k, None) for k in _GRAPH_CONFS}
    assert _GRAPH_OPS[op](g, edges, sources).count() > 0
    assert {k: spark.conf.get(k, None) for k in _GRAPH_CONFS} == found
