"""Scale stress for bfs_distances — multi-source hop distances and the
bounded-hop SSSP (integer-weight) tier. Completes the graph family's
independent-reference program (stress_pagerank / stress_lpa /
stress_hits / stress_cc / stress_kcore / stress_triangles): every
iterative graph operator now has an at-scale check against a reference
implementation, beyond its sf0.01 recursive-CTE oracle.

Three runs, far past the graded size:

- ``zipf_web / unweighted``: 1M edges over 95k nodes, 5 sources,
  max_depth=20 — the realistic blast-radius shape (short diameter, hub
  skew makes single frontier cells heavy).
- ``zipf_web / weighted``: same graph with integer weights 1..9 —
  the Bellman-Ford tier; round k is optimal over ≤k-edge paths, and
  the mirror runs the identical synchronous relaxation, so the match
  is exact even where 20 hops is not yet the global optimum.
- ``chain``: a 200k-node path with ONE source at the end, max_depth=20
  — the adversarial frontier: only 21 nodes are reachable, so the run
  measures per-round overhead when the frontier is tiny but the edge
  list is huge (the early-stop cannot fire; depth is the cap).

The numpy mirror relaxes ALL edges from the PREVIOUS round's distances
each round (synchronous, mirroring both paths of
``operators/graph.bfs_distances``: the distributed dist JOIN edges ->
union -> min-agg round and the local mode's ``np.minimum.at`` round)
with exact int64 arithmetic; unreached nodes are absent on both sides.
Equality is exact, not a tolerance. All three graphs are under the
graph family's 2M-edge local-mode cap (chain: 400k symmetrized edges),
so they run the local mode; set ``graph._LINK_LOCAL_EDGE_CAP = 0`` to
stress the distributed loop instead.

Run: python scripts/stress_bfs.py  (one JSON line per run).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

import numpy as np

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

SEED = 29
MAX_DEPTH = 20
INF = np.int64(1) << 62


def np_bfs(
    edges: np.ndarray,
    weights: np.ndarray,
    sources: list[int],
    max_depth: int = MAX_DEPTH,
) -> dict[int, int]:
    """Synchronous bounded-hop relaxation, vectorized: each round every
    edge relaxes from the PREVIOUS round's distances (u -> v at d+w,
    both directions, self-loops dropped); stop at the fixed point or the
    hop cap. Exact int64 throughout."""
    both = np.concatenate([edges, edges[:, ::-1]], axis=0)
    w2 = np.concatenate([weights, weights])
    keep = both[:, 0] != both[:, 1]
    both, w2 = both[keep], w2[keep]
    nodes = np.unique(np.concatenate([both.flatten(), np.array(sources, np.int64)]))
    u = np.searchsorted(nodes, both[:, 0])
    v = np.searchsorted(nodes, both[:, 1])
    dist = np.full(len(nodes), INF, dtype=np.int64)
    dist[np.searchsorted(nodes, sorted(set(sources)))] = 0
    for _ in range(max_depth):
        new = dist.copy()
        frm = dist[u]
        ok = frm < INF  # avoid INF + w wrap
        np.minimum.at(new, v[ok], frm[ok] + w2[ok])
        if np.array_equal(new, dist):
            break
        dist = new
    return {
        int(nodes[i]): int(dist[i]) for i in range(len(nodes)) if dist[i] < INF
    }


def zipf_web_edges(n_nodes: int = 100_000, n_edges: int = 1_000_000) -> np.ndarray:
    rng = np.random.default_rng(SEED)
    src = rng.integers(0, int(n_nodes * 0.95), size=n_edges, dtype=np.int64)
    dst = np.minimum(rng.zipf(1.3, size=n_edges), n_nodes).astype(np.int64) - 1
    keep = src != dst
    return np.stack([src[keep], dst[keep]], axis=1)


def run(spark, name: str, edges: np.ndarray, weights: np.ndarray | None,
        sources: list[int]) -> None:
    from bigdata_etl_customer360_spark.operators.graph import bfs_distances

    if weights is None:
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], schema="id_a long, id_b long"
        )
        w_np = np.ones(len(edges), dtype=np.int64)
        kw = {}
    else:
        df = spark.createDataFrame(
            [(int(a), int(b), int(w)) for (a, b), w in zip(edges, weights)],
            schema="id_a long, id_b long, w long",
        )
        w_np = weights
        kw = {"weight_col": "w"}
    df = df.repartition(64).localCheckpoint(eager=True)
    src_df = spark.createDataFrame([(int(s),) for s in sources], schema="id long")
    t0 = time.time()
    out = bfs_distances(df, src_df, max_depth=MAX_DEPTH, **kw).toPandas()
    dt = time.time() - t0
    got = dict(zip(out["id"].astype(int), out["dist"].astype(int)))
    want = np_bfs(edges, w_np, sources)
    n_extra = len(set(got) - set(want))
    n_missing = len(set(want) - set(got))
    n_diff = sum(1 for k, d in want.items() if got.get(k) != d)
    print(
        json.dumps(
            {
                "graph": name,
                "edges": int(len(edges)),
                "sources": len(sources),
                "max_depth": MAX_DEPTH,
                "sec": round(dt, 1),
                "reached": len(got),
                "extra_nodes": n_extra,
                "missing_nodes": n_missing,
                "distances_mismatched": n_diff,
            }
        ),
        flush=True,
    )
    assert n_extra == n_missing == n_diff == 0, f"{name} diverges from mirror"


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(SEED + 1)
    web = zipf_web_edges()
    srcs = [int(s) for s in rng.choice(100_000 - 1, size=5, replace=False)]
    run(spark, "zipf_web_unweighted", web, None, srcs)
    w = rng.integers(1, 10, size=len(web), dtype=np.int64)
    run(spark, "zipf_web_weighted", web, w, srcs)
    n = 200_000
    chain = np.stack(
        [np.arange(n - 1, dtype=np.int64), np.arange(1, n, dtype=np.int64)], axis=1
    )
    run(spark, "chain_200k", chain, None, [0])
    spark.stop()


if __name__ == "__main__":
    main()
