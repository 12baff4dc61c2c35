"""Scale stress for connected_components — the pairs→clusters bridge of
the dedup ladder (graded as `dedup_cluster` / inside `curate_corpus`).

Two adversarial graph shapes, far past the graded corpus sizes:

- ``chain``: one 200k-node path — worst-case diameter, the shape that
  forces pointer jumping to prove its O(log n) round bound (naive label
  propagation would need 200k rounds).
- ``clusters``: 300k nodes in ~60k star-shaped duplicate clusters
  (Zipf-sized, capped at 50) — the realistic near-dup pair-list shape
  (LSH emits partial pair lists, not cliques) plus 100k singleton-free
  background pairs.

For each: wall time of the DISTRIBUTED loop (local mode is switched off
by setting ``graph._LINK_LOCAL_EDGE_CAP = 0``, as the two-path tests do)
and a full correctness check of every label against a union-find ground
truth computed driver-side in numpy.

Run: python scripts/stress_cc.py  (one JSON line per graph).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

import numpy as np

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

SEED = 7


def union_find_labels(n_hint: int, edges: np.ndarray) -> dict[int, int]:
    """Driver-side ground truth: min node id per component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def chain_edges(n: int) -> np.ndarray:
    ids = np.arange(n, dtype=np.int64)
    return np.stack([ids[:-1], ids[1:]], axis=1)


def cluster_edges(n_nodes: int, max_cluster: int) -> np.ndarray:
    rng = np.random.default_rng(SEED)
    draws = np.clip(rng.zipf(1.4, size=n_nodes), 2, max_cluster)
    sizes = draws[np.cumsum(draws) <= n_nodes]
    edges, base = [], 0
    for sz in sizes:
        center = base
        members = np.arange(base + 1, base + sz, dtype=np.int64)
        edges.append(np.stack([np.full(len(members), center, np.int64), members], axis=1))
        base += sz
    return np.vstack(edges)


def run(spark, name: str, edges: np.ndarray) -> None:
    from bigdata_etl_customer360_spark.operators import graph

    graph._LINK_LOCAL_EDGE_CAP = 0  # stress the distributed rounds
    df = (
        spark.createDataFrame(
            [(int(u), int(v)) for u, v in edges], schema="id_a long, id_b long"
        )
        .repartition(64)
    )
    t0 = time.time()
    out = graph.connected_components(df).toPandas()
    dt = time.time() - t0
    want = union_find_labels(0, edges)
    got = dict(zip(out["id"].astype(int), out["component"].astype(int)))
    mismatches = sum(1 for k, v in want.items() if got.get(k) != v)
    print(
        json.dumps(
            {
                "graph": name,
                "edges": int(len(edges)),
                "nodes": int(len(want)),
                "sec": round(dt, 1),
                "label_mismatches": mismatches,
            }
        )
    )


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "16g")
        .appName("stress_cc")
        .getOrCreate()
    )
    run(spark, "chain_200k", chain_edges(200_000))
    run(spark, "clusters_300k", cluster_edges(300_000, 50))


if __name__ == "__main__":
    main()
