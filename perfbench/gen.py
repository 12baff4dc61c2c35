"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed`` (numpy ``default_rng``) and
writes plain files the program under test then reads: nothing here touches
Spark, so input generation is never on any clock. Each generator returns a
small manifest (paths plus the facts the output checks need).
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- c360_daily: reference-shaped log_content (FIXTURES.md §A1) -------------

FIRST_DAY = date(2022, 4, 1)
# Every mapped AppName of the reference's dimension plus one unmapped value.
MAPPED_APPS = (
    "CHANNEL", "DSHD", "KPLUS", "KPlus", "VOD", "FIMS_RES", "BHD_RES",
    "VOD_RES", "FIMS", "BHD", "DANET", "RELAX", "CHILD", "SPORT",
)
UNMAPPED_APP = "APP_X"
# Sample-like skew: CHANNEL dominates, then VOD, KPLUS, CHILD.
_APP_WEIGHTS = np.array([40, 3, 6, 2, 14, 2, 2, 2, 2, 2, 2, 8, 8, 7], dtype=float)
# Daily activity probability per contract class; over a 30-day window these
# give ~4, ~15 and ~27 active days, i.e. all three Level_Activeness buckets.
_ACTIVITY = np.array([0.13, 0.5, 0.9])


def day_name(day: int) -> str:
    return (FIRST_DAY + timedelta(days=day)).strftime("%Y%m%d")


def day_iso(day: int) -> str:
    return (FIRST_DAY + timedelta(days=day)).isoformat()


def gen_log_content(
    out_dir: str,
    seed: int,
    n_days: int,
    n_contracts: int = 12_000,
    n_tie_contracts: int = 40,
    n_single_type: int = 400,
) -> dict:
    """Write ``n_days`` files ``yyyyMMdd.json`` of ES-export log lines.

    Planted edges: junk ``Contract "0"`` rows, an unmapped AppName, contracts
    in each activity bucket, contracts watching one type only, and contracts
    whose two watched types tie exactly on total duration every day.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    letters = rng.integers(0, 26, size=(n_contracts, 3))
    digits = rng.integers(0, 1_000_000, size=n_contracts)
    contracts = np.array(
        [
            "".join(chr(65 + c) for c in row) + f"{d:06d}"
            for row, d in zip(letters, digits)
        ]
    )
    contracts = np.unique(contracts)
    n = len(contracts)
    activity = _ACTIVITY[rng.integers(0, 3, size=n)]
    fav = rng.choice(len(MAPPED_APPS), size=n, p=_APP_WEIGHTS / _APP_WEIGHTS.sum())
    single = np.zeros(n, dtype=bool)
    single[rng.choice(n, size=min(n_single_type, n), replace=False)] = True
    macs = np.array([f"{v:012X}" for v in rng.integers(0, 2**48, size=n)])
    tie = [f"TIE{i:05d}" for i in range(n_tie_contracts)]
    apps = np.array(MAPPED_APPS)
    p_apps = _APP_WEIGHTS / _APP_WEIGHTS.sum()
    paths = []
    rid = 0
    for day in range(n_days):
        active = np.flatnonzero(rng.random(n) < activity)
        reps = rng.integers(1, 4, size=len(active))
        who = np.repeat(active, reps)
        app = np.where(
            single[who] | (rng.random(len(who)) < 0.6),
            apps[fav[who]],
            rng.choice(apps, size=len(who), p=p_apps),
        )
        dur = rng.integers(1, 20_000, size=len(who))
        rows = list(zip(contracts[who], macs[who], dur.tolist(), app))
        # junk key and unmapped AppName: both must be dropped by the pipeline
        n_junk = max(1, len(who) // 100)
        for j in rng.integers(0, n, size=n_junk):
            rows.append(("0", macs[j], int(rng.integers(1, 20_000)), "CHANNEL"))
        for j in rng.integers(0, n, size=n_junk):
            rows.append((contracts[j], macs[j], int(rng.integers(1, 20_000)), UNMAPPED_APP))
        # exact Truyen Hinh / Phim Truyen ties, every day
        for t in tie:
            rows.append((t, "000000000000", 600, "CHANNEL"))
            rows.append((t, "000000000000", 600, "VOD"))
        order = rng.permutation(len(rows))
        lines = []
        for i in order:
            c, m, d, a = rows[i]
            rid += 1
            lines.append(
                '{"_index":"history","_type":"kplus","_id":"AX%09d","_score":0,'
                '"_source":{"Contract":"%s","Mac":"%s","TotalDuration":%d,"AppName":"%s"}}'
                % (rid, c, m, d, a)
            )
        path = os.path.join(out_dir, f"{day_name(day)}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        paths.append(path)
    return {"paths": paths, "n_days": n_days, "tie_contracts": tie}


# --- graph_iterative: lineitem/orders-shaped co-purchase source -------------

ORDERS_FIRST_DAY = date(1995, 1, 1)


def gen_copurchase(
    out_dir: str,
    seed: int,
    n_orders: int = 6_000,
    n_parts: int = 1_500,
    n_communities: int = 30,
) -> dict:
    """Write ``orders.parquet`` and ``lineitem.parquet`` (TPC-H column names).

    Parts fall into communities; each order buys 2-6 parts, mostly from one
    community, so support>=2 co-purchase edges form dense clusters joined by
    a few bridges — a graph with components, cores and triangles whose
    shape does not depend on the seed.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    orderkeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    custkeys = rng.integers(1, n_orders // 4, size=n_orders, dtype=np.int64)
    odates = rng.integers(0, 365, size=n_orders)
    comm_of_order = rng.integers(0, n_communities, size=n_orders)
    per_comm = n_parts // n_communities
    sizes = rng.integers(2, 7, size=n_orders)
    l_order, l_part, l_line, l_qty = [], [], [], []
    for o in range(n_orders):
        base = comm_of_order[o] * per_comm
        # skewed popularity inside the community: low offsets are hot
        off = np.minimum((rng.pareto(1.2, size=sizes[o]) * 3).astype(int), per_comm - 1)
        parts = base + off
        stray = rng.random(sizes[o]) < 0.05
        parts = np.where(stray, rng.integers(0, n_parts, size=sizes[o]), parts)
        l_order.extend([orderkeys[o]] * sizes[o])
        l_part.extend((parts + 1).tolist())
        l_line.extend(range(1, sizes[o] + 1))
        l_qty.extend(rng.integers(1, 51, size=sizes[o]).tolist())
    orders = pa.table(
        {
            "o_orderkey": pa.array(orderkeys),
            "o_custkey": pa.array(custkeys),
            "o_orderdate": pa.array(
                [ORDERS_FIRST_DAY + timedelta(days=int(d)) for d in odates], pa.date32()
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": pa.array(l_qty, pa.int64()),
        }
    )
    paths = {
        "orders": os.path.join(out_dir, "orders.parquet"),
        "lineitem": os.path.join(out_dir, "lineitem.parquet"),
    }
    pq.write_table(orders, paths["orders"])
    pq.write_table(lineitem, paths["lineitem"])
    return {"paths": paths}


def copurchase_edges_np(lineitem: pa.Table) -> np.ndarray:
    """Reference edge build: canonical (src<dst) part pairs bought together
    in at least two orders, counting pair multiplicity per order exactly
    like a group-and-explode build does."""
    t = lineitem.select(["l_orderkey", "l_partkey"]).to_pandas()
    counts: dict[tuple[int, int], int] = {}
    for _, parts in t.groupby("l_orderkey")["l_partkey"]:
        ps = parts.to_numpy()
        for a in ps:
            for b in ps:
                if a < b:
                    counts[(int(a), int(b))] = counts.get((int(a), int(b)), 0) + 1
    edges = [k for k, v in counts.items() if v >= 2]
    return np.array(sorted(edges), dtype=np.int64).reshape(-1, 2)


# --- corpus_curation: documents-shaped corpus with planted duplicates -------

LANGS = ("en", "de", "fr", "vi", "zh")
# The reference's 14 classification labels (ETL_customer_behavior.py:71-85)
# with keyword rules; the rule words are part of the corpus vocabulary.
LABEL_RULES = {
    "Action": ["explosion", "fight"],
    "Romance": ["romance", "kiss"],
    "Comedy": ["comedy", "laugh"],
    "Horror": ["horror", "ghost"],
    "Animation": ["animation", "cartoon"],
    "Drama": ["tragedy", "tears"],
    "C Drama": ["beijing", "dynasty"],
    "K Drama": ["seoul", "hanbok"],
    "Sports": ["football", "stadium"],
    "Music": ["concert", "melody"],
    "Reality Show": ["contestant", "elimination"],
    "TV Channel": ["broadcast", "channel"],
    "News": ["headline", "reporter"],
}
_RULE_WORDS = [w for kws in LABEL_RULES.values() for w in kws]


def gen_corpus(
    out_dir: str,
    seed: int,
    n_shards: int,
    docs_per_shard: int = 3_000,
    vocab_size: int = 4_000,
    dup_share: float = 0.3,
) -> dict:
    """Write ``n_shards`` parquet shards ``shard_<i>.parquet`` in the
    ``documents`` shape (doc_id, text, lang, source, n_chars).

    A ``dup_share`` of each shard are planted duplicates of a base doc in
    the same shard: exact copies, case/whitespace variants (same normalized
    text) and near duplicates with a few words replaced. Base docs are
    random word sequences over a large vocabulary, so unrelated docs share
    no word 3-gram and every doc passes the quality gate. Returns, per
    shard, the doc ids expected to survive curation: the smallest id of
    every duplicate cluster.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    syll = ["ka", "ro", "mi", "te", "su", "na", "lo", "ve", "di", "pa", "zu", "ne"]
    vocab = set()
    while len(vocab) < vocab_size:
        k = int(rng.integers(2, 5))
        vocab.add("".join(syll[i] for i in rng.integers(0, len(syll), size=k)))
    vocab = np.array(sorted(vocab) + _RULE_WORDS)
    shards = []
    next_id = 0
    for s in range(n_shards):
        n_base = int(docs_per_shard * (1 - dup_share))
        texts, langs, cluster = [], [], []
        base_words = []
        for b in range(n_base):
            n_tok = int(rng.integers(30, 80))
            words = vocab[rng.integers(0, len(vocab), size=n_tok)]
            base_words.append(words)
            texts.append(" ".join(words))
            langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
            cluster.append(b)
        for _ in range(docs_per_shard - n_base):
            b = int(rng.integers(0, n_base))
            words = base_words[b].copy()
            kind = rng.random()
            if kind < 0.35:
                text = " ".join(words)
            elif kind < 0.55:
                text = "  " + " ".join(words).upper() + " "
            else:
                pos = rng.choice(len(words), size=3, replace=False)
                words[pos] = vocab[rng.integers(0, len(vocab), size=3)]
                text = " ".join(words)
            texts.append(text)
            langs.append(langs[b])
            cluster.append(b)
        order = rng.permutation(len(texts))
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        next_id += len(texts)
        texts = [texts[i] for i in order]
        langs = [langs[i] for i in order]
        cluster = np.array(cluster)[order]
        first = {}
        for doc_id, c in zip(ids.tolist(), cluster.tolist()):
            first.setdefault(c, doc_id)
        path = os.path.join(out_dir, f"shard_{s:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids),
                    "text": pa.array(texts),
                    "lang": pa.array(langs),
                    "source": pa.array([f"src{i % 7}" for i in ids.tolist()]),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
            path,
        )
        shards.append({"path": path, "expected_ids": sorted(first.values())})
    return {"shards": shards, "label_rules": LABEL_RULES}
