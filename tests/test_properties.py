"""Property tests (SURVEY §5.4): hypothesis-generated adversarial inputs —
ties, nulls, empty strings, unseen categories — checked against plain-Python
reference implementations. Each example set is batched into ONE Spark job
(hypothesis drives the data, not the session)."""

from __future__ import annotations

import math
import unicodedata
from collections import Counter, defaultdict

import pandas as pd
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_etl_customer360_spark.functions.expressions import bucketize_expr
from bigdata_etl_customer360_spark.operators.enrich import (
    SPARK_ONLY_LOWER_IMAGES,
    RuleClassifier,
    _native_rules,
    classify_column,
)
from bigdata_etl_customer360_spark.operators.relational import pivot_agg, top_k_per_group

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),                        # group key
        st.sampled_from(["a", "b", "c", "d"]),    # item  (few values → many ties)
        st.integers(0, 3),                        # count (ties likely)
    ),
    min_size=1,
    max_size=40,
)


@given(rows_strategy)
@SETTINGS
def test_top1_matches_python_argmax(spark, rows):
    df = spark.createDataFrame(rows, ["k", "item", "cnt"])
    got = {
        r["k"]: r["item"]
        for r in top_k_per_group(
            df, ["k"], [F.col("cnt").desc(), F.col("item").asc()], k=1
        ).collect()
    }
    by_key = defaultdict(list)
    for k, item, cnt in rows:
        by_key[k].append((item, cnt))
    want = {k: min(v, key=lambda t: (-t[1], t[0]))[0] for k, v in by_key.items()}
    assert got == want


@given(
    st.lists(st.one_of(st.none(), st.integers(-50, 50)), min_size=1, max_size=30),
    st.lists(st.integers(-20, 20), min_size=1, max_size=3, unique=True).map(sorted),
)
@SETTINGS
def test_bucketize_matches_python_binning(spark, values, boundaries):
    labels = [f"b{i}" for i in range(len(boundaries) + 1)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v int")
    got = {
        r["i"]: r["lab"]
        for r in df.select("i", bucketize_expr("v", boundaries, labels).alias("lab")).collect()
    }

    def pybin(v):
        if v is None:
            return None  # comparisons with null stay null -> otherwise-label? no: when(null)≡false
        for b, lab in zip(boundaries, labels[:-1]):
            if v <= b:
                return lab
        return labels[-1]

    for i, v in enumerate(values):
        if v is None:
            assert got[i] == labels[-1]  # null fails every <=, falls to otherwise
        else:
            assert got[i] == pybin(v), (v, boundaries)


@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.sampled_from(["x", "y", "UNSEEN"]), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_pivot_ignores_unseen_and_fills(spark, rows):
    df = spark.createDataFrame(rows, ["k", "cat", "v"])
    out = {
        r["k"]: (r["p_x"], r["p_y"])
        for r in pivot_agg(
            df, ["k"], "cat", ["x", "y"], "v", agg="sum", fill=0, prefix="p_"
        ).collect()
    }
    want = defaultdict(lambda: Counter())
    for k, cat, v in rows:
        want[k][cat] += v
    assert set(out) == set(want)
    for k, c in want.items():
        assert out[k] == (c.get("x", 0), c.get("y", 0))  # UNSEEN never leaks


@given(
    st.lists(
        st.one_of(st.none(), st.text(alphabet="abc XYZ%_'!", min_size=0, max_size=12)),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_rule_classifier_python_matches_its_sql(spark, keys):
    """The pandas backend and its generated CASE SQL must agree on any
    input — this is what makes enrich_classify oracle-checkable. Keywords
    deliberately include quotes and LIKE metacharacters (%/_/!) to pin the
    escaping: '%' must match only a literal percent, not everything."""
    import duckdb

    c = RuleClassifier(
        {"A": ["ab"], "B": ["x", "c"], "Q": ["o'n"], "M": ["100%", "a_b", "w!w"]},
        fallback="F",
    )
    py = c.classify_batch(pd.Series(keys, dtype="object")).tolist()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    got = [r[0] for r in con.execute(f"SELECT {c.to_case_sql('k')} FROM t").fetchall()]
    assert got == py


def test_rule_classifier_sql_metachars_spark_side(spark):
    """The generated CASE also parses and agrees when evaluated BY SPARK
    (pushdown use), including the ESCAPE clause and doubled quotes."""
    c = RuleClassifier({"P": ["50%"], "U": ["a_c"], "Q": ["d'oh"]}, fallback="F")
    keys = ["has 50% off", "50 percent", "xa_cx", "xaYcx", "d'oh!", None]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = [r["lbl"] for r in df.select(F.expr(c.to_case_sql("k")).alias("lbl")).collect()]
    py = c.classify_batch(pd.Series(keys, dtype="object")).tolist()
    assert got == py == ["P", "F", "U", "F", "Q", "F"]


def _classify_both(spark, c, keys):
    """(classify_column's labels, the Python path's labels) for ``keys``:
    null keys take the fallback, every other key ``classify_batch``."""
    df = spark.createDataFrame(list(enumerate(keys)), "id int, k string")
    got = [r["category"] for r in classify_column(df, "k", c).orderBy("id").collect()]
    batch = c.classify_batch(pd.Series(keys, dtype="object")).tolist()
    return got, [c.fallback if k is None else b for k, b in zip(keys, batch)]


def test_spark_lower_disagrees_with_python_only_on_gated_code_points(spark):
    """The native-rules gate rests on a measured fact: wherever Spark's
    ``lower`` and Python's ``str.lower`` disagree on a code point, the
    source is unassigned in Python's Unicode database and Spark's image is
    unassigned too or in SPARK_ONLY_LOWER_IMAGES. One Spark job sweeps every
    non-surrogate code point in context (``"x" + chr(c) + "x"``); a JVM,
    ICU or Python upgrade that moves the fact fails here."""

    def sweep(batches):
        for b in batches:
            cps = [c for c in b["id"].tolist() if not 0xD800 <= c <= 0xDFFF]
            s = ["x" + chr(c) + "x" for c in cps]
            yield pd.DataFrame({"cp": cps, "s": s, "py": [t.lower() for t in s]})

    diff = (
        spark.range(0, 0x110000, numPartitions=4)
        .mapInPandas(sweep, "cp long, s string, py string")
        .where(F.lower("s") != F.col("py"))
        .select("cp", F.lower("s").alias("image"))
        .collect()
    )
    assert diff, "no disagreement at all: the sweep did not run as meant"
    for r in diff:
        assert unicodedata.category(chr(r["cp"])) == "Cn", hex(r["cp"])
        for ch in r["image"][1:-1]:
            assert unicodedata.category(ch) == "Cn" or ch in SPARK_ONLY_LOWER_IMAGES, (
                hex(r["cp"]),
                hex(ord(ch)),
            )


_ASSIGNED = st.characters(blacklist_categories=("Cs", "Cn"))
# final sigma, Vietnamese diacritics, dotted capital I (lowers to two code
# points), capital sharp s, titlecase digraphs, LIKE metacharacters
_FRAGMENTS = ["ΟΔΟΣ", "σοφός ", "ΣΑΣ", "Tiếng Việt", "ĐẠI", "İstanbul", "ẞ", "Ǆǅ", "%_!'"]
_texts = st.lists(
    st.one_of(st.sampled_from(_FRAGMENTS), st.text(_ASSIGNED, max_size=3)), max_size=4
).map("".join)
_keywords = st.one_of(
    st.just(""),
    st.sampled_from(["ος", "ς", "σ", "việt", "đạ", "i̇", "ß", "ǆ", "%", "_", "!", "'"]),
    st.text(_ASSIGNED, min_size=1, max_size=2),
)


@given(
    st.lists(st.one_of(st.none(), _texts), min_size=1, max_size=25),
    st.lists(st.lists(_keywords, min_size=1, max_size=3), min_size=1, max_size=4),
)
@example(keys=[None, "ΟΔΟΣ", "x"], kws=[["ς"], [""]])
@SETTINGS
def test_native_classify_column_matches_classify_batch(spark, keys, kws):
    """For gate-passing rules, the native CASE projection gives every row
    the label the Python path gives it, on unicode text with nulls and
    with the empty keyword (which matches every non-null key)."""
    c = RuleClassifier({f"L{i}": k for i, k in enumerate(kws)}, fallback="F")
    assume(_native_rules(c))
    got, want = _classify_both(spark, c, keys)
    assert got == want


def test_spark_only_lower_image_keyword_takes_python_path(spark):
    """U+A7CB is unassigned for Python, so ``str.lower`` keeps it, while
    Spark lowers it to ɤ: a rule on ɤ would label the text natively but
    not in Python. The gate sends the rule set to the Python path, and
    classify_column agrees with classify_batch."""
    c = RuleClassifier({"X": ["\u0264"]}, fallback="F")
    assert not _native_rules(c)
    got, want = _classify_both(spark, c, ["\ua7cb", "\u0264", None])
    assert got == want == ["F", "X", "F"]


pack_rows = st.lists(
    st.tuples(
        st.integers(0, 500),                      # doc_id (dups possible)
        st.sampled_from(["en", "de", "fr"]),      # shard
        st.integers(1, 300),                      # n_tokens
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(pack_rows, st.integers(16, 256))
@SETTINGS
def test_pack_sequences_matches_python_cumsum(spark, rows, capacity):
    from bigdata_etl_customer360_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    got = {
        r["doc_id"]: (r["tok_offset"], r["first_seq"], r["last_seq"])
        for r in pack_sequences(df, capacity).collect()
    }
    by_shard = defaultdict(list)
    for doc_id, lang, n in rows:
        by_shard[lang].append((doc_id, n))
    want = {}
    for members in by_shard.values():
        off = 0
        for doc_id, n in sorted(members):
            want[doc_id] = (off, off // capacity, (off + n - 1) // capacity)
            off += n
    assert got == want


@given(st.lists(st.text(max_size=60), min_size=1, max_size=20))
@SETTINGS
def test_redact_pii_idempotent(spark, texts):
    """Placeholders contain no redactable spans, so redacting twice must
    equal redacting once — on arbitrary (including adversarial) text."""
    from bigdata_etl_customer360_spark.operators.curation import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    once = redact_pii(df).select("doc_id", F.col("redacted").alias("text"))
    twice = redact_pii(once)
    assert all(
        r["n_redactions"] == 0 for r in twice.select("n_redactions").collect()
    )


# ---------------------------------------------------------------- round 5

_iv_strategy = st.lists(
    st.tuples(
        st.integers(0, 50),   # start offset (seconds granularity → many ties)
        st.integers(0, 20),   # length
    ),
    min_size=1,
    max_size=30,
)


@given(_iv_strategy, st.lists(st.integers(0, 70), min_size=1, max_size=20))
@SETTINGS
def test_range_join_matches_python_containment(spark, ivs, pts):
    """Grid-binned range_join == brute-force containment, any bin width
    relation to interval lengths (bins smaller, equal and larger than
    intervals all occur)."""
    import datetime as dt

    from bigdata_etl_customer360_spark.operators.temporal import range_join

    t0 = dt.datetime(2024, 1, 1)
    ivdf = spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(seconds=s), t0 + dt.timedelta(seconds=s + l))
            for i, (s, l) in enumerate(ivs)
        ],
        "iid long, s timestamp, e timestamp",
    )
    pdf = spark.createDataFrame(
        [(j, t0 + dt.timedelta(seconds=p)) for j, p in enumerate(pts)],
        "pid long, ts timestamp",
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(pdf, ivdf, "ts", "s", "e", bin_seconds=7).collect()
    }
    want = {
        (j, i)
        for j, p in enumerate(pts)
        for i, (s, l) in enumerate(ivs)
        if s <= p <= s + l
    }
    assert got == want


@given(_iv_strategy)
@SETTINGS
def test_interval_concurrency_matches_python_sweep(spark, ivs):
    import datetime as dt

    from bigdata_etl_customer360_spark.operators.temporal import interval_concurrency

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (t0 + dt.timedelta(seconds=s), t0 + dt.timedelta(seconds=s + l))
            for s, l in ivs
        ],
        "s timestamp, e timestamp",
    )
    got = {
        r["ts"]: r["n_open"]
        for r in interval_concurrency(df, "s", "e").collect()
    }
    deltas = Counter()
    for s, l in ivs:
        deltas[s] += 1
        deltas[s + l] -= 1
    running, want = 0, {}
    for t in sorted(deltas):
        running += deltas[t]
        want[t0 + __import__("datetime").timedelta(seconds=t)] = running
    assert got == want


@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000)),
             min_size=1, max_size=60, unique_by=lambda t: t[1]),
)
@SETTINGS
def test_stratified_split_boundary_invariants(spark, rows):
    """Per-stratum split sizes are exactly floor(0.8n) / floor(0.9n)-floor(0.8n)
    / rest, for any stratum sizes."""
    from bigdata_etl_customer360_spark.operators.sampling import stratified_split

    df = spark.createDataFrame(rows, "s long, i long")
    out = stratified_split(df, ["s"], (0.8, 0.1, 0.1), id_col="i").collect()
    sizes = Counter(s for s, _ in rows)
    got = Counter((r["s"], r["split"]) for r in out)
    for s, n in sizes.items():
        b1 = math.floor(0.8 * n)
        b2 = math.floor(0.9 * n)
        assert got.get((s, "train"), 0) == b1
        assert got.get((s, "val"), 0) == b2 - b1
        assert got.get((s, "test"), 0) == n - b2


# --------------------------------------------------------------- dedup_spans

corpus_strategy = st.lists(
    st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


def _ref_dedup_spans(texts, w, min_count):
    """Pure-Python mirror of dedup_spans token mode: shingle counts over
    the whole corpus, keep the (doc, start)-lexicographic first occurrence
    of every repeated shingle, strip positions covered by the rest."""
    toks = [t.split() if t.strip() else [""] for t in texts]
    occ = []  # (doc, start, shingle-tuple)
    for d, tk in enumerate(toks):
        for i in range(len(tk) - w + 1):
            occ.append((d, i, tuple(tk[i : i + w])))
    counts = Counter(sh for _, _, sh in occ)
    first = {}
    for d, i, sh in sorted(occ):
        if counts[sh] >= min_count and sh not in first:
            first[sh] = (d, i)
    covered = defaultdict(set)
    for d, i, sh in occ:
        if counts[sh] >= min_count and first[sh] != (d, i):
            covered[d].update(range(i, i + w))
    out = []
    for d, tk in enumerate(toks):
        kept = [t for i, t in enumerate(tk) if i not in covered[d]]
        out.append((" ".join(kept), len(covered[d])))
    return out


@given(corpus_strategy)
@SETTINGS
def test_dedup_spans_matches_python_reference(spark, corpora):
    from bigdata_etl_customer360_spark.operators.curation import dedup_spans

    texts = [" ".join(tks) for tks in corpora]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["cleaned"], r["n_removed"])
        for r in dedup_spans(df, span_tokens=3, min_count=2).collect()
    }
    want = _ref_dedup_spans(texts, 3, 2)
    for d, exp in enumerate(want):
        assert got[d] == exp, (d, texts[d], got[d], exp)


_sim_vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
simhash_corpus = st.lists(
    st.lists(st.sampled_from(_sim_vocab), min_size=1, max_size=8),
    min_size=2,
    max_size=12,
)


def _ref_portable_simhash(text: str) -> tuple[int, int]:
    """Pure-Python mirror of with_simhash_portable: md5 halves per token,
    +/-1 votes per bit, strictly-positive fold into two 32-bit halves."""
    import hashlib

    votes = [0] * 64
    for t in text.strip().lower().split():
        h = hashlib.md5(t.encode()).hexdigest()
        lo, hi = int(h[:8], 16), int(h[8:16], 16)
        for b in range(64):
            bit = (lo >> b) & 1 if b < 32 else (hi >> (b - 32)) & 1
            votes[b] += 1 if bit else -1
    return (
        sum(1 << b for b in range(32) if votes[b] > 0),
        sum(1 << (b - 32) for b in range(32, 64) if votes[b] > 0),
    )


@given(
    simhash_corpus,
    st.lists(
        st.sampled_from(list(" \t\r\n\x0b\f")), min_size=1, max_size=6
    ),
)
@SETTINGS
def test_simhash_portable_pairs_match_python_reference(spark, corpora, seps):
    """The simhash_recall machinery against a pure-Python mirror on
    adversarial tiny-vocab corpora (many shared tokens -> fingerprints
    cluster -> bands genuinely collide): banding must return EXACTLY the
    brute bit_count(xor) <= 3 pair set, and the fingerprints themselves
    must match the md5 reference bit-for-bit. Tokens are joined with
    separators drawn from the FULL engine-pinned whitespace class
    [ \\t\\r\\n\\x0B\\f] (ADVICE r11: Java \\s vs RE2 \\s diverge on \\x0B;
    Python str.split() agrees with the explicit class on all six), so the
    split itself is property-tested, not just the vote/fold/band chain."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        simhash_pairs_portable,
        with_simhash_portable,
    )

    texts = [
        "".join(
            t + (seps[(i + j) % len(seps)] if j < len(tks) - 1 else "")
            for j, t in enumerate(tks)
        )
        for i, tks in enumerate(corpora)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    sigs = {
        r["doc_id"]: (r["sig_lo"], r["sig_hi"])
        for r in with_simhash_portable(df).collect()
    }
    want_sigs = {i: _ref_portable_simhash(t) for i, t in enumerate(texts)}
    assert sigs == want_sigs
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_portable(df, max_hamming=3).collect()
    )
    want = sorted(
        (a, b, h)
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
        for h in [
            bin(want_sigs[a][0] ^ want_sigs[b][0]).count("1")
            + bin(want_sigs[a][1] ^ want_sigs[b][1]).count("1")
        ]
        if h <= 3
    )
    assert got == want, (texts, got, want)


dedup_corpus_strategy = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(["x", "X ", "  x", "y z", "Y  Z", "w", ""]),
    ),
    min_size=1,
    max_size=24,
)


@given(dedup_corpus_strategy, st.integers(1, 4))
@SETTINGS
def test_dedup_incremental_fold_equals_one_pass(spark, texts, n_batches):
    """r13 invariant property: folding ANY ordered batch split through
    dedup_incremental equals one-pass dedup over the whole corpus, with a
    plain-Python reference for the expected survivor set. Exercises the
    adversarial identities the planted corpora don't: NULL texts (the
    sentinel fingerprint — NULL keys silently broke the cross-batch
    invariant pre-r13), empty strings, and case/whitespace collisions,
    under random batch boundaries (ordered ids, so first-seen == min-id)."""
    import re as _re

    from bigdata_etl_customer360_spark.operators.dedup import (
        dedup_exact,
        dedup_incremental,
        doc_fingerprints,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")

    def norm(t):
        if t is None:
            return None  # its own identity class, exactly one survivor
        return _re.sub(r"[ \t\r\n\x0B\f]+", " ", t.strip().lower())

    seen_keys, want = set(), []
    for i, t in rows:
        k = norm(t)
        if k not in seen_keys:
            seen_keys.add(k)
            want.append(i)

    cut = max(1, math.ceil(len(rows) / n_batches))
    seen, got = None, []
    for b in range(n_batches):
        batch = df.filter(
            (F.col("doc_id") >= b * cut) & (F.col("doc_id") < (b + 1) * cut)
        )
        s = dedup_incremental(batch, seen)
        got += [r["doc_id"] for r in s.collect()]
        fps = doc_fingerprints(s)
        seen = fps if seen is None else seen.unionByName(fps).distinct()
    one_pass = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert sorted(got) == one_pass == sorted(want), (texts, n_batches)


# --- lake maintenance invariance -------------------------------------------

_lake_batches = st.lists(
    st.lists(st.integers(0, 40), min_size=0, max_size=12),  # fp ids per batch
    min_size=1,
    max_size=4,
)
_lake_ops = st.lists(
    st.sampled_from(["none", "compact", "rebucket"]), min_size=4, max_size=4
)


@given(_lake_batches, _lake_ops)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lake_maintenance_preserves_set_semantics(
    spark, tmp_path_factory, batches, ops
):
    """Any interleaving of folds with compact_lake / rebucket_lake passes
    keeps the seen lake's SET semantics exactly: after every step the
    lake equals the distinct union of everything folded so far, stays
    duplicate-free (the only-new fold discipline), and a final anti-join
    suppresses exactly the folded fingerprints — the layout passes may
    change file counts and widths, never one row."""
    from bigdata_etl_customer360_spark.sources.bucketed import (
        compact_lake,
        rebucket_seen_lake,
        seen_fold_bucketed,
    )

    tmp = tmp_path_factory.mktemp("lake_prop")
    table = "lake_prop_t"
    path = str(tmp / "lake")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    folded: set[str] = set()
    width = 4
    try:
        for i, batch in enumerate(batches):
            fps = spark.createDataFrame(
                [(f"fp{x:04d}",) for x in batch] or [(None,)], "fp string"
            )
            seen_fold_bucketed(spark, table, fps, buckets=width, path=path)
            folded |= {f"fp{x:04d}" for x in batch}
            op = ops[i % len(ops)]
            if op == "compact" and folded:
                compact_lake(spark, table, path)
            elif op == "rebucket" and folded:
                width *= 2
                rebucket_seen_lake(spark, table, path, buckets=width)
            got = sorted(r["fp"] for r in spark.table(table).collect())
            assert got == sorted(folded), (i, op)
        probe = spark.createDataFrame(
            [(f"fp{x:04d}",) for x in range(45)], "fp string"
        )
        kept = {
            r["fp"]
            for r in probe.join(
                spark.table(table), on="fp", how="left_anti"
            ).collect()
        }
        assert kept == {f"fp{x:04d}" for x in range(45)} - folded
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
