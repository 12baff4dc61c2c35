"""Unit tests pinning the operator semantics SURVEY §5.2 calls out:
argmax tie priority, bucket boundary closures, concat null-skip,
deterministic top-k ties, union-by-name alignment, classifier fallbacks,
dedup/similarity edge cases, multimodal stub behavior.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdata_etl_customer360_spark.functions.expressions import (
    argmax_label,
    bucketize_expr,
    case_map,
    flag_concat,
)
from bigdata_etl_customer360_spark.operators.dedup import (
    dedup_exact,
    minhash_doc_sets,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    with_simhash,
)
from bigdata_etl_customer360_spark.operators.enrich import (
    BatchPromptClassifier,
    RuleClassifier,
    classify_column,
)
from bigdata_etl_customer360_spark.operators.multimodal import (
    binarize_text,
    extract_features,
    frame_sample,
)
from bigdata_etl_customer360_spark.operators.relational import (
    top_k_per_group,
    union_by_name,
)
from bigdata_etl_customer360_spark.operators.similarity import cosine_topk_brute


# --- scalar expressions ------------------------------------------------------

def test_argmax_tie_priority(spark):
    df = spark.createDataFrame([(5, 5, 1)], ["a", "b", "c"])
    # tie between a and b → first in priority order wins
    got = df.select(argmax_label(["b", "a", "c"], ["B", "A", "C"]).alias("x")).first()["x"]
    assert got == "B"


def test_flag_concat_skips_zero(spark):
    df = spark.createDataFrame([(0, 3, 2), (0, 0, 0)], ["a", "b", "c"])
    out = [r["x"] for r in df.select(flag_concat(["a", "b", "c"]).alias("x")).collect()]
    assert out == ["b-c", ""]


@pytest.mark.parametrize(
    "value,expected",
    [(3, "Low"), (9, "Low"), (10, "Medium"), (15, "Medium"), (20, "Medium"), (21, "High")],
)
def test_bucketize_reference_boundaries(spark, value, expected):
    # the reference's activeness rule: >20 High, 10<=x<=20 Medium, <10 Low
    # (ETL_customer_interaction.py:54-57) == boundaries [9,20] right-closed
    df = spark.createDataFrame([(value,)], ["v"])
    got = df.select(bucketize_expr("v", [9, 20], ["Low", "Medium", "High"]).alias("b"))
    assert got.first()["b"] == expected


def test_case_map_default_none_vs_literal(spark):
    df = spark.createDataFrame([("x",), ("zzz",)], ["k"])
    lit = df.select(case_map("k", {"x": "X"}, default="other").alias("v"))
    assert [r["v"] for r in lit.collect()] == ["X", "other"]
    nul = df.select(case_map("k", {"x": "X"}).alias("v"))
    assert [r["v"] for r in nul.collect()] == ["X", None]


# --- relational --------------------------------------------------------------

def test_top_k_deterministic_ties(spark):
    rows = [("u1", "b", 5), ("u1", "a", 5), ("u1", "c", 4), ("u2", "z", 1)]
    df = spark.createDataFrame(rows, ["k", "item", "cnt"])
    for _ in range(3):  # stable across replans
        top = top_k_per_group(
            df, ["k"], [F.col("cnt").desc(), F.col("item").asc()], k=1
        ).collect()
        got = {r["k"]: r["item"] for r in top}
        assert got == {"u1": "a", "u2": "z"}


def test_union_by_name_misaligned_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "val"])
    b = spark.createDataFrame([("y", 2)], ["val", "id"])  # reversed order
    got = union_by_name([a, b]).orderBy("id").collect()
    assert [(r["id"], r["val"]) for r in got] == [(1, "x"), (2, "y")]
    c = spark.createDataFrame([(3,)], ["id"])  # missing column
    got2 = union_by_name([a, c]).orderBy("id").collect()
    assert got2[1]["val"] is None


# --- enrichment --------------------------------------------------------------

def test_rule_classifier_first_match_order():
    import pandas as pd

    c = RuleClassifier({"A": ["foo"], "B": ["foobar", "baz"]}, fallback="Z")
    out = c.classify_batch(pd.Series(["foobar!", "contains baz", "nothing", None]))
    # 'foobar!' contains 'foo' → A wins (first rule), even though B also matches
    assert out.tolist() == ["A", "B", "Z", "Z"]


def test_batch_prompt_classifier_fallbacks():
    import json as _json

    calls = []

    def flaky_transport(prompt: str) -> str:
        calls.append(prompt)
        if len(calls) == 1:
            return "no json here"  # malformed → retry
        items = _json.loads(prompt[prompt.index("Items: ") + 7:])
        return _json.dumps(
            {k: ("Sports" if "ball" in k else "NotALabel") for k in items if k != "skipme"}
        )

    import pandas as pd

    c = BatchPromptClassifier(flaky_transport, labels=["Sports", "News"], retries=1)
    out = c.classify_batch(pd.Series(["football", "weird", "skipme", None]))
    # invalid label → fallback; missing key → fallback; null → fallback
    assert out.tolist() == ["Sports", "Other", "Other", "Other"]
    assert len(calls) == 2  # one failed call + one retry


def test_gemini_transport_request_shape_and_parse():
    """The concrete HTTP adapter, exercised offline via an injected
    urlopen-compatible opener: request build (URL, auth header, JSON
    body), response parse, and end-to-end use as a
    BatchPromptClassifier transport."""
    import contextlib
    import io
    import json as _json

    import pandas as pd
    import pytest

    from bigdata_etl_customer360_spark.operators.enrich import gemini_transport

    seen = {}

    def fake_opener(req, timeout=None):
        seen["url"] = req.full_url
        seen["key"] = req.get_header("X-goog-api-key")
        seen["body"] = _json.loads(req.data.decode("utf-8"))
        prompt = seen["body"]["contents"][0]["parts"][0]["text"]
        items = _json.loads(prompt[prompt.index("Items: ") + 7:])
        reply = _json.dumps({k: "Sports" for k in items})
        payload = _json.dumps(
            {"candidates": [{"content": {"parts": [{"text": reply}]}}]}
        ).encode("utf-8")
        return contextlib.closing(io.BytesIO(payload))

    t = gemini_transport(model="gemini-2.0-flash", api_key="k123", opener=fake_opener)
    c = BatchPromptClassifier(t, labels=["Sports", "News"])
    out = c.classify_batch(pd.Series(["football", None]))
    assert out.tolist() == ["Sports", "Other"]
    assert seen["url"].endswith("models/gemini-2.0-flash:generateContent")
    assert seen["key"] == "k123"

    with pytest.raises(ValueError, match="API key"):
        gemini_transport(api_key_env="C360_NO_SUCH_KEY_ENV")


def test_classify_column_null_keys_get_fallback(spark):
    df = spark.createDataFrame([("stream wars", 1), (None, 2)], ["text", "id"])
    c = RuleClassifier({"S": ["stream"]}, fallback="Other")
    got = {r["id"]: r["category"] for r in classify_column(df, "text", c).collect()}
    assert got == {1: "S", 2: "Other"}


# --- dedup -------------------------------------------------------------------

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog today"),
    (2, "  the QUICK brown   fox jumps over the lazy dog today "),  # exact dup of 1 (normalized)
    (3, "The quick brown fox jumps over the lazy cat today"),       # near-dup of 1
    (4, "completely different content about spark engines and scale"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(spark):
    kept = sorted(r["doc_id"] for r in dedup_exact(_docs_df(spark)).collect())
    assert kept == [1, 3, 4]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(_docs_df(spark), threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_agrees_with_exact_on_dups(spark):
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(_docs_df(spark), num_hashes=64, bands=32, threshold=0.3).collect()}
    # identical docs always collide in every band; verification is exact
    assert (1, 2) in got
    assert (1, 4) not in got


def test_minhash_max_df_keeps_near_dups(spark):
    # same shape as the ngram df-cap test: a boilerplate prefix shared by
    # ALL docs is capped out of the shingle space; true near-dups still
    # collide via their rarer shingles, boilerplate-only "pairs" vanish
    docs = [
        (1, "copyright footer text alpha beta gamma delta"),
        (2, "copyright footer text alpha beta gamma epsilon"),
        (3, "copyright footer text totally different body here"),
        (4, "copyright footer text another unrelated document body"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
        df, num_hashes=64, bands=32, threshold=0.3, max_df=2).collect()}
    assert (1, 2) in capped
    assert (3, 4) not in capped  # only shared boilerplate -> capped away
    # uncapped, the boilerplate inflates 3-4's Jaccard above the threshold
    uncapped = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
        df, num_hashes=64, bands=32, threshold=0.3).collect()}
    assert (1, 2) in uncapped


def test_minhash_without_docs_or_posts_raises_value_error():
    for fn in (minhash_doc_sets, minhash_lsh_pairs):
        with pytest.raises(ValueError, match="posts"):
            fn(None)


def test_simhash_identical_text_hamming_zero(spark):
    fp = {r["doc_id"]: r["simhash"] for r in with_simhash(_docs_df(spark)).collect()}
    assert fp[1] == fp[2]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(_docs_df(spark), max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one-word change stays in the Hamming ball


def test_simhash_portable_banding_equals_brute(spark):
    """The pigeonhole completeness law simhash_recall grades, pinned on
    BOTH hash families: banding over (max_hamming+1) blocks returns
    exactly the brute-force bit_count(xor) <= max_hamming pair set —
    the production xxhash64 path shares the machinery, so this test is
    the hash-family-independence leg of the certificate."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        simhash_pairs_portable,
        with_simhash_portable,
    )

    df = _docs_df(spark)
    fp = {
        r["doc_id"]: (r["sig_lo"], r["sig_hi"])
        for r in with_simhash_portable(df).collect()
    }
    assert fp[1] == fp[2]  # identical text -> identical fingerprint
    for lo, hi in fp.values():  # halves stay in non-negative 32-bit space
        assert 0 <= lo < (1 << 32) and 0 <= hi < (1 << 32)
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_portable(df, max_hamming=3).collect()
    )
    ids = sorted(fp)
    brute = sorted(
        (a, b, h)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        for h in [
            bin(fp[a][0] ^ fp[b][0]).count("1")
            + bin(fp[a][1] ^ fp[b][1]).count("1")
        ]
        if h <= 3
    )
    assert got == brute
    assert (1, 2, 0) in got


def test_simhash_tokenizer_engine_pinned_on_vertical_tab(spark):
    """ADVICE r11: Java \\s includes \\x0B, RE2 \\s does not — both sides
    now use the explicit class [ \\t\\r\\n\\x0B\\f]+ so a vertical-tab
    document tokenizes identically on Spark and in the DuckDB oracle.
    Pin (a) Spark: '\\x0B'-separated text fingerprints equal to the
    space-separated twin, (b) DuckDB: the oracle's split pattern (lifted
    from the committed oracle_sql) yields the same token list."""
    import re as _re

    import duckdb

    import __spark_entry__ as entry
    from bigdata_etl_customer360_spark.operators.dedup import (
        with_simhash,
        with_simhash_portable,
    )

    nasty = "alpha\x0bbeta\tgamma\ndelta\x0cepsilon"
    clean = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [(1, nasty), (2, clean)], schema="doc_id long, text string"
    )
    sig = {
        r["doc_id"]: (r["sig_lo"], r["sig_hi"])
        for r in with_simhash_portable(df).collect()
    }
    assert sig[1] == sig[2], "Spark explicit-class split diverges on \\x0B"
    xx = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    assert xx[1] == xx[2], "production xxhash64 family split diverges"
    # the pattern the oracle actually ships, not a re-typed copy
    m = _re.search(
        r"string_split_regex\(lower\(trim\(text\)\), '([^']+)'\)",
        entry.oracle_sql()["simhash_recall"],
    )
    assert m, "simhash_recall oracle split pattern not found"
    toks = duckdb.sql(
        "SELECT string_split_regex(lower(trim($t)), $p)",
        params={"t": nasty, "p": m.group(1)},
    ).fetchone()[0]
    assert toks == ["alpha", "beta", "gamma", "delta", "epsilon"]


def test_simhash_banding_parity_second_config(spark):
    """VERDICT r11 task 6b: banding==brute parity on the PRODUCTION
    xxhash64 family at a second (blocks, max_hamming) config — 8 blocks
    of 8 bits at max_hamming=7 — with planted near-pairs (one- and
    two-token edits of a 24-token base) so the Hamming ball is actually
    populated beyond hamming=0."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        simhash_pairs,
        with_simhash,
    )

    base = ("w%d" % i for i in range(24))
    base = list(base)
    texts = {1: " ".join(base), 2: " ".join(base)}
    edit1 = list(base)
    edit1[5] = "CHANGED"
    texts[3] = " ".join(edit1)
    edit2 = list(base)
    edit2[2], edit2[17] = "FOO", "BAR"
    texts[4] = " ".join(edit2)
    texts[5] = " ".join("z%d" % i for i in range(24))  # far-away doc
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], schema="doc_id long, text string"
    )
    fp = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    ids = sorted(fp)
    brute = sorted(
        (a, b, h)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        for h in [bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")]
        if h <= 7
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(df, max_hamming=7).collect()
    )
    assert got == brute
    assert (1, 2, 0) in got  # identical pair captured
    assert any(a == 1 and b == 3 for a, b, _ in got) or any(
        a == 1 and b == 4 for a, b, _ in got
    ), "planted near-edits all fell outside the Hamming ball — weak fixture"


def test_simhash_portable_rejects_unsplittable_blocks(spark):
    import pytest as _pytest

    from bigdata_etl_customer360_spark.operators.dedup import (
        simhash_pairs_portable,
    )

    with _pytest.raises(ValueError):
        simhash_pairs_portable(_docs_df(spark), max_hamming=2)


# --- similarity --------------------------------------------------------------

def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    vecs = {1: [1.0, 0.0, 0.0], 2: [0.9, 0.1, 0.0], 3: [0.0, 1.0, 0.0], 4: [0.5, 0.5, 0.0]}
    df = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in vecs.items()], ["vec_id", "embedding"]
    )
    got = cosine_topk_brute(df.filter(F.col("vec_id") == 1), df, k=2).collect()
    assert [r["neighbor_id"] for r in got] == [2, 4]
    a = np.array(vecs[1])
    for r in got:
        b = np.array(vecs[r["neighbor_id"]])
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert math.isclose(r["cosine"], expect, rel_tol=1e-5)


def test_topk_query_side_guard_refuses_oversized_broadcast(spark):
    """All three topk entry points broadcast the query side; a
    corpus-sized query frame must be refused, not OOM a cluster. The
    probe is limit(n+1).count(), so cost is bounded by the threshold."""
    import pytest

    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_brute,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], ["vec_id", "embedding"]
    )
    for fn in (cosine_topk_brute, cosine_topk_lsh, cosine_topk_ivf):
        with pytest.raises(ValueError, match="query side"):
            fn(df, df, k=2, max_query_rows=5)
    # at the bound it still runs
    assert cosine_topk_brute(df, df, k=1, max_query_rows=6).count() == 6


def test_ivf_full_probe_equals_brute(spark):
    """nprobe == num_centroids un-gates every candidate: IVF must equal
    brute force exactly (the graded ivf_full_probe invariant)."""
    from bigdata_etl_customer360_spark.operators.similarity import cosine_topk_ivf

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)
    brute = sorted(map(tuple, cosine_topk_brute(q, df, k=3).collect()))
    ivf = sorted(map(tuple, cosine_topk_ivf(
        q, df, k=3, num_centroids=8, nprobe=8, sample_size=40
    ).collect()))
    assert brute == ivf


# --- multimodal --------------------------------------------------------------

def test_multimodal_stub_and_sampling(spark):
    media = binarize_text(_docs_df(spark))
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 4
    for r in feats.values():
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert len(r["sha256"]) == 64
    again = {r["media_id"]: r for r in extract_features(media).collect()}
    assert {k: (v["width"], v["height"]) for k, v in feats.items()} == {
        k: (v["width"], v["height"]) for k, v in again.items()
    }  # deterministic
    assert frame_sample(media, every_n=2).count() == 2


def test_multimodal_real_decode_is_stubbed(spark):
    media = binarize_text(_docs_df(spark))
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(media, decode_stub=False).collect()


def test_multimodal_injected_opener_and_codec_resolution(spark):
    """The codec plug point: an injected opener rides the pickled closure
    to executors (same schema/plan as the stub, incl. null dims for
    undecodable payloads); codec='pil' fails fast on the driver when
    Pillow is absent; codec='auto' falls back to the stub."""
    media = binarize_text(_docs_df(spark))

    def opener(payload: bytes):
        if payload and payload[0] == 0:  # "corrupt" probe
            return None, None
        return len(payload or b""), 7

    feats = {r["media_id"]: r for r in extract_features(media, opener=opener).collect()}
    for r in feats.values():
        assert r["width"] == r["n_bytes"] and r["height"] == 7

    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    if not have_pil:
        with pytest.raises(ImportError, match="Pillow"):
            extract_features(media, codec="pil")
        # auto falls back to the stub silently
        auto = {r["media_id"]: r for r in extract_features(media, codec="auto").collect()}
        stub = {r["media_id"]: r for r in extract_features(media).collect()}
        assert {k: (v["width"], v["height"]) for k, v in auto.items()} == {
            k: (v["width"], v["height"]) for k, v in stub.items()
        }
    with pytest.raises(ValueError, match="unknown codec"):
        extract_features(media, codec="ffmpeg")


def test_multimodal_opener_null_dims_survive_schema(spark):
    media = binarize_text(_docs_df(spark))
    rows = extract_features(media, opener=lambda b: (None, None)).collect()
    assert len(rows) == 4 and all(
        r["width"] is None and r["height"] is None for r in rows
    )


# --- salted join / embedding dedup ------------------------------------------

def test_salted_join_equals_plain_join(spark):
    from bigdata_etl_customer360_spark.operators.relational import salted_join

    facts = spark.createDataFrame(
        [(1, 10.0)] * 50 + [(2, 5.0)] * 3 + [(3, 1.0)], ["k", "v"]  # skewed key 1
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], ["k", "name"])
    got = salted_join(facts, dim, "k").groupBy("k", "name").count().collect()
    want = facts.join(dim, "k").groupBy("k", "name").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    left = salted_join(facts, dim, "k", how="left")
    assert left.filter(F.col("name").isNull()).count() == 1  # key 3 preserved


def test_salted_join_deterministic_salt_on_column(spark):
    from bigdata_etl_customer360_spark.operators.relational import salted_join

    facts = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(60)] + [(100, 2, 0.5)], ["rid", "k", "v"]
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "name"])
    got = salted_join(facts, dim, "k", salt_on="rid")
    want = facts.join(dim, "k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # hash-derived salt actually spreads the hot key over many buckets
    n_buckets = (
        facts.filter(F.col("k") == 1)
        .select(F.pmod(F.xxhash64(F.col("rid"), F.lit(42)), F.lit(16)).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets > 4


def test_embedding_cosine_pairs_lsh_verifies_exact(spark):
    from bigdata_etl_customer360_spark.operators.dedup import embedding_cosine_pairs

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.98, 0.2, 0.0]),   # near-dup of 3
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_cosine_pairs(df, threshold=0.9, mode="exact").collect()}
    assert set(exact) == {(1, 2), (3, 4)}
    lsh = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_cosine_pairs(df, threshold=0.9, mode="lsh").collect()}
    # precision 1.0: every LSH pair is exact-verified with identical score
    for pair, cos in lsh.items():
        assert pair in exact and abs(cos - exact[pair]) < 1e-12


def test_embedding_cosine_exact_blocked_invariant(spark):
    """The blocked-matmul exact mode is a pure function of the data:
    identical output (pairs AND bit-exact scores) for any partitioning
    and any block count — blocking is a physical knob only."""
    from bigdata_etl_customer360_spark.operators.dedup import embedding_cosine_pairs

    vecs = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])

    def run(frame, nb):
        rows = embedding_cosine_pairs(frame, threshold=0.3, num_blocks=nb).collect()
        return sorted((r["id_a"], r["id_b"], r["cosine"]) for r in rows)

    base = run(df, 8)
    assert len(base) > 0
    assert all(a < b for a, b, _ in base)
    assert base == run(df.repartition(7), 8) == run(df, 1) == run(df, 3)


def test_bpe_token_count(spark):
    from bigdata_etl_customer360_spark.operators.textstats import with_token_count_bpe

    df = spark.createDataFrame([("Hello, world42! x", 1)], ["text", "id"])
    # Hello , world 42 ! x -> 6
    assert with_token_count_bpe(df).first()["n_bpe_tokens"] == 6


# --- sinks -------------------------------------------------------------------

def test_parquet_sink_roundtrip(spark, tmp_path):
    from bigdata_etl_customer360_spark.sources.sinks import write_parquet

    df = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], ["id", "v", "part"])
    out = str(tmp_path / "sink")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    assert sorted((r["id"], r["v"], r["part"]) for r in back.collect()) == [
        (1, "a", "x"), (2, "b", "y"),
    ]
    # overwrite mode replaces
    write_parquet(df.filter(F.col("id") == 1), out)
    assert spark.read.parquet(out).count() == 1


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """write_jdbc exercised end-to-end against the Derby embedded JDBC
    database bundled with Spark (same .write.format('jdbc') path a MySQL
    target uses — only url/driver differ). Covers append accumulation,
    overwrite replacement, and read-back fidelity."""
    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    from bigdata_etl_customer360_spark.sources.sinks import write_jdbc

    url = f"jdbc:derby:{tmp_path}/c360db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], ["id", "v", "score"]
    )

    def read_back():
        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("driver", driver)
            .option("dbtable", "profiles")
            .load()
        )
        return sorted((r["id"], r["v"], r["score"]) for r in back.collect())

    write_jdbc(df, url, "profiles", user="app", password="", driver=driver,
               mode="overwrite", num_partitions=1)
    assert read_back() == [(1, "a", 1.5), (2, "b", 2.5)]
    write_jdbc(df.filter(F.col("id") == 2), url, "profiles", user="app",
               password="", driver=driver, mode="append", num_partitions=1)
    assert read_back() == [(1, "a", 1.5), (2, "b", 2.5), (2, "b", 2.5)]
    write_jdbc(df.filter(F.col("id") == 1), url, "profiles", user="app",
               password="", driver=driver, mode="overwrite", num_partitions=1)
    assert read_back() == [(1, "a", 1.5)]


def test_ivf_scores_are_exact_for_returned_pairs(spark):
    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_brute,
        cosine_topk_ivf,
    )

    vecs = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 3)
    brute = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in cosine_topk_brute(q, df, k=30).collect()}
    ivf = cosine_topk_ivf(q, df, k=5, num_centroids=8, nprobe=8).collect()
    assert len(ivf) == 15  # nprobe == num_centroids -> full recall, 5 per query
    for r in ivf:
        assert abs(r["cosine"] - brute[(r["query_id"], r["neighbor_id"])]) < 1e-12


def test_ngram_jaccard_max_df_keeps_near_dups(spark):
    # boilerplate shingle shared by ALL docs is dropped by the df cap;
    # true near-dups still surface via their rarer shingles
    docs = [
        (1, "copyright footer text alpha beta gamma delta"),
        (2, "copyright footer text alpha beta gamma epsilon"),
        (3, "copyright footer text totally different body here"),
        (4, "copyright footer text another unrelated document body"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(df, threshold=0.3, max_df=2).collect()}
    assert (1, 2) in pairs
    assert (3, 4) not in pairs  # only shared boilerplate -> capped away


def test_extract_frames_stub(spark):
    from bigdata_etl_customer360_spark.operators.multimodal import extract_frames

    media = binarize_text(_docs_df(spark))
    rows = extract_frames(media, n_frames=3).collect()
    assert len(rows) == 12  # 4 docs x 3 frames
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, frames in by_media.items():
        assert sorted(f["frame_idx"] for f in frames) == [0, 1, 2]
        assert all(len(f["frame_sha256"]) == 64 for f in frames)


def test_hash_split_stable_under_growth(spark):
    from bigdata_etl_customer360_spark.operators.textstats import with_hash_split

    full = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    subset = full.filter(F.col("doc_id") < 500)
    s_full = {r["doc_id"]: r["split"] for r in with_hash_split(full, test_fraction=0.2).collect()}
    s_sub = {r["doc_id"]: r["split"] for r in with_hash_split(subset, test_fraction=0.2).collect()}
    assert all(s_full[k] == v for k, v in s_sub.items())  # growth never reshuffles splits
    frac = sum(1 for v in s_full.values() if v == "test") / len(s_full)
    assert 0.15 < frac < 0.25
    assert with_hash_split(full, test_fraction=0.0).filter(F.col("split") == "test").count() == 0
    # boundary clamp: 1.0 means ALL test (the 5-char "10000" threshold
    # would otherwise string-compare above only '0'-prefixed hashes)
    assert with_hash_split(full, test_fraction=1.0).filter(F.col("split") != "test").count() == 0


def test_ivf_centroid_fit_partition_independent(spark):
    """The kmeans sample is a deterministic function of the DATA (hash
    top-n), not of partitioning — so the whole IVF output must be
    identical across arbitrary repartitionings."""
    from bigdata_etl_customer360_spark.operators.similarity import cosine_topk_ivf

    vecs = [(i, [float((i * 13 + j * 5) % 17 - 8) for j in range(8)]) for i in range(300)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)

    def run(corpus):
        rows = cosine_topk_ivf(q, corpus, k=5, num_centroids=8, nprobe=2,
                               sample_size=64).collect()
        return sorted((r["query_id"], r["neighbor_id"], r["cosine"]) for r in rows)

    assert run(df) == run(df.repartition(7)) == run(df.repartition(3, "vec_id"))


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left row; ties
    at equal ts count as 'before'; no prior right row -> nulls; equal-ts
    right rows resolve to the greatest payload tuple (pinned)."""
    from bigdata_etl_customer360_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u2", 5, "c"), ("u3", 7, "d")],
        ["uid", "lts", "tag"],
    )
    right = spark.createDataFrame(
        # u1: two quotes before 10 (ts tie at 10 counts), one between 10/20;
        # u1 at ts=10 has TWO rows -> greatest (px, qid) tuple wins
        [("u1", 8, 100.0, 1), ("u1", 10, 50.0, 2), ("u1", 10, 60.0, 3),
         ("u1", 15, 70.0, 4), ("u2", 6, 30.0, 5)],
        ["uid", "rts", "px", "qid"],
    )
    out = asof_join(left, right, on="uid", left_ts="lts", right_ts="rts",
                    value_cols=["px", "qid"])
    got = {(r["uid"], r["lts"]): (r["rts_asof"], r["px_asof"], r["qid_asof"])
           for r in out.collect()}
    assert got[("u1", 10)] == (10, 60.0, 3)   # equal-ts tie: greatest payload
    assert got[("u1", 20)] == (15, 70.0, 4)
    assert got[("u2", 5)] == (None, None, None)  # right row is AFTER
    assert got[("u3", 7)] == (None, None, None)  # key never on right
    assert out.count() == 4  # left-outer: every left row survives
    # partition-independence
    again = asof_join(left.repartition(5), right.repartition(3), on="uid",
                      left_ts="lts", right_ts="rts", value_cols=["px", "qid"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_asof_join_null_payload_rows_stay_atomic(spark):
    """A right row with a NULL payload field must not stitch fields from
    an older row — the carried struct is row-atomic."""
    from bigdata_etl_customer360_spark.operators.temporal import asof_join

    left = spark.createDataFrame([("u1", 20)], ["uid", "lts"])
    right = spark.createDataFrame(
        [("u1", 5, 99.0, 1), ("u1", 10, None, 2)], ["uid", "rts", "px", "qid"]
    )
    row = asof_join(left, right, on="uid", left_ts="lts", right_ts="rts",
                    value_cols=["px", "qid"]).collect()[0]
    # latest row (ts=10) wins atomically: px is NULL, not 99.0 from ts=5
    assert (row["rts_asof"], row["px_asof"], row["qid_asof"]) == (10, None, 2)


def test_sample_n_per_group_deterministic(spark):
    from bigdata_etl_customer360_spark.operators.sampling import sample_n_per_group

    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(90)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = sample_n_per_group(df, "lang", 7, id_col="doc_id")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # exactly min(n, |stratum|) per stratum
    assert counts == {"en": 7, "fr": 7, "de": 7, "tiny": 1}
    # membership is a pure function of the data, not the partitioning
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, sample_n_per_group(
        df.repartition(11), "lang", 7, id_col="doc_id").collect()))
    assert a == b


def test_merge_upsert_semantics(spark):
    from bigdata_etl_customer360_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "bal"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (9, "new", 99.0)], ["k", "name", "bal"]
    )
    merged = {r["k"]: r for r in merge_upsert(target, updates, ["k"]).collect()}
    assert set(merged) == {1, 2, 3, 9}
    assert (merged[2]["name"], merged[2]["bal"]) == ("b2", 25.0)  # replaced
    assert merged[1]["bal"] == 10.0  # carried
    assert merged[9]["name"] == "new"  # inserted


def test_merge_upsert_idempotent(spark):
    from bigdata_etl_customer360_spark.operators.relational import merge_upsert

    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "bal"])
    updates = spark.createDataFrame([(2, 25.0)], ["k", "bal"])
    once = merge_upsert(target, updates, ["k"])
    twice = merge_upsert(once, updates, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_curate_corpus_decontaminate_stage(spark):
    from bigdata_etl_customer360_spark.plans.pipelines import curate_corpus

    mk = lambda i, txt: (i, txt, "en")
    filler = [
        mk(i, f"unique{i} filler words number {i} appear here repeatedly today")
        for i in range(10, 20)
    ]
    contaminated = mk(1, "alpha beta gamma delta epsilon zeta eta theta")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [contaminated] + filler, ["doc_id", "text", "lang"]
    )
    kept = curate_corpus(
        docs, min_tokens=3, jaccard_threshold=0.9,
        benchmark=bench, decontaminate_min_overlap=3,
    )
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 not in ids and ids == set(range(10, 20))


# ---------------------------------------------------------------------------
# scd2_history
# ---------------------------------------------------------------------------


def test_scd2_versions_chain_and_current_flag(spark):
    from datetime import datetime

    from bigdata_etl_customer360_spark.operators.temporal import scd2_history

    df = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1), "a"),
            (1, 11, datetime(2024, 1, 5), "b"),
            (1, 12, datetime(2024, 1, 9), "c"),
            (2, 20, datetime(2024, 2, 1), "x"),
        ],
        "k long, seq long, ts timestamp, attr string",
    )
    rows = {
        (r["k"], r["seq"]): r
        for r in scd2_history(df, key="k", ts="ts", seq_col="seq").collect()
    }
    # versions chain: each effective_to == the next version's effective_from
    assert rows[(1, 10)]["effective_to"] == rows[(1, 11)]["effective_from"]
    assert rows[(1, 11)]["effective_to"] == rows[(1, 12)]["effective_from"]
    # open-ended current rows
    assert rows[(1, 12)]["effective_to"] is None and rows[(1, 12)]["is_current"]
    assert rows[(2, 20)]["is_current"] and not rows[(1, 10)]["is_current"]


def test_scd2_same_timestamp_ties_pinned_by_seq(spark):
    from datetime import datetime

    from bigdata_etl_customer360_spark.operators.temporal import scd2_history

    t = datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(1, 2, t, "late"), (1, 1, t, "early")],
        "k long, seq long, ts timestamp, attr string",
    )
    rows = {r["seq"]: r for r in scd2_history(df, "k", "ts", "seq").collect()}
    # same-ts updates order by seq: seq=1 closes, seq=2 is current
    assert rows[1]["effective_to"] == t and not rows[1]["is_current"]
    assert rows[2]["is_current"]


def test_scd2_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.temporal import scd2_history
    from bigdata_etl_customer360_spark.sources.testdata import load_table

    ev = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .filter(F.col("event_type") == "signup")
        .select("user_id", "event_id", "ts")
    )
    a = scd2_history(ev, "user_id", "ts", "event_id").orderBy("user_id", "event_id")
    b = scd2_history(ev.repartition(7), "user_id", "ts", "event_id").orderBy(
        "user_id", "event_id"
    )
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


# ---------------------------------------------------------------------------
# top_terms (keyword extraction)
# ---------------------------------------------------------------------------


def test_top_terms_rank_and_tiebreak(spark):
    from bigdata_etl_customer360_spark.operators.textstats import top_terms

    df = spark.createDataFrame(
        [
            # doc 1: 'b' tf=3; 'a' and 'c' tie at tf=2 -> df breaks the tie
            # ('c' appears in 1 doc, 'a' in 2 docs -> 'c' ranks above 'a')
            (1, "b b b a a c c"),
            (2, "a zz"),
        ],
        "doc_id long, text string",
    )
    out = top_terms(df, k=2).collect()
    d1 = sorted(
        [(r["term"], r["rank"]) for r in out if r["doc_id"] == 1], key=lambda t: t[1]
    )
    assert d1 == [("b", 1), ("c", 2)]


def test_top_terms_max_df_drops_boilerplate(spark):
    from bigdata_etl_customer360_spark.operators.textstats import top_terms

    df = spark.createDataFrame(
        [(i, "common rare%d" % i) for i in range(5)],
        "doc_id long, text string",
    )
    out = top_terms(df, k=5, max_df=4).collect()
    # 'common' has df=5 > 4 -> dropped everywhere; each doc keeps its rare term
    assert all(r["term"] != "common" for r in out)
    assert len(out) == 5 and all(r["rank"] == 1 for r in out)


def test_top_terms_empty_and_whitespace_docs(spark):
    from bigdata_etl_customer360_spark.operators.textstats import top_terms

    df = spark.createDataFrame(
        [(1, "only words"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = top_terms(df, k=3).collect()
    assert {r["doc_id"] for r in out} == {1}


def test_top_terms_vertical_tab_matches_re2_semantics(spark):
    """\\x0B is whitespace to Java \\s but NOT to RE2 (the DuckDB oracle);
    the tokenizer uses an explicit class so both sides split identically —
    here \\x0B must act as a separator because the class includes it."""
    from bigdata_etl_customer360_spark.operators.textstats import top_terms

    df = spark.createDataFrame([(1, "alpha\x0bbeta alpha")], "doc_id long, text string")
    out = {r["term"]: r["tf"] for r in top_terms(df, k=5).collect()}
    assert out == {"alpha": 2, "beta": 1}


def test_skew_profile_counts_share_and_rank(spark):
    from bigdata_etl_customer360_spark.operators.quality import skew_profile

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    rows = {r["rank"]: r for r in skew_profile(df, ["k"], top_k=2).collect()}
    assert rows[1]["k"] == "a" and rows[1]["cnt"] == 6
    assert rows[2]["k"] == "b" and rows[2]["cnt"] == 3
    assert all(r["total_rows"] == 10 for r in rows.values())
    assert rows[1]["share_bp"] == 6000 and rows[2]["share_bp"] == 3000
    assert len(rows) == 2  # top_k honored


def test_skew_profile_tiebreak_and_partition_independence(spark):
    from bigdata_etl_customer360_spark.operators.quality import skew_profile

    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",), ("b",), ("c",)], "k string")
    base = [tuple(r) for r in skew_profile(df, ["k"], top_k=3).collect()]
    shuf = [tuple(r) for r in skew_profile(df.repartition(7), ["k"], top_k=3).collect()]
    assert base == shuf
    # all tie at cnt=2 -> key ASC breaks: a, b, c
    assert [t[0] for t in sorted(base, key=lambda t: t[2])] == ["a", "b", "c"]


def test_skew_profile_null_key_ranks_last_on_tie(spark):
    """ASC NULLS LAST pin: Spark's ASC default puts NULL first, ANSI's
    puts it last — a NULL key tying at the boundary must rank after the
    non-null keys so both engines agree (ADVICE r4)."""
    from bigdata_etl_customer360_spark.operators.quality import skew_profile

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), ("z",), ("z",)], "k string"
    )
    rows = {r["rank"]: r["k"] for r in skew_profile(df, ["k"], top_k=3).collect()}
    assert rows == {1: "a", 2: "z", 3: None}


def test_profile_table_empty_columns_returns_empty_report(spark):
    from bigdata_etl_customer360_spark.operators.quality import profile_table

    df = spark.createDataFrame([(1,)], "x long")
    for exact in (True, False):
        out = profile_table(df, columns=[], exact_distinct=exact)
        assert out.count() == 0
        assert out.columns == [
            "column", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"
        ]


def test_build_vocab_rank_mincount_cap(spark):
    from bigdata_etl_customer360_spark.operators.textstats import build_vocab

    df = spark.createDataFrame(
        [(1, "x x x y y z"), (2, "y x w")], "doc_id long, text string"
    )
    # counts: x=4 y=3 z=1 w=1
    full = {r["term"]: r for r in build_vocab(df).collect()}
    assert full["x"]["term_id"] == 0 and full["y"]["term_id"] == 1
    assert {full["w"]["term_id"], full["z"]["term_id"]} == {2, 3}
    assert full["w"]["term_id"] == 2  # cnt tie -> term ASC
    pruned = {r["term"] for r in build_vocab(df, min_count=2).collect()}
    assert pruned == {"x", "y"}
    capped = {r["term"] for r in build_vocab(df, max_vocab=1).collect()}
    assert capped == {"x"}


def test_build_vocab_global_rank_limit_pushed_below_window(spark):
    """max_vocab must NOT sort the whole vocab on one core. Catalyst has
    two rewrites that guarantee it — LimitPushDownThroughWindow (the
    rank filter becomes a per-partition-then-global top-k BELOW the
    window, usually a TakeOrderedAndProject) or InferWindowGroupLimit
    (WindowGroupLimit node) — and both only fire when the predicate is on
    the RAW row_number column, which is why the cap filters _rn and not
    the term_id alias."""
    from bigdata_etl_customer360_spark.operators.quality import skew_profile
    from bigdata_etl_customer360_spark.operators.textstats import build_vocab

    def _pushed(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert _pushed(build_vocab(df, max_vocab=10))
    assert _pushed(skew_profile(df.select(F.col("text").alias("k")), ["k"], top_k=5))


def test_strip_boilerplate_drops_heavy_keeps_rare_and_order(spark):
    from bigdata_etl_customer360_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    rows = [(i, f"unique head {i}\nfooter line\nunique tail {i}") for i in range(3)]
    rows.append((99, "solo doc\n\nfooter line"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(df, min_docs=3).collect()
    }
    # 'footer line' in 4 docs >= 3 -> stripped everywhere, order preserved
    assert out[0]["cleaned"] == "unique head 0\nunique tail 0"
    assert out[0]["n_removed"] == 1
    # empty line survives (never counted as boilerplate)
    assert out[99]["cleaned"] == "solo doc\n"
    assert out[99]["n_removed"] == 1


def test_strip_boilerplate_own_repeats_count_once(spark):
    from bigdata_etl_customer360_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    # 'echo' appears 3x in ONE doc -> df=1 < 2 -> kept (distinct-per-doc rule)
    df = spark.createDataFrame(
        [(1, "echo\necho\necho"), (2, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, min_docs=2).collect()}
    assert out[1]["cleaned"] == "echo\necho\necho" and out[1]["n_removed"] == 0


def test_strip_boilerplate_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    rows = [(i, f"a{i}\ncommon\nb{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = [tuple(r) for r in strip_boilerplate_lines(df, min_docs=5).orderBy("doc_id").collect()]
    b = [
        tuple(r)
        for r in strip_boilerplate_lines(df.repartition(7), min_docs=5)
        .orderBy("doc_id")
        .collect()
    ]
    assert a == b and all(t[-1] == 1 for t in a)


def test_repeated_ngram_stats_counts_and_edges(spark):
    from bigdata_etl_customer360_spark.operators.curation import repeated_ngram_stats

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now"),  # bigrams: 'buy now'x3, 'now buy'x2
            (2, "one"),                       # <2 words -> (0, 0)
            (3, "two words"),                 # exactly one bigram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repeated_ngram_stats(df, n=2).collect()}
    assert out[1]["total_ngrams"] == 5 and out[1]["top_ngram_count"] == 3
    assert out[2]["total_ngrams"] == 0 and out[2]["top_ngram_count"] == 0
    assert out[3]["total_ngrams"] == 1 and out[3]["top_ngram_count"] == 1


def test_scd2_rejects_colliding_output_names(spark):
    import pytest

    from bigdata_etl_customer360_spark.operators.temporal import scd2_history

    df = spark.createDataFrame(
        [(1, 10, 1, True)], "k long, ts long, seq long, is_current boolean"
    )
    with pytest.raises(ValueError, match="is_current"):
        scd2_history(df, key="k", ts="ts", seq_col="seq")


# ---------------------------------------------------------------------------
# quality: profile_table / check_constraints
# ---------------------------------------------------------------------------


def test_profile_table_nulls_distinct_minmax(spark):
    from bigdata_etl_customer360_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "x long, s string"
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["x"]["n_rows"] == 4 and prof["x"]["n_nulls"] == 1
    assert prof["x"]["n_distinct"] == 2  # distinct excludes nulls
    assert prof["x"]["min_val"] == "1" and prof["x"]["max_val"] == "2"
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2


def test_profile_table_approx_mode_runs_one_pass(spark):
    from bigdata_etl_customer360_spark.operators.quality import profile_table

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 10).alias("m"))
    prof = {r["column"]: r for r in profile_table(df, exact_distinct=False).collect()}
    # HLL is approximate but tight at this cardinality
    assert abs(prof["id"]["n_distinct"] - 1000) < 60
    assert prof["m"]["n_distinct"] == 10
    # the approx plan must NOT contain Expand (that's the point of the knob)
    plan = profile_table(df, exact_distinct=False)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_check_constraints_null_semantics_and_counts(spark):
    from bigdata_etl_customer360_spark.operators.quality import check_constraints

    df = spark.createDataFrame(
        [(1, "O", 5.0), (None, "X", -1.0), (1, None, None)],
        "k long, st string, v double",
    )
    out = {r["check"]: r for r in check_constraints(
        df,
        not_null=["k"],
        accepted_values={"st": ["O", "F"]},
        ranges={"v": (0.0, 10.0)},
        unique=[["k"]],
    ).collect()}
    assert out["not_null:k"]["violations"] == 1
    # NULL status is NOT an accepted value -> violation (coalesce False)
    assert out["accepted_values:st"]["violations"] == 2
    # NULL value fails the range check too
    assert out["range:v"]["violations"] == 2
    # k=1 twice -> one row beyond the first; NULL key groups as its own key
    assert out["unique:k"]["violations"] == 1
    assert not out["unique:k"]["passed"]


def test_check_constraints_foreign_key_orphans(spark):
    from bigdata_etl_customer360_spark.operators.quality import check_constraints

    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    out = check_constraints(
        child, foreign_keys=[("fk", parent, "pk")]
    ).collect()
    assert len(out) == 1
    # NULL fk is not an orphan (SQL FK semantics); 9 is
    assert out[0]["violations"] == 1 and not out[0]["passed"]


def test_check_constraints_no_checks_empty_report(spark):
    from bigdata_etl_customer360_spark.operators.quality import check_constraints

    df = spark.range(3)
    out = check_constraints(df)
    assert out.columns == ["check", "violations", "passed"]
    assert out.count() == 0


def test_weighted_sample_extremes_and_determinism(spark):
    from bigdata_etl_customer360_spark.operators.sampling import weighted_sample

    df = spark.range(0, 400).select(F.col("id").alias("doc_id"))
    allkeep = weighted_sample(df.withColumn("w", F.lit(1.0)), "w")
    assert allkeep.count() == 400
    nokeep = weighted_sample(df.withColumn("w", F.lit(0.0)), "w")
    assert nokeep.count() == 0
    # negative / >1 weights clamp
    assert weighted_sample(df.withColumn("w", F.lit(2.5)), "w").count() == 400
    assert weighted_sample(df.withColumn("w", F.lit(-1.0)), "w").count() == 0
    half = weighted_sample(df.withColumn("w", F.lit(0.5)), "w")
    n = half.count()
    assert 140 <= n <= 260  # uniform hash -> binomial(400, .5), wide bound
    again = weighted_sample(
        df.repartition(7).withColumn("w", F.lit(0.5)), "w"
    )
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in half.collect()
    )


def test_weighted_sample_rate_tracks_weight(spark):
    from bigdata_etl_customer360_spark.operators.sampling import weighted_sample

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10 / 10.0).alias("w")
    )
    kept = weighted_sample(df, "w").groupBy("w").count().collect()
    rates = {round(r["w"], 1): r["count"] / 100.0 for r in kept}
    for w, rate in rates.items():
        assert abs(rate - w) < 0.2, (w, rate)


def test_session_window_boundary_touch_merges(spark):
    """Pin the boundary semantics the session_window oracle encodes: the
    per-event windows [ts, ts+gap) merge when they overlap OR TOUCH, so a
    gap of exactly 30min is ONE session (break only at diff > gap — the
    same boundary as the lag/cumsum twin), and a merged window ends at
    last_event_ts + gap; one microsecond past the gap splits."""
    from datetime import datetime

    from bigdata_etl_customer360_spark.streaming.stateful import sessionize_batch

    rows = [
        (1, datetime(2022, 1, 1, 10, 0, 0), 1.0),
        (1, datetime(2022, 1, 1, 10, 30, 0), 2.0),  # exactly 1800s later
        (2, datetime(2022, 1, 1, 10, 0, 0), 1.0),
        (2, datetime(2022, 1, 1, 10, 30, 0, 1), 2.0),  # 1800s + 1us
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    native = df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").count()
    per_user = {r["user_id"]: 0 for r in native.collect()}
    for r in native.collect():
        per_user[r["user_id"]] += 1
    assert per_user == {1: 1, 2: 2}
    ends = {r["user_id"]: r["w"]["end"] for r in native.collect() if r["user_id"] == 1}
    assert ends[1] == datetime(2022, 1, 1, 11, 0, 0)  # last event + gap
    lag_twin = sessionize_batch(df, gap_seconds=1800)
    assert lag_twin.filter(F.col("user_id") == 1).count() == 1
    assert lag_twin.filter(F.col("user_id") == 2).count() == 2


def test_encode_docs_ids_order_oov_and_empty(spark):
    from bigdata_etl_customer360_spark.operators.textstats import (
        build_vocab,
        encode_docs,
    )

    df = spark.createDataFrame(
        [(1, "b a b zz"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    vocab = build_vocab(df, min_count=2)  # counts: b=2 a=2 zz=1 -> a:0, b:1
    out = {r["doc_id"]: r for r in encode_docs(df, vocab).collect()}
    assert list(out[1]["token_ids"]) == [1, 0, 1, -1]  # order kept, OOV=-1
    assert out[1]["n_tokens"] == 4
    assert list(out[2]["token_ids"]) == [0]
    assert list(out[3]["token_ids"]) == [] and out[3]["n_tokens"] == 0


def test_encode_docs_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.textstats import (
        build_vocab,
        encode_docs,
    )

    df = spark.createDataFrame(
        [(i, f"w{i % 5} common w{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    vocab = build_vocab(df, min_count=2)
    a = [
        (r["doc_id"], list(r["token_ids"]))
        for r in encode_docs(df, vocab).orderBy("doc_id").collect()
    ]
    b = [
        (r["doc_id"], list(r["token_ids"]))
        for r in encode_docs(df.repartition(7), vocab).orderBy("doc_id").collect()
    ]
    assert a == b


def test_lang_id_chargram_detects_and_tiebreaks(spark):
    from bigdata_etl_customer360_spark.operators.textstats import (
        with_lang_id_chargram,
    )

    df = spark.createDataFrame(
        [
            (1, "the thing and the singing"),        # en trigrams dominate
            (2, "ich bin der schneider"),             # de
            (3, "xyz"),                               # no profile hits
            (4, ""),                                  # shorter than a trigram
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in with_lang_id_chargram(df).collect()}
    assert got[1] == "en" and got[2] == "de"
    assert got[3] == "unknown" and got[4] == "unknown"


def test_lang_id_chargram_counts_occurrences_not_presence(spark):
    from bigdata_etl_customer360_spark.operators.textstats import (
        with_lang_id_chargram,
    )

    # 'ent' is in es AND fr profiles; 'les' only fr. One 'les' + one 'ent'
    # -> fr=2 beats es=1 (occurrence counting, alphabetical tie otherwise)
    df = spark.createDataFrame([(1, "lesent")], "doc_id long, text string")
    got = with_lang_id_chargram(df).first()["lang_pred"]
    assert got == "fr"


class TestMaintainRollup:
    MEASURES = [
        ("total", "sum", "v"),
        ("n", "count", "*"),
        ("n_v", "count", "v"),
        ("lo", "min", "v"),
        ("hi", "max", "v"),
        ("mean", "avg", "v"),
    ]

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, schema="k string, v decimal(18,2)")

    def test_fold_equals_full_recompute_any_order(self, spark):
        from decimal import Decimal

        from bigdata_etl_customer360_spark.operators.rollup import (
            maintain_rollup,
            rollup_finalize,
            rollup_state,
        )

        rows = [
            ("a", Decimal("1.10")), ("a", Decimal("2.20")), ("a", None),
            ("b", Decimal("5.00")), ("b", Decimal("-3.25")),
            ("c", Decimal("0.00")),
        ]
        full = rollup_finalize(
            rollup_state(self._df(spark, rows), ["k"], self.MEASURES),
            ["k"], self.MEASURES,
        )
        want = sorted(map(tuple, full.collect()))
        # three slices folded in a scrambled order
        slices = [rows[4:], rows[:2], rows[2:4], []]
        state = None
        for sl in slices:
            state = maintain_rollup(
                state, self._df(spark, sl), ["k"], self.MEASURES
            )
        got = sorted(
            map(tuple, rollup_finalize(state, ["k"], self.MEASURES).collect())
        )
        assert got == want
        by_k = {t[0]: t for t in got}
        # count(*) counts the NULL row, count(v) and avg skip it
        assert by_k["a"][1:4] == (Decimal("3.30"), 3, 2)
        assert by_k["a"][6] == pytest.approx(1.65)

    def test_validations(self, spark):
        from bigdata_etl_customer360_spark.operators.rollup import rollup_state

        df = self._df(spark, [("a", None)])
        with pytest.raises(ValueError, match="at least one measure"):
            rollup_state(df, ["k"], [])
        with pytest.raises(ValueError, match="duplicate"):
            rollup_state(df, ["k"], [("x", "sum", "v"), ("x", "max", "v")])
        with pytest.raises(ValueError, match="unknown kind"):
            rollup_state(df, ["k"], [("x", "median", "v")])


class TestAdaptiveJoin:
    def _frames(self, spark, hot_share):
        n = 2000
        hot = int(n * hot_share)
        rows = [(1 if i < hot else (i % 500) + 1, float(i)) for i in range(n)]
        fact = spark.createDataFrame(rows, schema="k long, v double")
        dim = spark.createDataFrame(
            [(i + 1, f"d{i + 1}") for i in range(500)], schema="k long, name string"
        )
        return fact, dim

    def test_planted_hot_key_flips_to_salted(self, spark):
        from bigdata_etl_customer360_spark.operators.relational import (
            adaptive_join,
            choose_join_strategy,
        )

        fact, dim = self._frames(spark, hot_share=0.5)
        strat, stats = choose_join_strategy(
            fact, dim, "k", broadcast_max_rows=100, skew_share_bp=100
        )
        assert strat == "salted" and stats["top_share_bp"] >= 5000
        out = adaptive_join(
            fact, dim, "k", broadcast_max_rows=100, skew_share_bp=100
        )
        assert "_salt" in out._jdf.queryExecution().optimizedPlan().toString()
        # parity with the plain join
        want = sorted(map(tuple, fact.join(dim, on="k").collect()))
        assert sorted(map(tuple, out.collect())) == want

    def test_uniform_keys_stay_plain(self, spark):
        from bigdata_etl_customer360_spark.operators.relational import (
            adaptive_join,
            choose_join_strategy,
        )

        fact, dim = self._frames(spark, hot_share=0.0)
        strat, stats = choose_join_strategy(
            fact, dim, "k", broadcast_max_rows=100, skew_share_bp=100
        )
        # uniform: heaviest of 500 keys holds 1/500 = 20bp < 100bp
        assert strat == "plain" and stats["top_share_bp"] < 100
        out = adaptive_join(
            fact, dim, "k", broadcast_max_rows=100, skew_share_bp=100
        )
        qe = out._jdf.queryExecution()
        assert "_salt" not in qe.optimizedPlan().toString()
        assert "ResolvedHint" not in qe.analyzed().toString()

    def test_small_dim_broadcasts_regardless_of_skew(self, spark):
        from bigdata_etl_customer360_spark.operators.relational import (
            adaptive_join,
            choose_join_strategy,
        )

        fact, dim = self._frames(spark, hot_share=0.5)
        strat, stats = choose_join_strategy(
            fact, dim, "k", broadcast_max_rows=1000, skew_share_bp=100
        )
        # dim fits the cap: broadcast wins and the fact is never profiled
        assert strat == "broadcast" and stats["top_share_bp"] is None
        out = adaptive_join(
            fact, dim, "k", broadcast_max_rows=1000, skew_share_bp=100
        )
        assert "ResolvedHint" in out._jdf.queryExecution().analyzed().toString()


def test_extract_frames_injected_opener_real_container(spark):
    """Real-decode path (VERDICT r5 #7): a synthesized concatenated-PNG
    container goes through the injected png_concat_opener — frames split
    on the signature, even down-sampling when the container holds more
    than n_frames, pass-through when fewer, stub path untouched."""
    import hashlib

    from bigdata_etl_customer360_spark.operators.multimodal import (
        PNG_MAGIC,
        extract_frames,
        png_concat_opener,
    )

    frames6 = [PNG_MAGIC + bytes([i]) * 8 for i in range(6)]
    frames2 = [PNG_MAGIC + b"xy", PNG_MAGIC + b"zw"]
    df = spark.createDataFrame(
        [
            (1, b"".join(frames6), "video/x-png-seq", 0),
            (2, b"".join(frames2), "video/x-png-seq", 0),
            (3, b"not a container", "application/octet-stream", 0),
        ],
        schema="media_id long, payload binary, mime string, n_bytes long",
    )
    out = extract_frames(df, n_frames=4, opener=png_concat_opener)
    got = {}
    for r in out.collect():
        got.setdefault(r["media_id"], []).append(r)
    # 6-frame container sampled evenly to 4: indices 0,1,3,4 (i*6//4)
    a = sorted(got[1], key=lambda r: r["frame_idx"])
    assert [bytes(r["frame_bytes"]) for r in a] == [
        frames6[0], frames6[1], frames6[3], frames6[4]
    ]
    assert all(
        r["frame_sha256"] == hashlib.sha256(bytes(r["frame_bytes"])).hexdigest()
        for r in a
    )
    # 2-frame container passes through unsampled
    b = sorted(got[2], key=lambda r: r["frame_idx"])
    assert [bytes(r["frame_bytes"]) for r in b] == frames2
    # non-container payload: opener yields no frames -> no rows
    assert 3 not in got


def test_standardize_exact_moments_and_guards(spark):
    from decimal import Decimal

    from bigdata_etl_customer360_spark.operators.quality import standardize

    rows = [("a", Decimal("1.00")), ("a", Decimal("2.00")), ("a", Decimal("3.00")),
            ("a", None),                                      # NULL skipped
            ("b", Decimal("5.00")), ("b", Decimal("5.00")),  # zero variance
            ("c", Decimal("9.00"))]                           # n < 2
    df = spark.createDataFrame(rows, schema="k string, v decimal(18,2)")
    got = {(r["k"], float(r["v"]) if r["v"] is not None else None): r["v_z"]
           for r in standardize(df, ["v"], by=["k"]).collect()}
    # NULL row excluded from the moments: mean stays 2, z exact +-1
    assert got[("a", 1.0)] == -1.0 and got[("a", 2.0)] == 0.0 and got[("a", 3.0)] == 1.0
    assert got[("a", None)] is None
    assert got[("b", 5.0)] is None  # zero variance -> NULL, not NaN
    assert got[("c", 9.0)] is None  # n < 2
    # global mode: one broadcast stats row, every input column kept
    out = standardize(df, ["v"]).columns
    assert out == ["k", "v", "v_z"]
    with pytest.raises(ValueError, match="at least one"):
        standardize(df, [])
    # reserved-name collision raises up front, not at analysis time
    with pytest.raises(ValueError, match="_sn_0"):
        standardize(df.withColumn("_sn_0", F.lit(1)), ["v"], by=["k"])


def test_winsorize_rank_bounds_and_clamp(spark):
    from bigdata_etl_customer360_spark.operators.quality import winsorize

    rows = [("a", float(v)) for v in range(1, 11)]  # 1..10
    rows += [("b", 100.0), ("b", 200.0)]
    df = spark.createDataFrame(rows, schema="k string, v double")
    # p_lo=0.15 -> ceil(1.5)=rank 2 -> lo=2; p_hi=0.85 -> ceil(8.5)=rank 9 -> hi=9
    got = {(r["k"], r["v"]): r["v_w"]
           for r in winsorize(df, "v", by=["k"], p_lo=0.15, p_hi=0.85).collect()}
    assert got[("a", 1.0)] == 2.0 and got[("a", 10.0)] == 9.0
    assert got[("a", 5.0)] == 5.0
    # tiny group: ranks clamp to members (lo=rank1=100, hi=ceil(1.7)=rank2=200)
    assert got[("b", 100.0)] == 100.0 and got[("b", 200.0)] == 200.0
    import pytest as _pt
    with _pt.raises(ValueError, match="p_lo"):
        winsorize(df, "v", p_lo=0.9, p_hi=0.1)
    # reserved-name collision raises up front, not at analysis time
    with _pt.raises(ValueError, match="_lo"):
        winsorize(df.withColumn("_lo", F.lit(0.0)), "v", by=["k"])


def test_bpe_train_matches_pure_python_reference(spark):
    """bpe_train has no SQL twin (iterative) — the exactness gate is a
    pure-Python reference BPE (count weighted adjacent pairs, argmax with
    (count desc, left, right) ties, greedy non-chaining left-to-right
    merge) run on the same corpus: merge tables must be identical."""
    from collections import Counter

    from bigdata_etl_customer360_spark.operators.textstats import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "widest wide wider wide",
        "low new wide lowest",
    ]

    def ref_bpe(texts, k, min_count=2):
        vocab = Counter()
        for t in texts:
            for w in t.lower().split():
                vocab[tuple(w)] += 1
        merges = []
        for rank in range(k):
            pairs = Counter()
            for syms, n in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += n
            if not pairs:
                break
            (l, r), c = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if c < min_count:
                break
            merges.append((rank, l, r, l + r, c))
            new_vocab = Counter()
            for syms, n in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r); i += 2
                    else:
                        out.append(syms[i]); i += 1
                new_vocab[tuple(out)] += n
            vocab = new_vocab
        return merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["score"])
        for r in bpe_train(docs, num_merges=12).orderBy("rank").collect()
    ]
    want = ref_bpe(texts, 12)
    assert got == want
    assert len(got) >= 6  # the corpus supports a non-trivial merge table
    # the fully distributed fallback path (forced via threshold=0) must
    # produce the identical merge table
    dist = [
        (r["rank"], r["left"], r["right"], r["merged"], r["score"])
        for r in bpe_train(docs, num_merges=12, driver_vocab_threshold=0)
        .orderBy("rank")
        .collect()
    ]
    assert dist == want


def test_normalize_embeddings_unit_norm_and_zero_guard(spark):
    import math

    from bigdata_etl_customer360_spark.operators.similarity import (
        normalize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [2.0, 0.0])],
        schema="vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in normalize_embeddings(df).collect()}
    assert got[1]["l2_norm"] == 5.0
    assert got[1]["normalized"] == [0.6, 0.8]
    assert got[2]["normalized"] is None  # zero norm -> NULL, not NaN
    assert got[3]["normalized"] == [1.0, 0.0]
    assert math.isclose(
        sum(v * v for v in got[1]["normalized"]), 1.0, rel_tol=1e-12
    )


def test_embedding_centroids_quantized_exact_and_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.similarity import (
        embedding_centroids,
    )

    rows = [("a", [1.0, -2.0]), ("a", [3.0, 6.0]), ("b", [0.5, 0.25])]
    df = spark.createDataFrame(rows, schema="label string, embedding array<double>")
    got = {(r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
           for r in embedding_centroids(df, group_col="label").collect()}
    # exactly-representable values: quantization is lossless here
    assert got[("a", 0)] == (2.0, 2) and got[("a", 1)] == (2.0, 2)
    assert got[("b", 0)] == (0.5, 1) and got[("b", 1)] == (0.25, 1)
    a = sorted(embedding_centroids(df, group_col="label").collect())
    b = sorted(embedding_centroids(df.repartition(7), group_col="label").collect())
    assert a == b


def test_kmeans_fit_matches_numpy_reference(spark):
    """Distributed Lloyd's == a numpy mirror of the same quantized
    arithmetic (init: first-k-distinct by id over the full small sample;
    assignment: argmin squared euclidean, first-occurrence ties; update:
    floor(x*2^20) int sums / 2^20 / n), exact to the last bit."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(7)
    pts = np.vstack(
        [
            rng.normal(0.0, 0.05, (20, 4)) + np.array([1, 0, 0, 0]),
            rng.normal(0.0, 0.05, (20, 4)) + np.array([0, 1, 0, 0]),
            rng.normal(0.0, 0.05, (20, 4)) + np.array([0, 0, 1, 0]),
        ]
    )
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    got = {
        (r["cluster"], r["dim"]): (r["centroid"], r["n_vecs"])
        for r in kmeans_fit(df, k=3, max_iterations=4, sample_size=1000).collect()
    }

    def ref(pts, k, iters, qbits=20):
        from bigdata_etl_customer360_spark.operators.similarity import (
            _farthest_point_init,
        )

        scale = float(1 << qbits)
        # id order == sample order here; same deterministic seeding
        C = np.array(_farthest_point_init(pts, k, scale), dtype="float64")
        n_by = {}
        Vq = np.floor(pts * scale).astype("int64")
        for _ in range(iters):
            # mirror the operator's EXACT int64 distance (not float BLAS)
            Cq = np.floor(C * scale).astype("int64")
            d = -2 * (Vq @ Cq.T) + (Cq * Cq).sum(axis=1)[None, :]
            a = np.argmin(d, axis=1)
            newC = C.copy()
            n_by = {}
            for j in range(k):
                m = pts[a == j]
                if len(m):
                    s = np.floor(m * scale).astype("int64").sum(axis=0)
                    newC[j] = (s.astype("float64") / scale) / float(len(m))
                    n_by[j] = len(m)
            C = newC
        return C, n_by

    C, n_by = ref(pts, 3, 4)
    for j in range(3):
        for ddim in range(4):
            cent, n = got[(j, ddim)]
            assert cent == C[j][ddim], (j, ddim, cent, C[j][ddim])
            assert n == n_by.get(j, 0)
    # the three planted blobs are recovered
    assert sorted(n_by.values()) == [20, 20, 20]


def test_assign_row_ids_dense_and_partition_independent(spark):
    from pyspark.sql import Window as W

    from bigdata_etl_customer360_spark.operators.relational import assign_row_ids

    rows = [(i % 7, i) for i in range(200)]
    df = spark.createDataFrame(rows, schema="a long, b long")
    got = {(r["a"], r["b"]): r["row_id"]
           for r in assign_row_ids(df, ["a", "b"]).collect()}
    # identical to the single-reducer window form
    want = {(r["a"], r["b"]): r["rid"] for r in df.select(
        "a", "b", F.row_number().over(W.orderBy("a", "b")).alias("rid")
    ).collect()}
    assert got == want
    assert sorted(got.values()) == list(range(1, 201))  # dense 1..n
    got2 = {(r["a"], r["b"]): r["row_id"]
            for r in assign_row_ids(df.repartition(13), ["a", "b"]).collect()}
    assert got2 == got
    # custom start offset
    g3 = assign_row_ids(df, ["a", "b"], start=100).agg(
        F.min("row_id"), F.max("row_id")
    ).first()
    assert (g3[0], g3[1]) == (100, 299)
    with pytest.raises(ValueError, match="order column"):
        assign_row_ids(df, [])


def test_distribution_drift_vanished_and_new_categories(spark):
    from bigdata_etl_customer360_spark.operators.quality import distribution_drift

    old = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("gone",)], schema="k string"
    )
    new = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 10 + [("fresh",)] * 5, schema="k string"
    )
    got = {r["value"]: r for r in distribution_drift(old, new, "k").collect()}
    assert got["gone"]["n_new"] == 0 and got["gone"]["share_new_bp"] == 0
    assert got["gone"]["drift_bp"] == -(1 * 10000 // 10)
    assert got["fresh"]["n_old"] == 0
    assert got["fresh"]["share_new_bp"] == 5 * 10000 // 20
    assert got["b"]["drift_bp"] == (10 * 10000 // 20) - (3 * 10000 // 10)
    # threshold filter
    big = distribution_drift(old, new, "k", min_share_bp=1500).collect()
    # a: 6000 -> 2500bp (drift -3500), b: +2000, fresh: +2500; gone: -1000 filtered
    assert {r["value"] for r in big} == {"a", "b", "fresh"}


def test_k_anonymity_modes_and_null_groups(spark):
    from bigdata_etl_customer360_spark.operators.quality import k_anonymity

    rows = (
        [("10001", "1980", i) for i in range(5)]        # safe group (k=5)
        + [("10002", "1990", 100), ("10002", "1990", 101)]  # violating (2)
        + [(None, "1975", 200), (None, "1975", 201)]        # NULL quasi, violating
    )
    df = spark.createDataFrame(rows, schema="zip string, yob string, uid long")
    rep = {(r["zip"], r["yob"]): r["group_size"]
           for r in k_anonymity(df, ["zip", "yob"], k=5, mode="report").collect()}
    assert rep == {("10002", "1990"): 2, (None, "1975"): 2}
    sup = k_anonymity(df, ["zip", "yob"], k=5, mode="suppress").collect()
    assert len(sup) == 5 and all(r["zip"] == "10001" for r in sup)
    ann = {r["uid"]: (r["group_size"], r["is_k_anonymous"])
           for r in k_anonymity(df, ["zip", "yob"], k=5, mode="annotate").collect()}
    assert len(ann) == 9  # NULL-quasi rows are NOT dropped by the join
    assert ann[200] == (2, False) and ann[0] == (5, True)
    import pytest as _pt
    with _pt.raises(ValueError, match="mode"):
        k_anonymity(df, ["zip"], mode="redact")


def test_bpe_encode_matches_pure_python_and_rebuilds_words(spark):
    """bpe_encode applies a bpe_train merge table sequentially in rank
    order (greedy left-to-right, non-chaining — the trainer's own fold):
    token streams must equal an independent pure-Python encoder, and
    concatenating a word's tokens must rebuild the word exactly."""
    from bigdata_etl_customer360_spark.operators.textstats import (
        bpe_encode,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "widest wide wider wide",
        "low new wide lowest",
        "aaa aaaa aa",  # non-chaining: (a,a) on 'aaa' -> [aa, a]
        "",
        None,  # NULL text must encode to [] (r7 ADVICE), not crash the UDF
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(df, num_merges=12, min_pair_count=2)
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(df, merges).collect()
    }

    ranked = [
        (r["left"], r["right"], r["merged"])
        for r in merges.orderBy("rank").collect()
    ]

    def ref_encode_word(w):
        syms = list(w)
        for left, right, merged in ranked:
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for i, t in enumerate(texts):
        words = (t or "").lower().split()
        expected = [tok for w in words for tok in ref_encode_word(w)]
        assert got[i] == expected, f"doc {i}"
        # concatenation invariant: tokens rebuild each word exactly
        assert "".join(expected) == "".join(words)
    # the planted non-chaining case actually exercises a merge
    assert any(len(tok) > 1 for tok in got[4])
    assert got[len(texts) - 1] == []  # NULL text -> empty token stream


def test_bpe_encode_pair_priority_parity_at_5k_merges(spark):
    """Scale-path parity (r7 VERDICT #6): a 5,000-entry synthetic merge
    table (500 word families x 10-deep prefix chains over distinct CJK
    characters — trainer-consistent by construction: every pair's
    components derive strictly earlier) must encode identically to the
    pure-Python SEQUENTIAL fold. Pair-priority cost is independent of
    table size, so this also guards against an O(merges x len) regression
    timing out the suite."""
    from bigdata_etl_customer360_spark.operators.textstats import bpe_encode

    fams, depth = 500, 11  # 10 merges per family chain
    words = [
        "".join(chr(0x4E00 + f * depth + i) for i in range(depth))
        for f in range(fams)
    ]
    merge_rows = []
    rank = 0
    for w in words:
        for k in range(depth - 1):
            merge_rows.append((rank, w[: k + 1], w[k + 1], w[: k + 2]))
            rank += 1
    assert rank == 5000
    merges = spark.createDataFrame(
        merge_rows, "rank long, left string, right string, merged string"
    )
    # each doc carries a few family words, some truncated mid-chain so
    # the encode stops at a partial prefix (exercises non-terminal ranks)
    docs = [
        (i, " ".join([words[i], words[(i * 7 + 3) % fams][: 5], words[-1 - i]]))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(df, merges).collect()
    }

    ranked = sorted(merge_rows)

    def ref_encode_word(w):
        syms = list(w)
        for _, left, right, merged in ranked:
            if len(syms) < 2:
                break
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for i, t in docs:
        expected = [tok for w in t.split() for tok in ref_encode_word(w)]
        assert got[i] == expected, f"doc {i}"
        assert "".join(expected) == t.replace(" ", "")
    # full chains collapse to ONE token; the truncated word to its prefix
    assert got[0][0] == words[0]
    assert got[0][1] == words[3][:5]


def test_tar_shard_ingest_end_to_end(spark, tmp_path):
    """binaryFile scan -> tar-shard expansion -> MEDIA lift -> feature
    extraction: members come back byte-exact with deterministic ids and
    extension-derived mimes, non-regular members and non-tar files are
    skipped, and extract_features consumes the lift without synthesis."""
    import hashlib
    import io
    import tarfile

    from bigdata_etl_customer360_spark.operators.multimodal import (
        expand_tar_shards,
        extract_features,
        media_from_tar_members,
    )
    from bigdata_etl_customer360_spark.sources.readers import read_binary

    members0 = [("000/a.txt", b"hello tar"), ("000/b.png", bytes(range(64)))]
    members1 = [("001/c.json", b'{"k": 1}'), ("001/d.bin", b"\x00\xff" * 10)]

    def write_shard(path, members, with_dir=False):
        with tarfile.open(path, "w") as tf:
            if with_dir:
                d = tarfile.TarInfo("000")
                d.type = tarfile.DIRTYPE
                tf.addfile(d)
            for name, data in members:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(data))

    write_shard(str(tmp_path / "shard-000.tar"), members0, with_dir=True)
    write_shard(str(tmp_path / "shard-001.tar"), members1)
    (tmp_path / "ignore.txt").write_text("not a shard")

    shards = read_binary(spark, str(tmp_path), path_glob_filter="*.tar")
    assert shards.count() == 2  # glob pruned the stray file at listing

    got = {
        r["member"]: (bytes(r["payload"]), r["n_bytes"])
        for r in expand_tar_shards(shards).collect()
    }
    expected = dict(members0 + members1)
    assert {k: v[0] for k, v in got.items()} == expected  # byte-exact
    assert all(got[k][1] == len(v) for k, v in expected.items())

    media = media_from_tar_members(expand_tar_shards(shards))
    rows = {r["media_id"]: r for r in media.collect()}
    assert len(rows) == 4  # distinct ids, directory member skipped
    mimes = sorted(r["mime"] for r in rows.values())
    assert mimes == [
        "application/json",
        "application/octet-stream",
        "image/png",
        "text/plain",
    ]

    feats = {r["sha256"] for r in extract_features(media).collect()}
    assert feats == {
        hashlib.sha256(v).hexdigest() for v in expected.values()
    }


def test_expand_tar_shards_yields_one_frame_per_shard():
    """Memory bound (r7 ADVICE / VERDICT #7): two shards arriving in ONE
    Arrow batch must come back as (at least) two separate yielded frames
    — peak task memory is then one shard's expansion, not the batch's."""
    import io
    import tarfile

    import pandas as pd

    from bigdata_etl_customer360_spark.operators.multimodal import (
        _expand_tar_batches,
    )

    def make_tar(files: dict[str, bytes]) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, data in files.items():
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        return buf.getvalue()

    batch = pd.DataFrame(
        {
            "path": ["s3://lake/shard-0.tar", "s3://lake/shard-1.tar"],
            "content": [
                make_tar({"a.txt": b"alpha", "b.txt": b"beta"}),
                make_tar({"c.txt": b"gamma"}),
            ],
        }
    )
    frames = list(_expand_tar_batches(iter([batch]), "content", "path"))
    assert len(frames) >= 2  # one frame per shard, never batch-accumulated
    assert [set(f["shard"]) for f in frames] == [
        {"s3://lake/shard-0.tar"},
        {"s3://lake/shard-1.tar"},
    ]
    all_members = [m for f in frames for m in f["member"]]
    assert all_members == ["a.txt", "b.txt", "c.txt"]
    assert [bytes(p) for f in frames for p in f["payload"]] == [
        b"alpha",
        b"beta",
        b"gamma",
    ]


def test_bm25_search_matches_pure_python(spark):
    """bm25_search == an independent pure-Python Okapi BM25 (Robertson
    IDF) to 1e-8; n_terms counts distinct query terms; top_k orders by
    (score desc, id asc); NULL text scores nothing and never crashes."""
    import math

    from bigdata_etl_customer360_spark.operators.textstats import bm25_search

    texts = {
        1: "spark join window spark spark",
        2: "join window",
        3: "window window window window window window",
        4: "nothing relevant here",
        5: None,
        6: "SPARK  Join",  # case/whitespace normalization
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    terms, k1, b = ["spark", "join", "window"], 1.2, 0.75

    docs = {i: (t or "").lower().split() for i, t in texts.items()}
    N = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / N
    dfreq = {
        t: sum(1 for w in docs.values() if t in w) for t in terms
    }

    def ref(i):
        w = docs[i]
        out, n = 0.0, 0
        for t in sorted(terms):
            tf = w.count(t)
            if tf == 0:
                continue
            n += 1
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            out += idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * len(w) / avgdl))
        return n, round(out, 8)

    got = {
        r["doc_id"]: (r["n_terms"], r["bm25"])
        for r in bm25_search(df, terms, k1=k1, b=b).collect()
    }
    expected = {i: ref(i) for i in texts if ref(i)[0] > 0}
    assert got == expected
    assert 4 not in got and 5 not in got  # no-match and NULL docs absent

    top = bm25_search(df, terms, k1=k1, b=b, top_k=2).collect()
    ranked = sorted(expected.items(), key=lambda kv: (-kv[1][1], kv[0]))
    assert [r["doc_id"] for r in top] == [i for i, _ in ranked[:2]]

    import pytest as _pt
    with _pt.raises(ValueError, match="term"):
        bm25_search(df, [])
    with _pt.raises(ValueError, match="k1"):
        bm25_search(df, terms, k1=-1)


def test_semantic_dedup_keep_earliest_within_bucket(spark):
    """semantic_dedup drops exactly the vectors with an earlier
    same-bucket cosine>=threshold neighbor: planted near-dups of id 1
    are dropped (including one whose nearest EARLIER doc was itself
    dropped — the rule compares against all earlier ids, not just
    survivors); a cross-bucket near-dup survives (the documented
    SemDeDup boundary trade); zero-valued dims count as sign bit 1."""
    from bigdata_etl_customer360_spark.operators.similarity import semantic_dedup

    vecs = [
        (1, [1.0, 1.0, 1.0, 0.0]),
        (2, [1.0, 1.0, 0.95, 0.0]),   # cos(1,2)~0.999, bucket ++ -> drop
        (3, [1.0, -1.0, 1.0, 0.0]),   # bucket +- : survives
        (4, [-1.0, 1.0, 1.0, 0.0]),   # bucket -+ : survives
        (5, [1.0, 1.0, -1.0, 0.0]),   # bucket ++ but cos(1,5)=1/3 : survives
        (6, [1.0, 1.0, 0.94, 0.0]),   # near 1 AND near (dropped) 2 -> drop
        (7, [-1.0, 1.0, 1.01, 0.0]),  # bucket -+ near-dup of 4 -> drop
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = semantic_dedup(
        df, threshold=0.9, bucket_bits=2, out_bucket_col="b"
    )
    got = {r["vec_id"]: r["b"] for r in out.collect()}
    assert sorted(got) == [1, 3, 4, 5]
    assert got[1] == 3 and got[3] == 2 and got[4] == 1 and got[5] == 3
    # zero counts as non-negative -> bit set
    z = spark.createDataFrame(
        [(10, [0.0, -1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    (r,) = semantic_dedup(z, bucket_bits=2, out_bucket_col="b").collect()
    assert r["b"] == 2
    # all original columns survive; bucket dropped when not requested
    assert semantic_dedup(df, threshold=0.9, bucket_bits=2).columns == [
        "vec_id", "embedding",
    ]
    import pytest as _pt
    with _pt.raises(ValueError, match="threshold"):
        semantic_dedup(df, threshold=1.5)
    with _pt.raises(ValueError, match="bucket_bits"):
        semantic_dedup(df, bucket_bits=-1)


def test_char_entropy_known_distributions(spark):
    """char_entropy: H('aabb')=1, H('abcd')=2, H('aaaa')=0; counts
    include spaces; empty and NULL texts are omitted from the output."""
    from bigdata_etl_customer360_spark.operators.textstats import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aabb"),
            (2, "abcd"),
            (3, "aaaa"),
            (4, ""),
            (5, None),
            (6, "ab ab"),  # space is a character: freqs a=2,b=2,' '=1
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chars"], r["entropy"])
        for r in char_entropy(df).collect()
    }
    import math

    h6 = round(
        math.log2(5) - (2 * math.log2(2) + 2 * math.log2(2) + 1 * math.log2(1)) / 5,
        8,
    )
    assert got == {
        1: (4, 1.0),
        2: (4, 2.0),
        3: (4, 0.0),
        6: (5, h6),
    }


def test_ngram_lm_score_matches_pure_python(spark):
    """ngram_lm_score == an independent pure-Python Laplace bigram LM:
    corpus-frequent word orders score higher than shuffled word salad;
    <2-token and NULL docs get (0, 0.0)."""
    import math

    from bigdata_etl_customer360_spark.operators.textstats import ngram_lm_score

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the rug",
        3: "the cat sat on the mat again",
        4: "mat the on sat cat the",  # same tokens, broken order
        5: "solo",
        6: None,
        7: "THE  Cat sat",  # case/whitespace normalization
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def words(t):
        return [x for x in (t or "").lower().split() if x]

    c12, c1, vocab = {}, {}, set()
    for t in texts.values():
        w = words(t)
        vocab.update(w)
        for i in range(len(w) - 1):
            g = (w[i], w[i + 1])
            c12[g] = c12.get(g, 0) + 1
            c1[w[i]] = c1.get(w[i], 0) + 1
    V = len(vocab)

    def ref(t):
        w = words(t)
        if len(w) < 2:
            return 0, 0.0
        cnt = {}
        for i in range(len(w) - 1):
            g = (w[i], w[i + 1])
            cnt[g] = cnt.get(g, 0) + 1
        s = 0.0
        for g in sorted(cnt, key=lambda g: g[0] + " " + g[1]):
            s += cnt[g] * math.log((c12[g] + 1.0) / (c1[g[0]] + float(V)))
        n = sum(cnt.values())
        return n, round(s / float(n), 8)

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in ngram_lm_score(df).collect()
    }
    assert got == {i: ref(t) for i, t in texts.items()}
    assert got[5] == (0, 0.0) and got[6] == (0, 0.0)
    # fluent corpus-like order beats the shuffled version of itself
    assert got[1][1] > got[4][1]


def test_cap_per_group_deterministic_cap(spark):
    """cap_per_group keeps at most k rows per group, identical winners on
    rerun and under reshuffling; under-cap groups pass through whole."""
    import hashlib

    from bigdata_etl_customer360_spark.operators.sampling import cap_per_group

    rows = [(i, "big" if i < 20 else "small") for i in range(23)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def coin(i):
        return int(hashlib.md5(f"c360cap{i}".encode()).hexdigest()[:8], 16)

    want_big = sorted(sorted(range(20), key=lambda i: (coin(i), i))[:3])
    got = cap_per_group(df, "source", k=3).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(by_src["big"]) == want_big
    assert sorted(by_src["small"]) == [20, 21, 22]  # under cap: all pass
    # determinism under a different partitioning
    got2 = cap_per_group(df.repartition(7), "source", k=3).collect()
    assert sorted((r["source"], r["doc_id"]) for r in got2) == sorted(
        (r["source"], r["doc_id"]) for r in got
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="k"):
        cap_per_group(df, "source", k=0)


def test_pq_encode_deterministic_and_full_rerank_exact(spark):
    """PQ machinery: codes are within [0, k), identical under repartition
    (int64 encode is batch-shape-independent — the kmeans BLAS lesson);
    cosine_topk_pq with rerank >= |corpus| equals brute force exactly;
    indivisible subspace split raises."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_brute,
        cosine_topk_pq,
        pq_encode,
        pq_fit,
    )

    rng = np.random.default_rng(3)
    vecs = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    _, qbook, qnsq = pq_fit(
        df, num_subspaces=4, codes_per_subspace=8, sample_size=128
    )
    assert qbook.shape == (4, 8, 4)
    c1 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, qbook, qnsq).collect()}
    c2 = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(df.repartition(13), qbook, qnsq).collect()
    }
    assert c1 == c2  # batch-shape independence
    assert all(0 <= c < 8 for cs in c1.values() for c in cs)

    q = df.filter("vec_id < 5")
    full = sorted(
        map(tuple, cosine_topk_pq(q, df, k=3, num_subspaces=4, rerank=10_000)
            .collect())
    )
    brute = sorted(map(tuple, cosine_topk_brute(q, df, k=3).collect()))
    assert full == brute

    import pytest as _pt
    with _pt.raises(ValueError, match="divisible"):
        pq_fit(df, num_subspaces=5)


def test_pq_query_luts_bit_identical_to_driver_loop(spark):
    """r14: the executor-side LUT build (pq_query_luts, Arrow-batched)
    must reproduce the retired driver loop BIT-FOR-BIT — normalize and
    quantize are per-row elementwise ops, the LUT matmul is exact int64 —
    and must be invariant to the query frame's partitioning (Arrow batch
    shape cannot perturb integer matmuls)."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.similarity import (
        QUANT_SCALE,
        pq_fit,
        pq_query_luts,
    )

    rng = np.random.default_rng(7)
    vecs = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(120)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    _, qbook, _ = pq_fit(
        df, num_subspaces=4, codes_per_subspace=8, sample_size=64
    )
    m, kc, sub = qbook.shape

    got = {
        r["query_id"]: [list(t) for t in r["_luts"]]
        for r in pq_query_luts(df, qbook).collect()
    }
    got_repart = {
        r["query_id"]: [list(t) for t in r["_luts"]]
        for r in pq_query_luts(df.repartition(11), qbook).collect()
    }
    assert got == got_repart  # batch-shape independence

    # the retired driver loop, verbatim
    want = {}
    for r in df.collect():
        v = np.asarray(r["embedding"], dtype="float64")
        v /= max(float(np.linalg.norm(v)), 1e-12)
        qv = np.floor(v * float(QUANT_SCALE) + 0.5).astype("int64")
        want[r["vec_id"]] = [
            [int(x) for x in (qbook[s] @ qv[s * sub : (s + 1) * sub])]
            for s in range(m)
        ]
    assert got == want


def test_ivfpq_full_probe_exact_and_encode_deterministic(spark):
    """IVF×PQ: probing every cell with rerank >= |corpus| equals brute
    force exactly; the (cell, codes) encoding is identical under
    repartition (int64 residual encode; cell argmax is per-row, not
    batch-reduced)."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_brute,
        cosine_topk_ivfpq,
    )

    rng = np.random.default_rng(7)
    vecs = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 6")
    full = sorted(
        map(
            tuple,
            cosine_topk_ivfpq(
                q, df, k=3, num_centroids=8, nprobe=8,
                num_subspaces=4, rerank=10_000, sample_size=128,
            ).collect(),
        )
    )
    brute = sorted(map(tuple, cosine_topk_brute(q, df, k=3).collect()))
    assert full == brute
    # pruned mode returns exactly k rows per query with exact scores
    approx = cosine_topk_ivfpq(
        q, df, k=3, num_centroids=8, nprobe=2, num_subspaces=4,
        rerank=12, sample_size=128,
    ).collect()
    assert len(approx) == 18
    brute_scores = {(r[0], r[1]): r[2] for r in brute}
    for r in approx:  # any returned pair scores identically to brute
        if (r[0], r[1]) in brute_scores:
            assert r[2] == brute_scores[(r[0], r[1])]


# ------------------------------------------------------------ heavy hitters


def test_heavy_hitters_exact_on_planted_skew(spark):
    """Sketch + verification == naive group-count threshold, on skewed
    multi-partition data with a capacity far below the distinct count."""
    from bigdata_etl_customer360_spark.operators.quality import heavy_hitters

    rows = (
        [("a",)] * 500 + [("b",)] * 300 + [("c",)] * 150
        + [(f"t{i}",) for i in range(200) for _ in range(2)]
        + [(None,)] * 50
    )
    df = spark.createDataFrame(rows, "tok string").repartition(16)
    # N = 1350 (nulls excluded); denom=8 -> count*8 > 1350 -> count >= 169
    got = {(r["tok"], r["n_occurrences"])
           for r in heavy_hitters(df, "tok", denom=8, capacity=8).collect()}
    assert got == {("a", 500), ("b", 300)}


def test_heavy_hitters_near_uniform_no_false_negatives(spark):
    """The adversarial case for Misra-Gries: near-uniform data decrements
    aggressively. With capacity+1 > denom the verification pass must
    still return exactly the naive answer."""
    from bigdata_etl_customer360_spark.operators.quality import heavy_hitters

    # 40 values, counts 30..69 -> N = sum(30..69) = 1980
    rows = [(f"v{i:02d}",) for i in range(40) for _ in range(30 + i)]
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    denom, n = 40, 1980
    naive = {
        (r["tok"], r["c"])
        for r in df.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * denom > n).collect()
    }
    got = {(r["tok"], r["n_occurrences"])
           for r in heavy_hitters(df, "tok", denom=denom, capacity=40).collect()}
    assert got == naive and len(got) > 0


def test_heavy_hitters_rejects_unsound_parameters(spark):
    from bigdata_etl_customer360_spark.operators.quality import heavy_hitters

    df = spark.createDataFrame([("a",)], "tok string")
    with pytest.raises(ValueError):
        heavy_hitters(df, "tok", denom=1)
    with pytest.raises(ValueError):
        heavy_hitters(df, "tok", denom=10, capacity=9)  # capacity+1 == denom


# ------------------------------------------------------------ fuzzy edit join


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_edit_matches_brute_force(spark):
    """FastSS candidate join + exact filter == the all-pairs definition,
    for d=1 and d=2 over an adversarial small-alphabet sample (repeats,
    transpositions, empty and 1-char strings)."""
    import random

    from bigdata_etl_customer360_spark.operators.dedup import fuzzy_pairs_edit

    rng = random.Random(42)
    strings = ["", "a", "b", "ab", "ba", "aab", "aba"] + [
        "".join(rng.choice("abc") for _ in range(rng.randint(2, 6)))
        for _ in range(50)
    ]
    rows = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for d in (1, 2):
        want = {
            (i, j, _lev(a, b))
            for i, a in rows for j, b in rows
            if i < j and _lev(a, b) <= d
        }
        got = {
            (r["a_id"], r["b_id"], r["distance"])
            for r in fuzzy_pairs_edit(df, max_distance=d).collect()
        }
        assert got == want


def test_fuzzy_pairs_edit_null_text_and_bad_distance(spark):
    from bigdata_etl_customer360_spark.operators.dedup import fuzzy_pairs_edit

    df = spark.createDataFrame(
        [(1, "abc"), (2, None), (3, "abd")], "doc_id int, text string"
    )
    got = [(r["a_id"], r["b_id"], r["distance"])
           for r in fuzzy_pairs_edit(df).collect()]
    assert got == [(1, 3, 1)]
    with pytest.raises(ValueError):
        fuzzy_pairs_edit(df, max_distance=3)


# ------------------------------------------------------------ naive bayes


def test_nb_classify_matches_pure_python(spark):
    """nb_classify == an independent pure-Python multinomial NB (Laplace
    over the train vocab, prior included), scores to 1e-8."""
    import math
    from collections import Counter

    from bigdata_etl_customer360_spark.operators.textstats import nb_classify

    train_rows = [
        (1, "spam buy now buy", "spam"),
        (2, "buy cheap spam now", "spam"),
        (3, "cheap spam spam buy", "spam"),
        (4, "hello dear friend", "ham"),
        (5, "dear friend hello hello", "ham"),
    ]
    test_rows = [(10, "buy spam now"), (11, "hello friend"),
                 (12, "buy hello"), (13, "unknown words only"), (14, None)]

    cwk: Counter = Counter()
    ck: Counter = Counter()
    nk: Counter = Counter()
    vocab = set()
    for _, text, lab in train_rows:
        nk[lab] += 1
        for w in text.lower().split():
            cwk[(w, lab)] += 1
            ck[lab] += 1
            vocab.add(w)
    V, N = len(vocab), len(train_rows)

    def py_score(text, lab):
        s = math.log(nk[lab] / N)
        toks = sorted(Counter((text or "").lower().split()).items())
        for w, c in toks:
            s += c * math.log((cwk[(w, lab)] + 1) / (ck[lab] + V))
        return round(s, 8)

    want = {}
    for i, text in test_rows:
        best = min((( -py_score(text, lab), lab) for lab in nk))
        want[i] = (best[1], -best[0])

    got = {
        r["doc_id"]: (r["predicted_label"], r["score"])
        for r in nb_classify(
            spark.createDataFrame(train_rows, "doc_id int, text string, label string"),
            spark.createDataFrame(test_rows, "doc_id int, text string"),
            label_col="label",
        ).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert got[i][1] == pytest.approx(want[i][1], abs=1e-8)


def test_nb_classify_empty_doc_prior_and_tie_break(spark):
    """Zero-token docs classify by prior alone; equal priors fall back to
    the smallest label."""
    from bigdata_etl_customer360_spark.operators.textstats import nb_classify

    train = spark.createDataFrame(
        [(1, "x", "b"), (2, "y", "a")], "doc_id int, text string, label string"
    )
    out = nb_classify(
        train,
        spark.createDataFrame([(9, "")], "doc_id int, text string"),
        label_col="label",
    ).collect()
    assert out[0]["predicted_label"] == "a"  # tie at ln(0.5) -> label asc


# ------------------------------------------------------------ linear trend


def test_linear_trend_exact_and_degenerate(spark):
    """Perfect line recovered exactly; n=1 and zero-x-variance keys pin
    slope/intercept to NULL; NULL x/y rows are excluded."""
    from bigdata_etl_customer360_spark.operators.quality import linear_trend

    rows = [
        ("k1", 0, 1.0), ("k1", 1, 3.0), ("k1", 2, 5.0),   # y = 2x + 1
        ("k2", 5, 7.0),                                     # single point
        ("k3", 4, 2.0), ("k3", 4, 8.0),                     # zero x-variance
        ("k4", 0, 1.0), ("k4", 2, None), ("k4", None, 5.0), ("k4", 4, 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, x int, y double")
    out = {r["k"]: r for r in linear_trend(df, ["k"], "x", "y").collect()}
    assert (out["k1"]["slope"], out["k1"]["intercept"]) == (2.0, 1.0)
    assert out["k2"]["slope"] is None and out["k2"]["intercept"] is None
    assert out["k3"]["slope"] is None and out["k3"]["intercept"] is None
    assert out["k4"]["n_points"] == 2
    assert out["k4"]["slope"] == pytest.approx(0.5)
    assert out["k4"]["intercept"] == pytest.approx(1.0)


def test_linear_trend_fractional_constant_x_pins_null(spark):
    """All x equal at a NON-INTEGER decimal (0.07): the exact den is 0
    but the double n*sxx - sx*sx can round to a tiny positive — the
    guard must decide on the exact decimals and pin NULL, never emit a
    garbage slope (ADVICE r8)."""
    from bigdata_etl_customer360_spark.operators.quality import linear_trend

    df = spark.createDataFrame(
        [("k", 0.07, float(i)) for i in range(7)], "k string, x double, y double"
    )
    out = linear_trend(df, ["k"], "x", "y").collect()[0]
    assert out["n_points"] == 7
    assert out["slope"] is None and out["intercept"] is None


def test_ab_test_fractional_constant_groups_pin_null(spark):
    """Both groups constant at non-integer decimals: exact se2 == 0 even
    if the double rounds to a tiny positive — t/df pin NULL (ADVICE r8,
    the linear_trend pattern)."""
    from bigdata_etl_customer360_spark.operators.quality import ab_test

    df = spark.createDataFrame(
        [("A", 0.07)] * 5 + [("B", 0.03)] * 4, "grp string, value double"
    )
    got = ab_test(df, "grp", "value", "A", "B").collect()[0]
    assert got["t_stat"] is None and got["welch_df"] is None
    assert got["diff"] == pytest.approx(0.04)


def test_linear_trend_matches_numpy_polyfit(spark):
    """Against numpy lstsq on a noisy series (values exactly representable
    at scale=2 so the decimal casts are lossless)."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.quality import linear_trend

    rng = np.random.default_rng(7)
    x = np.arange(40)
    y = np.round(3.25 * x + 10 + rng.normal(0, 5, 40), 2)
    df = spark.createDataFrame(
        [("k", int(a), float(b)) for a, b in zip(x, y)], "k string, x int, y double"
    )
    got = linear_trend(df, ["k"], "x", "y").collect()[0]
    want_slope, want_icept = np.polyfit(x.astype(float), y, 1)
    assert got["slope"] == pytest.approx(want_slope, rel=1e-9)
    assert got["intercept"] == pytest.approx(want_icept, rel=1e-9)


# ------------------------------------------------------------ unigram LM


def test_unigram_expected_matches_enumeration():
    """Forward-backward expected counts == brute-force enumeration over
    ALL segmentations (probability of a segmentation proportional to the
    product of its piece probs) — a different algorithm computing the
    same quantity."""
    from bigdata_etl_customer360_spark.operators.textstats import (
        _unigram_expected,
    )

    probs = {"a": 0.3, "b": 0.2, "ab": 0.25, "ba": 0.1, "aba": 0.05,
             "bb": 0.1}

    def enumerate_expected(word, freq, max_len):
        segs = []

        def rec(pos, cur):
            if pos == len(word):
                segs.append(list(cur))
                return
            for end in range(pos + 1, min(len(word), pos + max_len) + 1):
                piece = word[pos:end]
                if piece in probs:
                    cur.append(piece)
                    rec(end, cur)
                    cur.pop()

        rec(0, [])
        z = sum(
            __import__("math").prod(probs[p] for p in s) for s in segs
        )
        out = {}
        for s in segs:
            w = __import__("math").prod(probs[p] for p in s) / z
            for p in s:
                out[p] = out.get(p, 0.0) + freq * w
        return out

    for word in ("abab", "aabba", "ababa", "bb", "a"):
        want = enumerate_expected(word, 7, 3)
        got = _unigram_expected(word, 7, probs, 3)
        assert set(got) == set(want)
        for p in want:
            assert got[p] == pytest.approx(want[p], rel=1e-12), (word, p)


def test_unigram_train_learns_morphemes_and_is_partition_invariant(spark):
    """The EM fit discovers shared suffix/stem pieces, and the quantized
    integer-micro E-step makes the result identical under different
    partitionings."""
    from bigdata_etl_customer360_spark.operators.textstats import (
        unigram_lm_train,
    )

    rows = [(i, t) for i, t in enumerate(
        ["low lower lowest", "new newer newest", "low low new",
         "wider wide widest", "lowest newest widest", None, ""])]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    m1 = {r["piece"]: r["logprob"]
          for r in unigram_lm_train(df, vocab_size=40, seed_vocab_size=100,
                                    em_iters=3, max_piece_len=5).collect()}
    m2 = {r["piece"]: r["logprob"]
          for r in unigram_lm_train(df.repartition(7), vocab_size=40,
                                    seed_vocab_size=100, em_iters=3,
                                    max_piece_len=5).collect()}
    assert m1 == m2  # bit-identical under repartitioning
    top = sorted(m1, key=lambda p: -m1[p])[:4]
    assert "est" in top and "low" in top and "new" in top


def test_unigram_encode_viterbi_optimal_and_unk(spark):
    """Viterbi picks the (max logprob, fewest pieces, lexicographically
    smallest) segmentation — verified against enumeration — and unknown
    characters fall back to single-char tokens counted in n_unk."""
    import itertools
    import math

    from bigdata_etl_customer360_spark.operators.textstats import (
        unigram_encode,
    )

    lps = {"a": math.log(0.3), "b": math.log(0.2), "ab": math.log(0.25),
           "ba": math.log(0.1), "aba": math.log(0.05)}
    model = spark.createDataFrame(
        [(p, lp) for p, lp in lps.items()], "piece string, logprob double"
    )

    def best_seg(word):
        cands = []

        def rec(pos, cur):
            if pos == len(word):
                lp = sum(lps[p] for p in cur)
                cands.append((lp, -len(cur), tuple(cur)))
                return
            for end in range(pos + 1, len(word) + 1):
                if word[pos:end] in lps:
                    rec(end, cur + [word[pos:end]])

        rec(0, [])
        # max lp, fewest pieces, then lexicographically SMALLEST sequence
        best = max(cands, key=lambda c: (c[0], c[1]))
        tied = [c for c in cands if (c[0], c[1]) == (best[0], best[1])]
        return list(min(t[2] for t in tied))

    words = ["ababa", "abab", "aab", "ba"]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    got = {r["doc_id"]: list(r["tokens"])
           for r in unigram_encode(df, model).collect()}
    for i, w in enumerate(words):
        assert got[i] == best_seg(w), (w, got[i], best_seg(w))

    unk = unigram_encode(
        spark.createDataFrame([(0, "axb")], "doc_id int, text string"), model
    ).collect()[0]
    assert list(unk["tokens"]) == ["a", "x", "b"] and unk["n_unk"] == 1


# ------------------------------------------------------------ classifier eval


def test_classifier_metrics_counts_ratios_and_edge_labels(spark):
    """Confusion counts over the union of label sets: a never-predicted
    label reports fn with NULL precision; a hallucinated label reports
    fp with NULL recall; NULL rows are excluded."""
    from bigdata_etl_customer360_spark.operators.quality import classifier_metrics

    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "a"),
            ("c", "c"), ("d", "a"), (None, "a"), ("a", None),
            ("x", "hallucinated")]
    df = spark.createDataFrame(rows, "y string, yhat string")
    got = {r["label"]: r for r in classifier_metrics(df, "y", "yhat").collect()}
    assert (got["a"]["tp"], got["a"]["fp"], got["a"]["fn"]) == (2, 2, 1)
    assert got["a"]["precision"] == pytest.approx(0.5)
    assert got["a"]["recall"] == pytest.approx(2 / 3)
    assert got["a"]["f1"] == pytest.approx(2 * 0.5 * (2 / 3) / (0.5 + 2 / 3))
    assert (got["c"]["precision"], got["c"]["recall"], got["c"]["f1"]) == (1.0, 1.0, 1.0)
    # 'd' never predicted: NULL precision, 0 recall, NULL f1
    assert got["d"]["precision"] is None and got["d"]["recall"] == 0.0
    assert got["d"]["f1"] is None
    # 'hallucinated' never true: fp only, NULL recall
    h = got["hallucinated"]
    assert (h["tp"], h["fp"], h["fn"]) == (0, 1, 0)
    assert h["recall"] is None and h["precision"] == 0.0


# ------------------------------------------------------------ pareto frontier


def test_pareto_frontier_matches_brute_force(spark):
    """Window formulation == the quadratic dominance definition, on
    random integer points with planted duplicates, for both min/min and
    min/max orientations; NULL criteria rows are excluded."""
    import random

    from bigdata_etl_customer360_spark.operators.relational import pareto_frontier

    rng = random.Random(11)
    pts = [(i, rng.randint(0, 20), rng.randint(0, 20)) for i in range(80)]
    pts += [(100 + i, x, y) for i, (x, y) in enumerate([(0, 5), (0, 5), (3, 3)])]
    pts += [(200, None, 1), (201, 1, None)]
    df = spark.createDataFrame(pts, "pid int, x int, y int")

    def brute(minx, miny):
        clean = [(p, x, y) for p, x, y in pts if x is not None and y is not None]

        def dominates(a, b):
            ax, ay = (a[1], a[2]) if minx else (-a[1], a[2])
            bx, by = (b[1], b[2]) if minx else (-b[1], b[2])
            if not miny:
                ay, by = -ay, -by
            return ax <= bx and ay <= by and (ax < bx or ay < by)

        return {
            p for p, x, y in clean
            if not any(dominates(b, (p, x, y)) for b in clean)
        }

    for minx, miny in ((True, True), (True, False), (False, True)):
        got = {
            r["pid"]
            for r in pareto_frontier(
                df, "x", "y", minimize_x=minx, minimize_y=miny
            ).collect()
        }
        assert got == brute(minx, miny), (minx, miny)


# ------------------------------------------------------------ welch t-test


def test_ab_test_matches_manual_welch_and_degenerates(spark):
    """ab_test == the Welch formulas computed in plain Python; n<2 and
    zero-variance cases pin t/df to NULL."""
    import math

    from bigdata_etl_customer360_spark.operators.quality import ab_test

    a = [10.0, 12.5, 11.25, 9.75, 13.0]
    bvals = [8.0, 9.5, 7.25, 10.0]
    rows = [("A", v) for v in a] + [("B", v) for v in bvals] + [("C", 1.0), ("A", None)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = ab_test(df, "grp", "value", "A", "B").collect()[0]

    def mv(vs):
        n = len(vs)
        s = sum(vs)
        q = sum(v * v for v in vs)
        return n, s / n, (n * q - s * s) / (n * (n - 1))

    na, ma, va = mv(a)
    nb, mb, vb = mv(bvals)
    sea, seb = va / na, vb / nb
    se2 = sea + seb
    t = (ma - mb) / math.sqrt(se2)
    wdf = se2 * se2 / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["mean_a"] == pytest.approx(ma, rel=1e-12)
    assert got["mean_b"] == pytest.approx(mb, rel=1e-12)
    assert got["diff"] == pytest.approx(ma - mb, rel=1e-12)
    assert got["t_stat"] == pytest.approx(t, rel=1e-12)
    assert got["welch_df"] == pytest.approx(wdf, rel=1e-12)

    # degenerate: B has one point -> no t; constant groups -> no t
    one = ab_test(df, "grp", "value", "A", "C").collect()[0]
    assert one["t_stat"] is None and one["welch_df"] is None
    const = spark.createDataFrame(
        [("A", 1.0)] * 3 + [("B", 2.0)] * 3, "grp string, value double"
    )
    z = ab_test(const, "grp", "value", "A", "B").collect()[0]
    assert z["t_stat"] is None and z["diff"] == pytest.approx(-1.0)


# ------------------------------------------------------------ coverage cut


def test_take_until_share_exact_cut_and_ties(spark):
    """Keep the shortest heaviest prefix reaching num/den of the group
    total; first row always survives; exact-decimal decision; NULL
    weights excluded; weight ties break on order_col."""
    from bigdata_etl_customer360_spark.operators.relational import take_until_share

    rows = [
        ("g1", "a", 50.0), ("g1", "b", 30.0), ("g1", "c", 15.0), ("g1", "d", 5.0),
        ("g2", "x", 10.0), ("g2", "y", 10.0), ("g2", "z", 10.0),
        ("g3", "q", 1.0), ("g3", "r", None),
        # tie group at 50%: a and b tie at 5; cut after first
        ("g4", "b", 5.0), ("g4", "a", 5.0),
    ]
    df = spark.createDataFrame(rows, "g string, item string, w double")
    got = sorted(
        (r["g"], r["item"])
        for r in take_until_share(df, ["g"], "w", "item", 9, 10).collect()
    )
    assert got == [("g1", "a"), ("g1", "b"), ("g1", "c"),
                   ("g2", "x"), ("g2", "y"), ("g2", "z"),
                   ("g3", "q"), ("g4", "a"), ("g4", "b")]
    half = sorted(
        (r["g"], r["item"])
        for r in take_until_share(df, ["g"], "w", "item", 1, 2).collect()
    )
    # g1: a alone reaches 50% exactly -> prev_cum(b)=50, 50*2 < 100*1 false
    assert ("g1", "a") in half and ("g1", "b") not in half
    # g4 tie: 'a' sorts first (order_col), reaches exactly half -> b drops
    assert ("g4", "a") in half and ("g4", "b") not in half


# ------------------------------------------------------------ prefix jaccard


def test_jaccard_pairs_prefix_equals_full_index(spark):
    """Prefix filtering loses no pair and admits no extra: output ==
    ngram_jaccard_pairs (full inverted index) across thresholds on a
    randomized small-vocab corpus with planted near-dups, and the
    threshold boundary is exact (integer cross-multiplication)."""
    import random

    from bigdata_etl_customer360_spark.operators.dedup import (
        jaccard_pairs_prefix,
        ngram_jaccard_pairs,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(4, 14)))
             for _ in range(40)]
    texts += [texts[0], texts[1] + " extra", "w0 w1 w2 w3 w4 w5",
              "w0 w1 w2 w3 w4 w9"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    for num, den in ((1, 2), (3, 10), (4, 5)):
        full = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, threshold=num / den).collect()
            # float-threshold twin: exclude pairs only admitted by float
            # fuzz (none expected; the sets must agree exactly)
        }
        pref = {
            (r["id_a"], r["id_b"])
            for r in jaccard_pairs_prefix(
                df, threshold_num=num, threshold_den=den
            ).collect()
        }
        assert pref == full, (num, den, pref ^ full)
    with pytest.raises(ValueError):
        jaccard_pairs_prefix(df, threshold_num=3, threshold_den=2)


def test_ntile_closed_form_matches_window_ntile(spark):
    """_ntile_from_rownum must be bit-identical to SQL NTILE for every
    (n, k) shape: even split, remainder buckets, n < k, n == k."""
    from pyspark.sql import Window

    from bigdata_etl_customer360_spark.operators.relational import (
        _ntile_from_rownum,
    )

    for n, k in [(10, 5), (13, 5), (3, 5), (5, 5), (1, 4), (17, 4), (100, 7)]:
        df = spark.range(1, n + 1).select(
            F.col("id").alias("rn"), F.lit(n).cast("long").alias("n")
        )
        got = {
            r["rn"]: r["b"]
            for r in df.select(
                "rn", _ntile_from_rownum(F.col("rn"), F.col("n"), k).alias("b")
            ).collect()
        }
        w = Window.orderBy("rn")
        want = {
            r["rn"]: r["b"]
            for r in df.repartition(1)
            .select("rn", F.ntile(k).over(w).alias("b"))
            .collect()
        }
        assert got == want, (n, k)


def test_rfm_scores_small_pinned(spark):
    """RFM on a crafted 5-customer ledger: exact recency/frequency/
    monetary, deterministic quantile scores, pinned segment ladder."""
    from bigdata_etl_customer360_spark.operators.relational import rfm_scores

    rows = []
    # cust 1: recent, frequent, big spender -> champion
    for d, amt in [("2024-01-10", 500.0), ("2024-01-11", 600.0),
                   ("2024-01-12", 700.0), ("2024-01-13", 800.0)]:
        rows.append((1, f"{d} 12:00:00", amt))
    # cust 2: recent but one small order
    rows.append((2, "2024-01-12 12:00:00", 10.0))
    # cust 3: stale, frequent, mid spend
    for d in ["2023-01-01", "2023-01-02", "2023-01-03"]:
        rows.append((3, f"{d} 12:00:00", 100.0))
    # cust 4: stale, one order
    rows.append((4, "2023-06-01 12:00:00", 50.0))
    # cust 5: mid recency, two orders
    rows.append((5, "2023-11-01 12:00:00", 200.0))
    rows.append((5, "2023-11-02 12:00:00", 200.0))
    df = spark.createDataFrame(rows, ["custkey", "ts", "amount"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        r["custkey"]: r
        for r in rfm_scores(df, "custkey", "ts", "amount",
                            "2024-01-14 00:00:00").collect()
    }
    assert out[1]["recency_days"] == 0 and out[1]["frequency"] == 4
    assert out[1]["monetary"] == 2600.0
    assert out[1]["segment"] == "champion"
    assert out[4]["recency_days"] == 226
    # 5 customers, 5 bins: every score is a distinct 1..5 permutation
    for col in ("r_score", "f_score", "m_score"):
        assert sorted(out[c][col] for c in out) == [1, 2, 3, 4, 5]
    # recency order: 1 (most recent) > 2 > 5 > 4 > 3
    assert out[1]["r_score"] == 5 and out[2]["r_score"] == 4
    assert out[5]["r_score"] == 3 and out[3]["r_score"] == 1
    # cust 3: stale + frequent -> at_risk
    assert out[3]["segment"] == "at_risk"


def test_rfm_scores_partition_independent(spark):
    """Scores must not depend on input partitioning (the distributed
    numbering pins a total order)."""
    from bigdata_etl_customer360_spark.operators.relational import rfm_scores

    rows = [
        (i % 37, f"2023-{1 + i % 12:02d}-15 08:00:00", float(10 + i % 90))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "amt"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    a = rfm_scores(df, "k", "ts", "amt", "2024-02-01 00:00:00")
    b = rfm_scores(
        df.repartition(7, "amt"), "k", "ts", "amt", "2024-02-01 00:00:00"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_count_min_never_undercounts_and_merges(spark):
    """CMS one-sided guarantee: est >= exact for every value, exact
    when width is collision-free; two partial sketches union+re-sum to
    the full-stream sketch (cells are additive)."""
    from bigdata_etl_customer360_spark.operators.quality import (
        count_min_lookup,
        count_min_sketch,
    )

    rows = [(f"v{i % 13}",) for i in range(400)] + [(None,)] * 5
    df = spark.createDataFrame(rows, ["tok"])
    exact = {r["tok"]: r["n"] for r in df.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")).collect() if r["tok"] is not None}

    # tiny width forces collisions; depth-4 min still never undercounts
    sk = count_min_sketch(df, "tok", depth=4, width=4)
    est = {r["tok"]: r["est"] for r in count_min_lookup(
        sk, df, "tok", depth=4, width=4).collect()}
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact)

    # generous width: no collisions among 13 values -> est == exact
    skw = count_min_sketch(df, "tok", depth=4, width=4096)
    estw = {r["tok"]: r["est"] for r in count_min_lookup(
        skw, df, "tok", depth=4, width=4096).collect()}
    assert estw == exact

    # mergeability: sketch(A) union sketch(B) re-summed == sketch(A+B)
    a, b = df.randomSplit([0.5, 0.5], seed=7)
    merged = (
        count_min_sketch(a, "tok", depth=4, width=4)
        .unionByName(count_min_sketch(b, "tok", depth=4, width=4))
        .groupBy("d", "b").agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, sk.collect())
    )


def test_count_min_absent_probe_is_bounded(spark):
    """A value never seen still gets an estimate (collision mass only),
    and an empty bucket row reads 0 — never NULL, never negative."""
    from bigdata_etl_customer360_spark.operators.quality import (
        count_min_lookup,
        count_min_sketch,
    )

    df = spark.createDataFrame([("a",), ("b",), ("a",)], ["tok"])
    sk = count_min_sketch(df, "tok", depth=3, width=64)
    probes = spark.createDataFrame([("zz",), ("a",)], ["tok"])
    got = {r["tok"]: r["est"] for r in count_min_lookup(
        sk, probes, "tok", depth=3, width=64).collect()}
    assert got["a"] >= 2 and got["zz"] >= 0


def test_mann_whitney_textbook_ties(spark):
    """Hand-checkable sample with cross-group ties: midranks, exact U
    halves, tie-corrected z."""
    from bigdata_etl_customer360_spark.operators.quality import mann_whitney

    a = [1.0, 2.0, 3.0, 3.0, 5.0]
    b = [3.0, 4.0, 5.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = mann_whitney(df, "g", "v", "a", "b").first()
    # combined sorted: 1,2,3,3,3,4,5,5,6 -> midranks 1,2,4,4,4,6,7.5,7.5,9
    # R_a = 1+2+4+4+7.5 = 18.5 ; U_a = 18.5 - 15 = 3.5 ; U_b = 20-3.5
    assert got["n_a"] == 5 and got["n_b"] == 4
    assert got["u_a"] == 3.5 and got["u_b"] == 16.5
    # z = (3.5 - 10) / sqrt(20/12 * (10 - ((27-3)+(8-2))/(9*8)))
    import math
    want_z = (3.5 - 10.0) / math.sqrt(20.0 / 12.0 * (10.0 - 30.0 / 72.0))
    assert abs(got["z"] - want_z) < 1e-12


def test_mann_whitney_degenerate_and_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.quality import mann_whitney

    # all values tied -> zero variance -> z NULL, U still defined
    tied = spark.createDataFrame(
        [("a", 7.0)] * 3 + [("b", 7.0)] * 2, ["g", "v"]
    )
    r = mann_whitney(tied, "g", "v", "a", "b").first()
    assert r["z"] is None and r["u_a"] == 3.0  # n_a*n_b/2

    # empty group b
    only_a = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["g", "v"])
    r2 = mann_whitney(only_a, "g", "v", "a", "b").first()
    assert r2["n_b"] == 0 and r2["z"] is None

    import random

    rng = random.Random(3)
    rows = [("a" if rng.random() < 0.5 else "b",
             float(rng.randrange(50))) for _ in range(600)]
    df = spark.createDataFrame(rows, ["g", "v"])
    x = tuple(mann_whitney(df, "g", "v", "a", "b").first())
    y = tuple(mann_whitney(df.repartition(13), "g", "v", "a", "b").first())
    assert x == y


def test_autocorrelation_matches_numpy_definition(spark):
    """ACF at lags 1..4 equals the mean-centered definition computed in
    numpy on the same values (bitwise-close; the operator is exact
    decimal moments + one IEEE finale)."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.temporal import (
        autocorrelation,
    )

    vals = [round(10 + 5 * math.sin(i / 2) + (i % 3), 2) for i in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["t", "v"]
    )
    got = {r["lag"]: (r["n_pairs"], r["r"])
           for r in autocorrelation(df, "t", "v", max_lag=4).collect()}
    x = np.array(vals)
    mu = x.mean()
    den = ((x - mu) ** 2).sum()
    for k in range(1, 5):
        num = ((x[:-k] - mu) * (x[k:] - mu)).sum()
        n_pairs, r = got[k]
        assert n_pairs == 40 - k
        assert abs(r - num / den) < 1e-9, k


def test_autocorrelation_degenerate_and_groups(spark):
    from bigdata_etl_customer360_spark.operators.temporal import (
        autocorrelation,
    )

    # constant series: den == 0 -> r NULL, pairs still counted
    const = spark.createDataFrame([(i, 5.0) for i in range(6)], ["t", "v"])
    rows = autocorrelation(const, "t", "v", max_lag=2).collect()
    assert all(r["r"] is None for r in rows)
    assert {r["lag"]: r["n_pairs"] for r in rows} == {1: 5, 2: 4}

    # n <= lag: no pairs -> NULL r, 0 pairs
    tiny = spark.createDataFrame([(0, 1.0), (1, 2.0)], ["t", "v"])
    r3 = {r["lag"]: r for r in
          autocorrelation(tiny, "t", "v", max_lag=3).collect()}
    assert r3[2]["n_pairs"] == 0 and r3[2]["r"] is None
    assert r3[3]["n_pairs"] == 0 and r3[3]["r"] is None

    # groups are independent: an alternating and a linear series
    rows = [("a", i, float(i % 2)) for i in range(10)]
    rows += [("b", i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = {(r["g"], r["lag"]): r["r"]
           for r in autocorrelation(df, "t", "v", max_lag=1,
                                    group_cols=["g"]).collect()}
    assert out[("a", 1)] < -0.8 and out[("b", 1)] > 0.6


def test_kaplan_meier_textbook_curve(spark):
    """Classic worked example with censoring and tied event times: the
    product-limit values match the hand computation exactly."""
    from bigdata_etl_customer360_spark.operators.temporal import kaplan_meier

    # durations (event=1 observed, 0 censored):
    # events at t=2 (x2), t=5; censored at t=3, t=6
    rows = [(2, 1), (2, 1), (3, 0), (5, 1), (6, 0)]
    df = spark.createDataFrame(rows, ["dur", "ev"])
    got = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert set(got) == {2, 5}  # censor-only times emit no row
    assert got[2]["n_risk"] == 5 and got[2]["n_events"] == 2
    assert got[2]["survival"] == 1.0 * (1.0 - 2.0 / 5.0)
    assert got[5]["n_risk"] == 2 and got[5]["n_events"] == 1
    assert got[5]["survival"] == (1.0 - 2.0 / 5.0) * (1.0 - 1.0 / 2.0)


def test_kaplan_meier_groups_and_partition_independence(spark):
    from bigdata_etl_customer360_spark.operators.temporal import kaplan_meier

    import random

    rng = random.Random(11)
    rows = [
        ("a" if i % 2 else "b", rng.randrange(1, 15), rng.randrange(2))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["g", "dur", "ev"])
    x = sorted(map(tuple, kaplan_meier(
        df, "dur", "ev", group_cols=["g"]).collect()))
    y = sorted(map(tuple, kaplan_meier(
        df.repartition(9), "dur", "ev", group_cols=["g"]).collect()))
    assert x == y and len(x) > 0
    # survival is non-increasing within each group
    by_g: dict = {}
    for g, t, n, d, s in x:
        by_g.setdefault(g, []).append((t, s))
    for g, curve in by_g.items():
        ss = [s for _, s in sorted(curve)]
        assert all(a >= b for a, b in zip(ss, ss[1:]))

    # all-censored group emits nothing
    cens = spark.createDataFrame([(4, 0), (7, 0)], ["dur", "ev"])
    assert kaplan_meier(cens, "dur", "ev").count() == 0


def test_chi2_features_planted_discriminator(spark):
    """A token exclusive to one label tops that label's ranking with the
    hand-computed chi2; shared filler tokens score 0."""
    from bigdata_etl_customer360_spark.operators.textstats import (
        chi2_features,
    )

    rows = [(i, "alpha filler one", "A") for i in range(4)]
    rows += [(i + 10, "beta filler one", "B") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = chi2_features(df, "doc_id", "text", "lang", top_k=2).collect()
    top = {(r["label"], r["rank"]): r for r in out}
    assert top[("A", 1)]["token"] == "alpha"
    assert top[("B", 1)]["token"] == "beta"
    # a=4 b=0 c=0 d=4, N=8: chi2 = 8*(16)^2 / (4*4*4*4) = 8.0
    assert top[("A", 1)]["chi2"] == 8.0
    # filler appears in every doc -> (c+d) marginal is fine but
    # b+d ... token in ALL docs: a=4 b=4 c=0 d=0 -> den has (c+d)=0 -> NULL
    filler = [r for r in out if r["token"] == "filler"]
    assert all(r["chi2"] is None for r in filler)


def test_chi2_features_null_label_and_ties(spark):
    from bigdata_etl_customer360_spark.operators.textstats import (
        chi2_features,
    )

    rows = [
        (1, "x y", "A"), (2, "x z", "A"),
        (3, "y z", "B"), (4, "y x", "B"),
        (5, "x y z", None),  # excluded entirely
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = chi2_features(df, "doc_id", "text", "lang", top_k=3).collect()
    assert all(r["label"] in ("A", "B") for r in out)
    # deterministic tie-break: equal chi2 ordered by token
    a_rows = sorted(
        [(r["rank"], r["token"]) for r in out if r["label"] == "A"]
    )
    assert a_rows == sorted(a_rows)


def test_rrf_fuse_hand_example(spark):
    """Two 3-item lists with partial overlap: scores equal the written
    1/(k+rank) sums; an id in one list only gets a single term."""
    from bigdata_etl_customer360_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], ["doc_id", "rank"]
    )
    vec = spark.createDataFrame(
        [(11, 1), (10, 2), (13, 3)], ["doc_id", "rank"]
    )
    got = {r["doc_id"]: r for r in
           rrf_fuse([lex, vec], k=60).collect()}
    assert got[10]["rrf_score"] == 1.0 / 61.0 + 1.0 / 62.0
    assert got[11]["rrf_score"] == 1.0 / 62.0 + 1.0 / 61.0
    assert got[12]["rrf_score"] == 1.0 / 63.0 + 0.0
    assert got[13]["rank_1"] is None and got[13]["n_lists"] == 1
    # fused order: the doubly-ranked docs beat the single-list ones
    top = rrf_fuse([lex, vec], k=60, top_k=2).collect()
    assert {r["doc_id"] for r in top} == {10, 11}


def test_rrf_fuse_single_list_and_validation(spark):
    import pytest as _pt

    from bigdata_etl_customer360_spark.operators.similarity import rrf_fuse

    with _pt.raises(ValueError):
        rrf_fuse([])
    one = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    rows = rrf_fuse([one]).collect()
    assert {r["doc_id"]: r["rrf_score"] for r in rows} == {
        1: 1.0 / 61.0, 2: 1.0 / 62.0
    }


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0 in
    one direction only, while symmetric Jaccard stays tiny."""
    from bigdata_etl_customer360_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        ["doc_id", "text"],
    )
    got = {
        (r["id_contained"], r["id_container"]): r["containment"]
        for r in containment_pairs(df, threshold_num=4,
                                   threshold_den=5).collect()
    }
    assert got == {(1, 2): 1.0}  # directed: only small-in-big
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0


def test_containment_exact_threshold_and_max_df(spark):
    from bigdata_etl_customer360_spark.operators.dedup import (
        containment_pairs,
    )

    # doc 1 has 5 shingles ("a b c d e f g" -> 5 trigrams), doc 2 shares
    # exactly 4 of them -> containment(1 in 2) = 4/5: >= at num/den=4/5,
    # dropped at 5/6
    d1 = "a b c d e f g"
    d2 = "a b c d e f zz"  # shares trigrams abc bcd cde def (4 of 5)
    df = spark.createDataFrame([(1, d1), (2, d2)], ["doc_id", "text"])
    at45 = containment_pairs(df, threshold_num=4, threshold_den=5).collect()
    assert {(r["id_contained"], r["id_container"], r["n_common"])
            for r in at45} == {(1, 2, 4), (2, 1, 4)}
    at56 = containment_pairs(df, threshold_num=5, threshold_den=6).collect()
    assert at56 == []

    # max_df=1 drops every shared shingle from the index -> no pairs,
    # but the operator still runs (denominators from full sizes)
    assert containment_pairs(df, threshold_num=1, threshold_den=5,
                             max_df=1).count() == 0


def test_bootstrap_ci_brackets_mean_and_deterministic(spark):
    from bigdata_etl_customer360_spark.operators.quality import bootstrap_ci

    rows = [(i, float(50 + (i * 37) % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "v"])
    r = bootstrap_ci(df, "id", "v", n_boot=100).first()
    assert r["n"] == 2000 and r["n_boot"] == 100
    # CI must bracket the sample mean and be tight at n=2000
    assert r["boot_lo"] < r["mean"] < r["boot_hi"]
    assert (r["boot_hi"] - r["boot_lo"]) < 10.0
    # partition-independent, bit-exact
    r2 = bootstrap_ci(df.repartition(17), "id", "v", n_boot=100).first()
    assert tuple(r) == tuple(r2)


def test_bootstrap_ci_weight_distribution_is_poisson1(spark):
    """The md5-coin weights must draw approximately Poisson(1): mean
    weight ~ 1 and ~36.8% zeros (exactness of the CUTOFFS, not the
    RNG, is the contract — this is a sanity check of the ladder)."""
    from bigdata_etl_customer360_spark.operators.quality import (
        _POISSON1_CUTS,
    )

    df = spark.range(0, 20000).select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("boot0:"), F.col("id").cast("string"))),
                1, 8,
            ), 16, 10,
        ).cast("bigint").alias("u")
    )
    w = F.lit(8)
    for k in range(len(_POISSON1_CUTS) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POISSON1_CUTS[k]), F.lit(k)).otherwise(w)
    stats = df.select(w.alias("w")).agg(
        F.avg("w").alias("m"),
        F.avg((F.col("w") == 0).cast("double")).alias("z"),
    ).first()
    assert abs(stats["m"] - 1.0) < 0.03
    assert abs(stats["z"] - 0.3679) < 0.02


def test_wilson_lower_bound_ranks_by_evidence(spark):
    """3/3 must NOT outrank 95/100; hand formula parity; 0 trials NULL."""
    import math

    from bigdata_etl_customer360_spark.operators.quality import (
        wilson_lower_bound,
    )

    df = spark.createDataFrame(
        [("tiny", 3, 3), ("big", 95, 100), ("none", 0, 0)],
        ["g", "s", "n"],
    )
    got = {r["g"]: r["w"] for r in df.select(
        "g", wilson_lower_bound(F.col("s"), F.col("n")).alias("w")
    ).collect()}
    assert got["none"] is None
    assert got["big"] > got["tiny"]
    z = 1.959963984540054
    p, n = 0.95, 100.0
    want = (p + z * z / (2 * n)
            - z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)) \
        / (1 + z * z / n)
    assert abs(got["big"] - want) < 1e-15


def test_mad_outliers_heavy_tail_vs_zscore(spark):
    """A planted 1000x spike is a MAD outlier even though it drags the
    stddev enough to hide itself from a 3-sigma rule at small n."""
    from bigdata_etl_customer360_spark.operators.quality import mad_outliers

    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10000.0]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    r = mad_outliers(df, "v").first()
    assert r["n"] == 8 and r["n_outliers"] == 1
    assert 9.0 <= r["median"] <= 11.0
    # grouped: each group independent
    rows = [("a", v) for v in vals] + [("b", 5.0), ("b", 5.1), ("b", 4.9)]
    out = {r["g"]: r["n_outliers"] for r in mad_outliers(
        spark.createDataFrame(rows, ["g", "v"]), "v",
        group_cols=["g"]).collect()}
    assert out == {"a": 1, "b": 0}


def test_cusum_changepoint_planted_shift(spark):
    from bigdata_etl_customer360_spark.operators.temporal import (
        cusum_changepoint,
    )

    vals = [10.0, 10.0, 10.0, 20.0, 20.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["t_idx", "v"]
    )
    r = cusum_changepoint(df, "t_idx", "v").first()
    # C_t - t*mean = -4, -8, -12, -6, 0 -> peak |12| at position 3
    assert r["t"] == 3 and r["split_at"] == 2
    assert r["max_cusum"] == 12.0


def test_cusum_ties_groups_and_partition_independence(spark):
    from bigdata_etl_customer360_spark.operators.temporal import (
        cusum_changepoint,
    )

    # symmetric V-shape: |T| ties at t=1 and t=2 -> earliest wins
    sym = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 0.0), (4, 10.0)], ["t_idx", "v"]
    )
    r = cusum_changepoint(sym, "t_idx", "v").first()
    assert r["t"] == 1  # |T| = 20, 0, 20, 0 (x n-units): first peak pinned

    rows = [("a", i, 1.0 if i < 30 else 2.0) for i in range(60)]
    rows += [("b", i, float(i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, ["g", "t_idx", "v"])
    x = sorted(map(tuple, cusum_changepoint(
        df, "t_idx", "v", group_cols=["g"]).collect()))
    y = sorted(map(tuple, cusum_changepoint(
        df.repartition(7), "t_idx", "v", group_cols=["g"]).collect()))
    assert x == y
    a = [r for r in x if r[0] == "a"][0]
    assert a[2] == 30  # the shift point


def test_token_jsd_bounds_and_symmetry(spark):
    import math

    from bigdata_etl_customer360_spark.operators.textstats import token_jsd

    # identical corpora -> JSD == 0
    same = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], ["g", "text"]
    )
    assert token_jsd(same, "g", "text", "a", "b").first()["jsd"] == 0.0

    # fully disjoint vocabularies, uniform -> JSD == ln 2
    disj = spark.createDataFrame(
        [("a", "p q"), ("b", "r s")], ["g", "text"]
    )
    r = token_jsd(disj, "g", "text", "a", "b").first()
    assert abs(r["jsd"] - math.log(2.0)) < 1e-8
    assert r["n_tokens_a"] == 2 and r["n_tokens_b"] == 2

    # symmetric in its arguments
    mixed = spark.createDataFrame(
        [("a", "x x y"), ("b", "x y y z")], ["g", "text"]
    )
    j1 = token_jsd(mixed, "g", "text", "a", "b").first()["jsd"]
    j2 = token_jsd(mixed, "g", "text", "b", "a").first()["jsd"]
    assert abs(j1 - j2) < 1e-8 and 0.0 < j1 < math.log(2.0)


def test_quantile_bins_equal_population_and_ties(spark):
    from bigdata_etl_customer360_spark.operators.quality import quantile_bins

    # 100 distinct values, 4 bins -> exactly 25 per bin
    df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    out = quantile_bins(df, "v", n_bins=4)
    counts = {r["bin"]: r["n"] for r in out.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 25, 2: 25, 3: 25, 4: 25}

    # heavy ties at one value fall LEFT together (never split)
    tied = spark.createDataFrame(
        [(1.0,)] * 50 + [(2.0,)] * 5 + [(None,)], ["v"]
    )
    out2 = quantile_bins(tied, "v", n_bins=2).collect()
    by_v = {}
    for r in out2:
        by_v.setdefault(r["v"], set()).add(r["bin"])
    assert by_v[1.0] == {1} and by_v[2.0] == {2}
    assert by_v[None] == {None}

    import pytest as _pt

    with _pt.raises(ValueError):
        quantile_bins(df, "v", n_bins=1)


def test_powerlaw_alpha_formula_and_edges(spark):
    import math

    from bigdata_etl_customer360_spark.operators.quality import (
        powerlaw_alpha,
    )

    # geometric counts over doubling values: a clean discrete power law
    vals = []
    for k, cnt in [(2, 400), (4, 100), (8, 25), (16, 6), (32, 1)]:
        vals += [k] * cnt
    df = spark.createDataFrame([(v,) for v in vals], ["deg"])
    r = powerlaw_alpha(df, "deg", xmin=2).first()
    # mirror the exact in-order fold: per distinct value ascending
    ll = 0.0
    for x, c in [(2, 400), (4, 100), (8, 25), (16, 6), (32, 1)]:
        ll = ll + float(c) * math.log(float(x) / 1.5)
    want = round(1.0 + len(vals) / ll, 8)
    assert r["n_tail"] == len(vals) and abs(r["alpha"] - want) < 1e-12
    # doubling-with-quarter-counts ~ p(x) ∝ x^-2: alpha near 3 for the
    # continuous-approx MLE on this discrete grid... just sanity-band it
    assert 2.0 < r["alpha"] < 4.0

    # below-xmin and NULL rows excluded; empty tail -> NULL alpha
    sparse = spark.createDataFrame([(1,), (1,), (None,)], ["deg"])
    r2 = powerlaw_alpha(sparse, "deg", xmin=2).first()
    assert r2["n_tail"] == 0 and r2["alpha"] is None


def test_poisson_hex_ladder_equals_integer_ladder(spark):
    """The hex-string cutoff ladder the operator uses must agree with
    the integer-cutoff ladder the constants were derived from, on every
    slice position of real digests."""
    from bigdata_etl_customer360_spark.operators.quality import (
        _POISSON1_CUTS,
        _POISSON1_CUTS_HEX,
    )

    df = spark.range(0, 5000).select(
        F.md5(F.concat(F.lit("x:"), F.col("id").cast("string"))).alias("h")
    )
    for j in range(4):
        s = F.substring("h", 1 + 8 * j, 8)
        u = F.conv(s, 16, 10).cast("bigint")
        wi = F.lit(8)
        wh = F.lit(8)
        for k in range(len(_POISSON1_CUTS) - 1, -1, -1):
            wi = F.when(u < F.lit(_POISSON1_CUTS[k]), F.lit(k)).otherwise(wi)
            wh = F.when(
                s < F.lit(_POISSON1_CUTS_HEX[k]), F.lit(k)
            ).otherwise(wh)
        assert df.filter(wi != wh).count() == 0, j


def test_isotonic_fit_textbook_pava(spark):
    """Classic PAVA example: violators pool to the block mean; already-
    monotone prefixes stay untouched; output non-decreasing."""
    from bigdata_etl_customer360_spark.operators.quality import isotonic_fit

    # y at x=1..6: 1, 3, 2, 4, 6, 5  -> pools (3,2)->2.5 and (6,5)->5.5
    rows = [(1, 1.0), (2, 3.0), (3, 2.0), (4, 4.0), (5, 6.0), (6, 5.0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {r["x"]: r["fitted"] for r in isotonic_fit(
        df, "x", "y", scale=2).collect()}
    assert got == {1: 1.0, 2: 2.5, 3: 2.5, 4: 4.0, 5: 5.5, 6: 5.5}

    # cascade: 5, 1, 1 pools ALL THREE (5,1 -> 3; 3 > 1 -> 7/3)
    rows2 = [(1, 5.0), (2, 1.0), (3, 1.0)]
    got2 = {r["x"]: r["fitted"] for r in isotonic_fit(
        spark.createDataFrame(rows2, ["x", "y"]), "x", "y",
        scale=2).collect()}
    want = round(7.0 / 3.0, 8)
    assert all(abs(v - want) < 1e-9 for v in got2.values())


def test_isotonic_fit_weighted_groups_partition_independent(spark):
    from bigdata_etl_customer360_spark.operators.quality import isotonic_fit

    import random

    rng = random.Random(23)
    rows = [("g%d" % (i % 3), rng.randrange(12), float(rng.randrange(2)))
            for i in range(600)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    a = sorted(map(tuple, isotonic_fit(
        df, "x", "y", group_cols=["g"]).collect()))
    b = sorted(map(tuple, isotonic_fit(
        df.repartition(13), "x", "y", group_cols=["g"]).collect()))
    assert a == b
    # non-decreasing within each group, n sums to rows per group
    by_g: dict = {}
    for g, x, n, f in a:
        by_g.setdefault(g, []).append((x, n, f))
    for g, pts in by_g.items():
        pts.sort()
        fs = [f for _, _, f in pts]
        assert all(p <= q for p, q in zip(fs, fs[1:]))
        assert sum(n for _, n, _ in pts) == 200


def test_gini_coefficient_bounds_and_ties(spark):
    from bigdata_etl_customer360_spark.operators.quality import (
        gini_coefficient,
    )

    # perfect equality -> 0
    eq = spark.createDataFrame([(10.0,)] * 8, ["v"])
    assert gini_coefficient(eq, "v").first()["gini"] == 0.0

    # single holder of everything -> (n-1)/n
    n = 10
    one = spark.createDataFrame([(0.0,)] * (n - 1) + [(100.0,)], ["v"])
    r = gini_coefficient(one, "v").first()
    assert abs(r["gini"] - (n - 1) / n) < 1e-12

    # hand case [1,2,3,4]: G = (2*(1+4+9+16) - 5*10) / (4*10) = 10/40
    hand = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], ["v"])
    assert gini_coefficient(hand, "v").first()["gini"] == 0.25

    # ties + partitioning never change the statistic
    import random
    rng = random.Random(31)
    rows = [(float(rng.randrange(5)),) for _ in range(500)]
    df = spark.createDataFrame(rows, ["v"])
    a = gini_coefficient(df, "v").first()
    b = gini_coefficient(df.repartition(11), "v").first()
    assert tuple(a) == tuple(b)
    # negatives excluded, all-zero pins NULL
    z = spark.createDataFrame([(0.0,), (0.0,), (-5.0,)], ["v"])
    rz = gini_coefficient(z, "v").first()
    assert rz["n"] == 2 and rz["gini"] is None


def test_benford_digits_profile(spark):
    import math

    from bigdata_etl_customer360_spark.operators.quality import (
        benford_digits,
    )

    # exact geometric sample: value 10^(k/9) sweeps leading digits
    rows = [(round(10 ** (k / 90.0), 2),) for k in range(1, 181)]
    rows += [(0.0,), (None,)]  # excluded
    df = spark.createDataFrame(rows, ["v"])
    out = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    assert sum(r["n_obs"] for r in out.values()) == 180
    # log-uniform data follows Benford closely: digit 1 ~ 30%
    assert abs(out[1]["p_observed"] - math.log10(2)) < 0.03
    assert out[1]["p_benford"] == round(math.log10(2), 8)
    # chi2 parts are small for conforming data
    assert sum(r["chi2_part"] for r in out.values()) < 5.0


def test_target_encode_shrinkage(spark):
    from bigdata_etl_customer360_spark.operators.quality import target_encode

    # global mean = 0.5; rare category with extreme targets shrinks hard
    rows = [("common", float(i % 2)) for i in range(100)]
    rows += [("rare", 1.0), ("rare", 1.0)]
    df = spark.createDataFrame(rows, ["cat", "y"])
    got = {r["cat"]: r for r in target_encode(df, "cat", "y", m=10.0).collect()}
    gmean = (50 + 2) / 102.0
    assert abs(got["common"]["cat_mean"] - 0.5) < 1e-12
    want_rare = (2.0 + 10.0 * gmean) / (2.0 + 10.0)
    assert abs(got["rare"]["encoded"] - want_rare) < 1e-12
    # rare encoding sits between global mean and raw mean
    assert gmean < got["rare"]["encoded"] < 1.0
    # nulls excluded
    dfn = spark.createDataFrame(rows + [(None, 1.0), ("x", None)], ["cat", "y"])
    assert {r["cat"] for r in target_encode(dfn, "cat", "y").collect()} == {
        "common", "rare"
    }


def test_seasonal_index_planted_weekly_pattern(spark):
    from bigdata_etl_customer360_spark.operators.temporal import (
        seasonal_index,
    )

    # 70 consecutive days; day_idx 3 always 2x the base
    rows = []
    for d in range(70):
        v = 200.0 if d % 7 == 3 else 100.0
        rows.append((d * 86400, v))
    df = spark.createDataFrame(rows, ["sec", "v"]).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    got = {r["day_idx"]: r for r in seasonal_index(df, "ts", "v").collect()}
    assert set(got) == set(range(7))
    overall = (200.0 + 6 * 100.0) / 7.0
    assert abs(got[3]["seasonal_index"] - 200.0 / overall) < 1e-12
    for d in set(range(7)) - {3}:
        assert abs(got[d]["seasonal_index"] - 100.0 / overall) < 1e-12
        assert got[d]["n_days"] == 10


def test_decompose_daily_recovers_planted_components(spark):
    """y = linear trend + weekly pattern: a 7-day centered MA covers
    each weekday exactly once, so it removes the seasonal EXACTLY —
    trend recovered as the line, seasonal as the (centered) planted
    offsets, residual 0 on every full-window day."""
    from bigdata_etl_customer360_spark.operators.temporal import decompose_daily

    season = [4.0, -2.0, 1.0, 3.0, -5.0, 0.0, -1.0]  # sums to 0
    rows = []
    for d in range(70):
        y = 100.0 + 2.0 * d + season[d % 7]
        rows.append((d * 86400, y))
    df = spark.createDataFrame(rows, ["sec", "v"]).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    got = {r["day"]: r for r in decompose_daily(df, "ts", "v").collect()}
    assert len(got) == 70
    for d in range(70):
        r = got[d]
        assert r["day_idx"] == d % 7
        assert r["y"] == pytest.approx(100.0 + 2.0 * d + season[d % 7])
        if d < 3 or d > 66:  # incomplete centered window
            assert r["trend"] is None and r["resid"] is None
        else:
            assert r["trend"] == pytest.approx(100.0 + 2.0 * d, abs=1e-9)
            assert r["resid"] == pytest.approx(0.0, abs=1e-9)
        assert r["seasonal"] == pytest.approx(season[d % 7], abs=1e-9)


def test_decompose_daily_gaps_pin_null(spark):
    """A missing day breaks every centered window containing it: trend/
    resid NULL there, seasonal still produced from the complete-window
    days; bad trend_window rejected."""
    from bigdata_etl_customer360_spark.operators.temporal import decompose_daily

    rows = [(d * 86400, 10.0) for d in range(30) if d != 15]
    df = spark.createDataFrame(rows, ["sec", "v"]).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    got = {r["day"]: r for r in decompose_daily(df, "ts", "v").collect()}
    for d in range(12, 19):
        if d != 15:
            assert got[d]["trend"] is None
    assert got[8]["trend"] == pytest.approx(10.0)
    assert got[8]["seasonal"] == pytest.approx(0.0)
    with pytest.raises(ValueError):
        decompose_daily(df, "ts", "v", trend_window=4)


def test_seasonal_index_pre_1970_floor_semantics(spark):
    """Negative epoch seconds: epoch-day must be FLOOR division (not
    truncation, which rounds toward zero) and day_idx pmod (not %, whose
    sign follows the dividend) — pre-1970 timestamps land on the correct
    weekday with day_idx in [0, 7) (ADVICE r8). 1969-12-31 is epoch day
    -1 -> day_idx 6 (Wednesday, one before the Thursday anchor)."""
    from bigdata_etl_customer360_spark.operators.temporal import seasonal_index

    rows = []
    for d in range(-14, 14):  # 4 weeks straddling the epoch
        v = 200.0 if d % 7 == 3 else 100.0  # Python % is already pmod
        rows.append((d * 86400 + 3600, v))  # 01:00, exercises the floor
    df = spark.createDataFrame(rows, ["sec", "v"]).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    got = {r["day_idx"]: r for r in seasonal_index(df, "ts", "v").collect()}
    assert set(got) == set(range(7))
    overall = (200.0 + 6 * 100.0) / 7.0
    assert abs(got[3]["seasonal_index"] - 200.0 / overall) < 1e-12
    for d in set(range(7)) - {3}:
        assert got[d]["n_days"] == 4
        assert abs(got[d]["seasonal_index"] - 100.0 / overall) < 1e-12


def test_ridge_fit2_matches_numpy_and_degenerates_are_defined(spark):
    """ridge_fit2 == numpy solve of the same penalized normal equations;
    collinear drivers and single points stay well-defined (PD system —
    no NULL/NaN branch exists); lam <= 0 rejected."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.quality import ridge_fit2

    rng = np.random.default_rng(3)
    x1 = rng.integers(0, 50, 60)
    x2 = rng.integers(0, 11, 60)
    y = np.round(3.0 * x1 - 2.5 * x2 + 7 + rng.normal(0, 2, 60), 2)
    rows = [("k", int(a), int(b), float(c)) for a, b, c in zip(x1, x2, y)]
    # a collinear key (x2 = 2*x1) and a single-point key
    rows += [("c", i, 2 * i, float(i)) for i in range(10)]
    rows += [("s", 4, 7, 9.0)]
    df = spark.createDataFrame(rows, "k string, x1 int, x2 int, y double")
    got = {r["k"]: r for r in ridge_fit2(df, ["k"], "x1", "x2", "y").collect()}

    def want(mask_rows, lam=1.0):
        X = np.array([[1.0, r[1], r[2]] for r in mask_rows])
        Y = np.array([r[3] for r in mask_rows])
        M = X.T @ X + lam * np.diag([0.0, 1.0, 1.0])
        return np.linalg.solve(M, X.T @ Y)

    for key in ("k", "c", "s"):
        sub = [r for r in rows if r[0] == key]
        w = want(sub)
        r = got[key]
        assert r["n_points"] == len(sub)
        for i, b in enumerate(("b0", "b1", "b2")):
            assert r[b] == pytest.approx(w[i], rel=1e-9, abs=1e-9), (key, b)
        assert all(
            got[key][b] is not None and not math.isnan(got[key][b])
            for b in ("b0", "b1", "b2")
        )
    with pytest.raises(ValueError):
        ridge_fit2(df, ["k"], "x1", "x2", "y", lam=0.0)


def test_daily_anomalies_flags_planted_spike_only(spark):
    """A one-day spike on an otherwise perfect trend+seasonal series is
    the ONLY flagged day (raw z-score would also flag every high-season
    day); window-edge days emit NULL z and flag 0."""
    from bigdata_etl_customer360_spark.operators.temporal import daily_anomalies

    season = [40.0, -20.0, 10.0, 30.0, -50.0, 0.0, -10.0]
    rows = []
    for d in range(70):
        y = 1000.0 + 2.0 * d + season[d % 7] + (500.0 if d == 35 else 0.0)
        rows.append((d * 86400, y))
    df = spark.createDataFrame(rows, ["sec", "v"]).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    got = {r["day"]: r for r in daily_anomalies(df, "ts", "v").collect()}
    flagged = [d for d, r in got.items() if r["is_anomaly"] == 1]
    # the spike perturbs its whole MA window; the spike day itself must
    # dominate (largest |z|) and day 0-2 / 67-69 edges stay NULL
    assert 35 in flagged
    zmax = max((abs(r["z"]), d) for d, r in got.items() if r["z"] is not None)
    assert zmax[1] == 35
    for d in (0, 1, 2, 67, 68, 69):
        assert got[d]["z"] is None and got[d]["is_anomaly"] == 0


def test_bloom_no_false_negatives_and_duplicate_insensitive(spark):
    """The Bloom contract: every member probes in_filter=1 (one-sided —
    false positives allowed, false negatives never), a saturated tiny
    filter DOES false-positive (the bound is real), and the bit array
    is a pure function of the member SET (duplicated inserts change
    nothing — bit_or idempotence)."""
    from pyspark.sql import functions as F

    from bigdata_etl_customer360_spark.operators.quality import (
        bloom_build,
        bloom_contains,
    )

    members = spark.createDataFrame([(i,) for i in range(40)], "v long")
    probes = spark.createDataFrame([(i,) for i in range(200)], "v long")
    # tiny filter: 64 bits, 40 members x 3 hashes -> heavily saturated
    bl = bloom_build(members, "v", m_bits=64, k=3)
    flags = {r["v"]: r["in_filter"] for r in bloom_contains(
        bl, probes, "v", m_bits=64, k=3).collect()}
    assert all(flags[i] == 1 for i in range(40))          # no false negatives
    assert any(flags[i] == 1 for i in range(40, 200))     # saturation -> real fps
    # duplicate inserts leave the words bit-identical
    dup = members.union(members).union(members)
    w1 = sorted((r["w"], r["bits"]) for r in bl.collect())
    w2 = sorted((r["w"], r["bits"]) for r in bloom_build(
        dup, "v", m_bits=64, k=3).collect())
    assert w1 == w2
    # a roomy filter keeps the fp rate near the formula
    bl2 = bloom_build(members, "v", m_bits=4096, k=4)
    f2 = {r["v"]: r["in_filter"] for r in bloom_contains(
        bl2, probes, "v", m_bits=4096, k=4).collect()}
    assert all(f2[i] == 1 for i in range(40))
    fp = sum(f2[i] for i in range(40, 200))
    assert fp <= 5  # (1 - e^(-4*40/4096))^4 ~ 2e-6 per probe; 5 = loud margin


def test_bloom_merge_equals_union_build(spark):
    """Merge law: bloom_merge(build(A), build(B)) is word-for-word equal
    to build(A ∪ B) — bit_or associativity/commutativity/idempotence,
    the property that lets per-shard filters ship and fold without
    touching members again (the CMS additive-merge sibling)."""
    from bigdata_etl_customer360_spark.operators.quality import (
        bloom_build,
        bloom_merge,
    )

    a = spark.createDataFrame([(i,) for i in range(0, 60)], "v long")
    b = spark.createDataFrame([(i,) for i in range(40, 100)], "v long")
    merged = sorted(
        (r["w"], r["bits"])
        for r in bloom_merge(
            bloom_build(a, "v", m_bits=2048, k=3),
            bloom_build(b, "v", m_bits=2048, k=3),
        ).collect()
    )
    direct = sorted(
        (r["w"], r["bits"])
        for r in bloom_build(a.union(b), "v", m_bits=2048, k=3).collect()
    )
    assert merged == direct


def test_bloom_prefilter_keeps_all_members_and_caps_m(spark):
    """Row-level prefilter contract: every member ROW survives (false
    negatives impossible — the transparency claim bloom_semi_revenue
    grades end-to-end), non-member survivors are only fp-rate noise,
    and the driver-collect guard refuses m_bits past the inline cap."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from bigdata_etl_customer360_spark.operators.quality import (
        bloom_build,
        bloom_prefilter,
    )

    members = spark.createDataFrame([(i,) for i in range(50)], "v long")
    fact = spark.createDataFrame(
        [(i % 500, float(i)) for i in range(2000)], "v long, x double"
    )
    bl = bloom_build(members, "v", m_bits=8192, k=4)
    kept = bloom_prefilter(fact, "v", bl, m_bits=8192, k=4)
    member_rows = fact.filter(F.col("v") < 50)
    # every member row survives, with its payload intact
    assert kept.filter(F.col("v") < 50).count() == member_rows.count() == 200
    # fp noise only: survivors beyond members are a small fraction
    assert kept.filter(F.col("v") >= 50).count() <= 100  # of 1800 non-member rows
    with _pytest.raises(ValueError):
        bloom_prefilter(fact, "v", bl, m_bits=1 << 23, k=4)


def test_bloom_prefilter_large_m_same_contract(spark):
    """Cap-sized filters (2^18 bits here) go through the same single
    numpy-backed array Literal as small ones (the 131k-expression-node
    analysis blowup fix) — membership contract intact, original schema
    preserved, output equal to the brute bit definition."""
    from pyspark.sql import functions as F

    from bigdata_etl_customer360_spark.operators.quality import (
        bloom_build,
        bloom_prefilter,
    )

    m_big = 1 << 18
    members = spark.createDataFrame([(i,) for i in range(50)], "v long")
    fact = spark.createDataFrame(
        [(i % 500, float(i)) for i in range(2000)], "v long, x double"
    )
    bl = bloom_build(members, "v", m_bits=m_big, k=4)
    kept = bloom_prefilter(fact, "v", bl, m_bits=m_big, k=4)
    assert kept.columns == fact.columns  # helper column dropped
    assert kept.filter(F.col("v") < 50).count() == 200  # no false negatives
    got = sorted((r["v"], r["x"]) for r in kept.collect())
    # recompute with the brute bit definition: a row survives iff all 4
    # md5 bit positions are set in the built word map
    from bigdata_etl_customer360_spark.operators.quality import _bloom_bit

    wordmap = {int(r["w"]): int(r["bits"]) for r in bl.collect()}
    bits = fact.select(
        "v", "x", *[_bloom_bit(F.col("v"), i, m_big, "bloom").alias(f"b{i}") for i in range(4)]
    ).collect()
    want = sorted(
        (r["v"], r["x"])
        for r in bits
        if all(
            wordmap.get(r[f"b{i}"] // 32, 0) & (1 << (r[f"b{i}"] % 32))
            for i in range(4)
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# maintained IVF×PQ index lifecycle (operators/ann_index, VERDICT r14 task 2)


def _mk_vecs(spark, ids, dim=8, shift=0.0):
    import math as _m

    rows = [
        (int(i), [_m.sin(0.7 * i + 0.31 * d) + shift for d in range(dim)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_ivfpq_index_lifecycle(spark, tmp_path):
    """Build refuses an existing index; append is idempotent (re-folding
    an already-indexed batch adds nothing) and only-new (overlapping ids
    keep their ORIGINAL encoding); a catalog-lost lake re-attaches with
    register_lake and full-probe search still equals brute force."""
    from bigdata_etl_customer360_spark.operators.ann_index import (
        cosine_topk_ivfpq_from_index,
        index_columns,
        ivfpq_index_append,
        ivfpq_index_build,
    )
    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_brute,
    )
    from bigdata_etl_customer360_spark.sources.bucketed import register_lake

    table = "ivfpq_idx_life_t"
    path = str(tmp_path / "codes")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = _mk_vecs(spark, range(0, 40))
    more = _mk_vecs(spark, range(40, 60))
    try:
        ivfpq_index_build(
            spark, base, table, path,
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        with pytest.raises(RuntimeError, match="already exists"):
            ivfpq_index_build(spark, base, table, path, buckets=4)

        ivfpq_index_append(spark, more, table, path)
        assert spark.table(table).count() == 60
        # idempotent + only-new: re-append `more` plus overlapping ids
        ivfpq_index_append(
            spark, more.unionByName(_mk_vecs(spark, range(50, 70))), table, path
        )
        lake = spark.table(table)
        assert lake.count() == 70
        assert lake.select("vec_id").distinct().count() == 70

        full = base.unionByName(more).unionByName(_mk_vecs(spark, range(60, 70)))
        queries = _mk_vecs(spark, range(0, 5))
        expected = sorted(
            map(tuple, cosine_topk_brute(queries, full, k=3).collect())
        )
        got = sorted(
            map(
                tuple,
                cosine_topk_ivfpq_from_index(
                    spark, queries, table, path, k=3, nprobe=4, rerank=10**6
                ).collect(),
            )
        )
        assert got == expected

        # catalog loss: DROP TABLE keeps external files; re-attach and
        # search again — same result, and appends keep working
        spark.sql(f"DROP TABLE {table}")
        register_lake(spark, table, path, index_columns(), "vec_id", 4)
        got2 = sorted(
            map(
                tuple,
                cosine_topk_ivfpq_from_index(
                    spark, queries, table, path, k=3, nprobe=4, rerank=10**6
                ).collect(),
            )
        )
        assert got2 == expected
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivfpq_index_model_roundtrip(spark, tmp_path):
    """The persisted model reloads bit-identically (float64 centroids
    through parquet DOUBLE, int64 codebooks), and the derived arrays are
    recomputed exactly."""
    import numpy as np

    from bigdata_etl_customer360_spark.operators.ann_index import (
        ivfpq_index_build,
        load_model,
    )
    from bigdata_etl_customer360_spark.operators.similarity import (
        _normalized_sample,
        _pq_codebooks,
        _spherical_kmeans,
    )

    table = "ivfpq_idx_rt_t"
    path = str(tmp_path / "codes")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = _mk_vecs(spark, range(0, 40))
    try:
        ivfpq_index_build(
            spark, base, table, path,
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        S = _normalized_sample(base, 4096, "vec_id", "embedding")
        cents = _spherical_kmeans(S, 4, 8)
        resid = S - cents[np.argmax(S @ cents.T, axis=1)]
        _, qbook, qbook_nsq = _pq_codebooks(resid, 4, 4, 8)
        m = load_model(spark, path)
        assert np.array_equal(np.asarray(m.centroids), cents)  # bit-exact
        assert np.array_equal(np.asarray(m.qbook), qbook)
        assert np.array_equal(np.asarray(m.qbook_nsq), qbook_nsq)
        assert m.buckets == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivfpq_index_rebucket_migration(spark, tmp_path):
    """rebucket_lake generalizes the seen-lake bucket evolution to the
    multi-column ANN codes lake: content, search results, and only-new
    appends are identical across the migration."""
    from bigdata_etl_customer360_spark.operators.ann_index import (
        cosine_topk_ivfpq_from_index,
        index_columns,
        ivfpq_index_append,
        ivfpq_index_build,
    )
    from bigdata_etl_customer360_spark.sources.bucketed import rebucket_lake

    table = "ivfpq_idx_rebkt_t"
    path = str(tmp_path / "codes")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = _mk_vecs(spark, range(0, 40))
    queries = _mk_vecs(spark, range(0, 5))
    try:
        ivfpq_index_build(
            spark, base, table, path,
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        before = sorted(
            map(tuple, cosine_topk_ivfpq_from_index(
                spark, queries, table, path, k=3, nprobe=4, rerank=10**6
            ).collect())
        )
        rebucket_lake(spark, table, path, index_columns(), "vec_id", 8)
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert desc.get("Num Buckets") == "8"
        after = sorted(
            map(tuple, cosine_topk_ivfpq_from_index(
                spark, queries, table, path, k=3, nprobe=4, rerank=10**6
            ).collect())
        )
        assert after == before
        # appends keep working only-new at the new width: the append
        # path reads the bucket count from the CATALOG (the migrated
        # spec), not the stored model's stale build-time count
        ivfpq_index_append(spark, _mk_vecs(spark, range(40, 50)), table, path)
        lake = spark.table(table)
        assert lake.count() == 50
        assert lake.select("vec_id").distinct().count() == 50
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ann_model_reuse_is_bit_identical(spark):
    """model= (the pq_fit / ivfpq_fit return) is bit-interchangeable with
    the inline per-call fit — the fits are deterministic, so one model
    shared across searches (the pq_recall/ivfpq_recall certificate
    pattern) cannot move a single row, with or without self-exclusion."""
    from bigdata_etl_customer360_spark.operators.similarity import (
        cosine_topk_ivfpq,
        cosine_topk_pq,
        ivfpq_fit,
        pq_fit,
    )

    base = _mk_vecs(spark, range(0, 60))
    q = _mk_vecs(spark, range(0, 6))

    pm = pq_fit(base, num_subspaces=4, codes_per_subspace=4)
    for kw in ({}, {"exclude_self": False}):
        inline = sorted(map(tuple, cosine_topk_pq(
            q, base, k=3, rerank=10, num_subspaces=4, codes_per_subspace=4,
            **kw,
        ).collect()))
        shared = sorted(map(tuple, cosine_topk_pq(
            q, base, k=3, rerank=10, num_subspaces=4, codes_per_subspace=4,
            model=pm, **kw,
        ).collect()))
        assert inline == shared

    im = ivfpq_fit(base, num_centroids=4, num_subspaces=4, codes_per_subspace=4)
    for kw in ({}, {"exclude_self": False}):
        inline = sorted(map(tuple, cosine_topk_ivfpq(
            q, base, k=3, num_centroids=4, nprobe=2, rerank=10,
            num_subspaces=4, codes_per_subspace=4, **kw,
        ).collect()))
        shared = sorted(map(tuple, cosine_topk_ivfpq(
            q, base, k=3, num_centroids=4, nprobe=2, rerank=10,
            num_subspaces=4, codes_per_subspace=4, model=im, **kw,
        ).collect()))
        assert inline == shared


def test_ivfpq_index_compaction(spark, tmp_path):
    """compact_lake derives the MULTI-COLUMN codes lake's spec (5 columns
    incl. array types, bucketed on vec_id) from the catalog: one pass
    restores one file per non-empty bucket, search results and later
    only-new appends are identical."""
    import os

    from bigdata_etl_customer360_spark.operators.ann_index import (
        cosine_topk_ivfpq_from_index,
        ivfpq_index_append,
        ivfpq_index_build,
    )
    from bigdata_etl_customer360_spark.sources.bucketed import compact_lake

    def _n_files(p):
        return sum(
            1
            for _r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    table = "ivfpq_idx_compact_t"
    path = str(tmp_path / "codes")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    queries = _mk_vecs(spark, range(0, 5))
    try:
        ivfpq_index_build(
            spark, _mk_vecs(spark, range(0, 40)), table, path,
            num_centroids=4, num_subspaces=4, codes_per_subspace=4,
            buckets=4,
        )
        ivfpq_index_append(spark, _mk_vecs(spark, range(40, 50)), table, path)
        ivfpq_index_append(spark, _mk_vecs(spark, range(50, 60)), table, path)
        n_before = _n_files(path)
        assert n_before > 4
        before = sorted(
            map(tuple, cosine_topk_ivfpq_from_index(
                spark, queries, table, path, k=3, nprobe=4, rerank=10**6
            ).collect())
        )

        compact_lake(spark, table, path)

        assert 0 < _n_files(path) <= 4 < n_before
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert desc.get("Num Buckets") == "4"
        after = sorted(
            map(tuple, cosine_topk_ivfpq_from_index(
                spark, queries, table, path, k=3, nprobe=4, rerank=10**6
            ).collect())
        )
        assert after == before
        ivfpq_index_append(spark, _mk_vecs(spark, range(60, 70)), table, path)
        assert spark.table(table).count() == 70
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_session_conf_restores_exact_prior_state(spark):
    """A set key gets its old value back, an unset key is unset again
    (not pinned to its registered default), also when the block raises."""
    from bigdata_etl_customer360_spark.operators.util import session_conf

    custom, registered = "c360.test.session_conf", "spark.sql.limit.initialNumPartitions"
    spark.conf.unset(registered)
    with session_conf(spark, custom, "a"):
        with session_conf(spark, custom, "b"), session_conf(spark, registered, "8"):
            assert (spark.conf.get(custom), spark.conf.get(registered)) == ("b", "8")
        assert spark.conf.get(custom) == "a"
    assert spark.conf.get(custom, None) is None
    assert spark.conf.get(registered, None) is None
    with pytest.raises(RuntimeError, match="boom"):
        with session_conf(spark, custom, "c"):
            raise RuntimeError("boom")
    assert spark.conf.get(custom, None) is None
