"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — the standard pretraining-dedup ladder:

- ``dedup_exact``       exact duplicates via normalized-text fingerprint
                        (one shuffle on the hash; keeps the smallest id).
- ``ngram_jaccard_pairs`` EXACT near-dup pairs by word-shingle Jaccard —
                        inverted-index join, no O(n²) cross product.
- ``minhash_lsh_pairs`` MinHash + banded LSH candidates, verified with
                        exact Jaccard — the 100 TB-scale path: cost is
                        O(n·sig) + bucket joins instead of all-pairs.
- ``simhash``           64-bit SimHash fingerprints + near-dup pairs via
                        Hamming-ball banding.

Everything except the Hamming popcount runs as Catalyst array expressions
(JVM, codegen) — no Python in the per-row path.

Cache contract: the pair operators cache intermediates that feed both
sides of a self-join (and that double as materialization boundaries
against constraint-inference expression cloning). Operators are pure
``DataFrame -> DataFrame``, so they cannot unpersist before the caller's
action runs; all internal caches therefore go through
``util.scoped_cache`` — long-lived sessions wrap build+action in
``util.cache_scope()`` and every intermediate is released at scope exit.
Without a scope, behavior is plain ``.cache()`` (blocks linger until LRU
eviction or a caller-side ``spark.catalog.clearCache()``, as in
``bench.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_etl_customer360_spark.operators.util import (
    fan_out,
    let1,
    local_df,
    scoped_cache,
)

def norm_tokens_expr(col: str) -> Column:
    """Case-folded whitespace tokens — near-dup semantics treat case and
    spacing as noise (matches ``dedup_exact``'s normalization)."""
    return F.split(F.lower(F.trim(F.col(col))), r"[ \t\r\n\x0B\f]+")


def with_shingles(df: DataFrame, col: str = "text", n: int = 3, out_col: str = "shingles") -> DataFrame:
    """Distinct word n-gram set per row. The token array is let-bound so
    the split runs ONCE per row — inlined references would recompute it
    per element_at (3n× per shingle)."""

    def shingles(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
        gram = lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(n)])
        return F.when(
            F.size(tk) >= n, F.array_distinct(F.transform(idx, gram))
        ).otherwise(F.array().cast("array<string>"))

    return df.withColumn(out_col, let1(norm_tokens_expr(col), shingles))


def text_fingerprint(text_col: str = "text") -> Column:
    """The ONE normalized-text identity every exact-dedup tier shares
    (``dedup_exact``, ``doc_fingerprints``, ``dedup_incremental``): md5 of
    lowercased, trimmed, whitespace-collapsed text. Single definition so
    the batch == incremental invariant can't drift.

    NULL text maps to the sentinel ``"null"`` instead of NULL (post-md5
    coalesce — a 4-char non-hex string cannot collide with a 32-hex md5).
    A NULL key would silently break the incremental invariant: groupBy
    treats NULLs as equal (NULL-text docs collapse within a batch, on
    both engines), but the seen-set anti-join's equality does NOT
    (NULL != NULL), so across batches every batch would keep its own
    NULL-text survivor, diverging from one-pass ``dedup_exact`` — and a
    NULL fingerprint would re-append to the bucketed seen lake on every
    fold. The sentinel keeps one equality semantics end to end without
    null-safe join keys (which would wrap the bucketed lake's join key
    in an expression and resurrect the lake-side Exchange the bucketing
    removes)."""
    return F.coalesce(
        F.md5(
            F.regexp_replace(
                F.lower(F.trim(F.col(text_col))), r"[ \t\r\n\x0B\f]+", " "
            )
        ),
        F.lit("null"),
    )


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per distinct normalized text: the one with the
    smallest id (deterministic winner — ids are unique, so min_by has no
    tie). Plan: fingerprint projection → ONE hash aggregation keyed on the
    128-bit hash. min_by(struct(*), id) gets map-side partial aggregation:
    each mapper ships at most one candidate row per fingerprint, so the
    shuffle carries ~|distinct| rows, not |corpus| — the property that
    matters at 100 TB (a window over the fingerprint would shuffle and
    sort every row)."""
    cols = df.columns
    fp = df.withColumn("_fp", text_fingerprint(text_col))
    kept = fp.groupBy("_fp").agg(
        F.min_by(F.struct(*[F.col(c) for c in cols]), F.col(id_col)).alias("_row")
    )
    return kept.select(*[F.col(f"_row.{c}").alias(c) for c in cols])


def ngram_posts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The shared shingle POSTING substrate ``(_id, _sz, _sh)`` — one row
    per (doc, distinct shingle), ``_sz`` the doc's STRING-shingle-set
    size, ``_sh`` the shingle's 64-bit hash — scoped-cached. Extracted
    r17 so a query that needs BOTH exact ngram pairs and minhash bands
    (the recall certificate) builds the expensive shingle+explode+hash
    pass once and feeds it to :func:`ngram_jaccard_pairs` and
    :func:`minhash_doc_sets` via their ``posts=`` parameter; the
    single-consumer call sites are unchanged (they build it inline,
    exactly as before)."""
    sh = with_shingles(fan_out(df), text_col, n).select(
        F.col(id_col).alias("_id"), F.col("shingles")
    )
    sized = sh.withColumn("_sz", F.size("shingles"))
    return scoped_cache(
        sized.select("_id", "_sz", F.explode("shingles").alias("_s"))
        .select("_id", "_sz", F.xxhash64("_s").alias("_sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    posts: DataFrame | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs: Jaccard over distinct word n-grams.

    Plan: explode shingles → inverted-index self-join on shingle (only
    docs sharing ≥1 shingle ever meet — no cross product) → count shared
    shingles per pair → Jaccard from |A|,|B|,|A∩B|. The explode-join is
    the scalable formulation: shuffle is proportional to the posting
    lists, and AQE splits skewed shingle buckets. For web-scale corpora
    set ``max_df``: boilerplate shingles appearing in more than ``max_df``
    docs are dropped from the index (a posting list of length L costs L²
    join rows, and a shingle shared by 1M docs identifies nothing) — the
    Jaccard denominator still uses FULL shingle-set sizes, so scores only
    under-count by the dropped stop-shingles' intersections. Exact scores
    need ``max_df=None``; web-scale precision/recall barely moves while
    join cost drops by the square of the cap. Or use ``minhash_lsh_pairs``.
    """
    # cache: the posting list feeds both self-join sides, and the boundary
    # keeps inferred isnotnull(shingle-expr) filters from recomputing the
    # shingling below the fan-out exchange (see simhash_pairs). The join
    # key is the shingle's 64-bit hash, not the string: 8-byte shuffle/
    # cache rows, same pair counts (collisions ~2^-64 — shingle sets are
    # already distinct per doc, so a collision can only merge two
    # different shingles across docs). ``posts=`` lets a caller that also
    # minhashes the same corpus share ONE substrate build (ngram_posts).
    if posts is None:
        posts = ngram_posts(df, id_col=id_col, text_col=text_col, n=n)
    if max_df is not None:
        keep = (
            posts.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_sh")
        )
        posts = posts.join(keep, on="_sh")
    a, b = posts.alias("a"), posts.alias("b")
    inter = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                 F.col("a._sz").alias("sz_a"), F.col("b._sz").alias("sz_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_doc_sets(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
    posts: DataFrame | None = None,
) -> DataFrame:
    """Per-doc distinct shingle-HASH sets ``(_id, _hs array<long>)`` — the
    shared substrate of :func:`minhash_lsh_pairs` and the streaming
    near-dup maintainer (``streaming.windows.stream_dedup_neardup``): one
    definition so batch and streaming agree on what "the same shingle
    set" means. Returned frame is ``scoped_cache``d (it feeds banding +
    exact verify, and the boundary keeps constraint-inferred isnotnull()
    filters from cloning the shingling below the fan-out exchange).

    Posting list is 64-bit shingle hashes (8-byte shuffle rows; string
    collisions ~2^-64 — see ``ngram_jaccard_pairs``); docs with fewer
    than ``n`` tokens (or NULL text) have NO shingles and are absent from
    the output — they can never be near-dup candidates. ``max_df`` drops
    boilerplate shingles appearing in more than ``max_df`` docs (a
    distributed df-count join); both the signatures and the verify-
    Jaccard then use the capped shingle space."""
    # ``posts=`` (r17): reuse a caller-built ngram_posts substrate — the
    # extra ``_sz`` column is projected away, the (doc, shingle-hash)
    # rows are identical to the inline build
    if df is None and posts is None:
        raise ValueError(
            "pass the documents frame (df) or a prebuilt ngram_posts frame (posts=)"
        )
    if posts is not None:
        posts = posts.select("_id", "_sh")
    else:
        posts = (
            with_shingles(fan_out(df), text_col, n)
            .select(
                F.col(id_col).alias("_id"), F.explode("shingles").alias("_s")
            )
            .select("_id", F.xxhash64("_s").alias("_sh"))
        )
    if max_df is not None:
        # posts feeds BOTH the df-count branch and the capped join below —
        # cache so shingling+explode+xxhash64 runs once (same reason
        # ngram_jaccard_pairs caches before its identical df-cap join).
        posts = scoped_cache(posts)
        keep = (
            posts.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_sh")
        )
        posts = posts.join(keep, on="_sh")

    # shingle sets are distinct per doc, so collect_list is set-valued;
    # every consumer is order-independent (array_min / array_intersect).
    return scoped_cache(
        posts.groupBy("_id")
        .agg(F.collect_list("_sh").alias("_hs"))
    )


def minhash_band_rows(
    sh: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Banded LSH rows ``(_id, band, bhash)`` from :func:`minhash_doc_sets`
    output: signature ``sig[i] = min over shingles of xxhash64(i, h)``
    (each shingle's expensive string hash was computed once at explode
    time; permutation i re-hashes the long), then ``bands`` groups of
    ``num_hashes/bands`` signature rows fold to one 64-bit band hash.
    ``bhash`` embeds the band index (``xxhash64(b, slice)``), so equality
    on ``bhash`` alone implies same-band collision up to a ~2^-64 hash
    collision — what lets the streaming lake bucket on the single long.
    Returned frame is ``scoped_cache``d (it feeds both self-join sides;
    3 longs per (doc, band))."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    sig = sh.withColumn(
        "_sig",
        F.expr(
            f"transform(sequence(0, {num_hashes - 1}), "
            f"i -> array_min(transform(_hs, h -> xxhash64(i, h))))"
        ),
    )
    banded = sig.select(
        "_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, xxhash64(b, slice(_sig, b * {rows_per_band} + 1, "
                f"{rows_per_band})) AS bhash))"
            )
        ).alias("_band"),
    )
    return scoped_cache(banded.select(
        "_id", F.col("_band.band").alias("band"), F.col("_band.bhash").alias("bhash")
    ))


def minhash_lsh_pairs(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    verify: bool = True,
    max_df: int | None = None,
    posts: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded-LSH near-dup candidates, optionally verified with
    exact Jaccard — the scale path for near-dedup. ``posts=`` forwards a
    caller-built :func:`ngram_posts` substrate to
    :func:`minhash_doc_sets` (the recall certificate shares one shingle
    build between the exact tier and this one); ``df`` may then be None,
    and passing neither raises ``ValueError``.

    Signature: each shingle string is hashed ONCE (``h = xxhash64(s)``,
    the expensive part) at explode time; permutation i re-hashes the long
    (``xxhash64(i, h)``) so ``sig[i] = min over shingles`` — all JVM-side
    array exprs. Banding: ``bands`` groups of ``num_hashes/bands`` rows; docs
    colliding on any band hash become candidates (standard LSH S-curve).
    Cost at scale: O(n·num_hashes) + a shuffle on (band, band_hash) —
    never all-pairs. ``verify=True`` re-checks candidates with exact
    Jaccard so precision is 1.0; recall follows the S-curve.

    ``max_df`` drops boilerplate shingles appearing in more than ``max_df``
    docs BEFORE minhashing (a distributed df-count join on the 64-bit
    posting list, like ``ngram_jaccard_pairs``): a shingle shared by 1M
    docs identifies nothing but drags every doc's signature toward the
    same minima, inflating candidate (and false-positive) volume. Unlike
    ngram's cap, BOTH the signatures and the verify-Jaccard use the capped
    shingle space — estimate and verification stay consistent ("Jaccard
    over non-boilerplate shingles"). As with ngram (BASELINE.md scale
    stress), the cap must exceed the corpus duplication factor or
    boilerplate-only duplicate groups vanish by design.
    """
    sh = minhash_doc_sets(
        df, id_col=id_col, text_col=text_col, n=n, max_df=max_df, posts=posts
    )
    banded = minhash_band_rows(sh, num_hashes=num_hashes, bands=bands)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand

    sets = sh.select(F.col("_id"), F.col("_hs"), F.size("_hs").alias("_sz"))
    cand = (
        cand.join(sets.withColumnRenamed("_id", "id_a").withColumnRenamed("_hs", "sh_a")
                  .withColumnRenamed("_sz", "sz_a"), on="id_a")
        .join(sets.withColumnRenamed("_id", "id_b").withColumnRenamed("_hs", "sh_b")
              .withColumnRenamed("_sz", "sz_b"), on="id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash fingerprint from word tokens, entirely in Catalyst:
    for each bit b, sum ±1 contributions of xxhash64(token) bit b over all
    tokens; bit b of the fingerprint is 1 iff the sum is positive.

    Cost shape: each token's (expensive) string hash is computed ONCE and
    reused for all 64 bit-votes in a single aggregate pass — higher-order
    funcs are interpreted (not codegen'd), so redundant xxhash64 calls
    inside a per-bit loop would dominate at corpus scale.
    """
    df = fan_out(df)
    # Single SQL expression with explicit let-nesting so each stage is
    # evaluated ONCE per row (withColumn chaining would inline the votes
    # aggregate into all 64 bit references — 64× recompute): split & hash
    # each token once → one vote-accumulation pass → one fingerprint fold.
    simhash_sql = f"""
        element_at(transform(
          array(aggregate(
              transform(split(lower(trim({text_col})), '[ \\\\t\\\\r\\\\n\\\\x0B\\\\f]+'), t -> xxhash64(t)),
              array_repeat(0L, 64),
              (acc, h) -> zip_with(acc,
                  transform(sequence(0, 63),
                            b -> CASE WHEN (shiftright(h, b) & 1) = 1
                                 THEN 1L ELSE -1L END),
                  (a, v) -> a + v))),
          v -> aggregate(
              transform(sequence(0, 63),
                        b -> CASE WHEN element_at(v, b + 1) > 0
                             THEN shiftleft(1L, b) ELSE 0L END),
              0L, (acc, x) -> acc | x)
        ), 1)
    """
    return df.withColumn(out_col, F.expr(simhash_sql))


def with_simhash_portable(
    df: DataFrame,
    text_col: str = "text",
    out_lo: str = "sig_lo",
    out_hi: str = "sig_hi",
) -> DataFrame:
    """:func:`with_simhash` on the engine-portable md5 hash family (the
    bloom/CMS/sampling-coin discipline): token bits come from the first
    16 hex chars of md5(token) — two 32-bit halves, each parsed to a
    non-negative BIGINT on BOTH engines — so a SQL oracle can rebuild
    the fingerprint bit-for-bit. The signature ships as two 32-bit
    halves (``out_lo`` bits 0-31, ``out_hi`` bits 32-63) to keep every
    word positive in BIGINT (the bloom 32-bit-word rule: no sign-bit
    divergence at 1 << 63).

    Same cost shape as :func:`with_simhash`: each token hashed ONCE
    (let-nested HOF — higher-order funcs are interpreted, so a per-bit
    rehash would 64x the string hashing), one vote pass, one fold per
    half. xxhash64 stays the production default (faster JVM intrinsic);
    this variant exists so the banding machinery is oracle-checkable
    (q_simhash_recall)."""
    df = fan_out(df)
    votes = f"""
        aggregate(
          transform(split(lower(trim({text_col})), '[ \\\\t\\\\r\\\\n\\\\x0B\\\\f]+'),
                    t -> named_struct(
                      'lo', cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint),
                      'hi', cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint))),
          array_repeat(0L, 64),
          (acc, h) -> zip_with(acc,
              transform(sequence(0, 63),
                        b -> CASE WHEN (shiftright(
                                 CASE WHEN b < 32 THEN h.lo ELSE h.hi END,
                                 b % 32) & 1) = 1
                             THEN 1L ELSE -1L END),
              (a, v) -> a + v))
    """
    half = (
        "aggregate(transform(sequence({lo}, {hi}), "
        "b -> CASE WHEN element_at(v, b + 1) > 0 "
        "THEN shiftleft(1L, b - {lo}) ELSE 0L END), "
        "0L, (acc, x) -> acc | x)"
    )
    sig_sql = f"""
        element_at(transform(array({votes}),
          v -> named_struct('lo', {half.format(lo=0, hi=31)},
                            'hi', {half.format(lo=32, hi=63)})), 1)
    """
    return (
        df.withColumn("_sig", F.expr(sig_sql))
        .withColumn(out_lo, F.col("_sig.lo"))
        .withColumn(out_hi, F.col("_sig.hi"))
        .drop("_sig")
    )


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """:func:`simhash_pairs` over the portable md5 fingerprint — the
    SAME block-banding machinery (pigeonhole: any pair within the
    Hamming ball collides on >= 1 of the max_hamming+1 blocks, so the
    equi-join capture is COMPLETE, a theorem not a probability), made
    oracle-EXACT: a SQL twin rebuilds every fingerprint from md5 and
    takes brute-force bit_count(xor) pairs; banding must reproduce that
    set exactly (q_simhash_recall). Output: (id_a, id_b, hamming) for
    id_a < id_b with hamming <= max_hamming.

    Blocks are carved from the 32-bit halves, so the block count must
    keep each block inside one half: (max_hamming + 1) | 64 and block
    width | 32."""
    blocks = max_hamming + 1
    if 64 % blocks or 32 % (64 // blocks):
        raise ValueError(
            "simhash_pairs_portable needs (max_hamming + 1) dividing 64 "
            "with block width dividing 32 (e.g. max_hamming in {1,3,7,15,31})"
        )
    width = 64 // blocks
    per_half = 32 // width
    mask = (1 << width) - 1
    # cache: feeds both self-join sides + materialization boundary (the
    # simhash_pairs constraint-inference rule — without it the whole
    # fingerprint expression is cloned into an isnotnull() filter below
    # the fan-out exchange)
    fp = scoped_cache(
        with_simhash_portable(df, text_col)
        .select(F.col(id_col).alias("_id"), "sig_lo", "sig_hi")
    )
    banded = fp.select(
        "_id",
        "sig_lo",
        "sig_hi",
        F.explode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), b -> struct(b AS blk, "
                f"shiftright(CASE WHEN b < {per_half} THEN sig_lo ELSE sig_hi END, "
                f"(b % {per_half}) * {width}) & {mask} AS bval))"
            )
        ).alias("_b"),
    ).select(
        "_id", "sig_lo", "sig_hi",
        F.col("_b.blk").alias("blk"), F.col("_b.bval").alias("bval"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.sig_lo").alias("lo_a"),
            F.col("a.sig_hi").alias("hi_a"),
            F.col("b.sig_lo").alias("lo_b"),
            F.col("b.sig_hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via block
    banding: split the 64-bit fingerprint into max_hamming+1 blocks — any
    pair within the Hamming ball collides on at least one full block
    (pigeonhole), so candidates come from equi-joins on block values,
    never a cross product."""
    blocks = max_hamming + 1
    width = 64 // blocks
    # cache: (a) the fingerprint frame feeds BOTH self-join sides, and
    # (b) without a materialization boundary Catalyst's constraint
    # inference clones the whole simhash expression into an
    # isnotnull() Filter below the fan-out exchange — recomputing the
    # fingerprints twice more on the unpartitioned scan. The cached frame
    # is 2 longs/doc — O(corpus rows), spills to disk if needed.
    fp = scoped_cache(
        with_simhash(df, text_col)
        .select(F.col(id_col).alias("_id"), "simhash")
    )
    banded = fp.select(
        "_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"b -> struct(b AS blk, shiftright(simhash, b * {width}) & {(1 << width) - 1} AS bval))"
            )
        ).alias("_b"),
    ).select("_id", "simhash", F.col("_b.blk").alias("blk"), F.col("_b.bval").alias("bval"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    mode: str = "exact",
    num_planes: int = 4,
    num_tables: int = 16,
    num_blocks: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine (the semantic tier of the
    dedup ladder): (id_a, id_b, cosine) for id_a < id_b with
    cosine >= threshold.

    ``mode='exact'``: quantized-integer all-pairs via BLOCKED matmul —
    rows are hashed into ``num_blocks`` blocks, the B(B+1)/2 block pairs
    are scored independently (cogrouped ``applyInPandas``, one int64
    numpy matmul per block pair), so the O(n²) compute is spread across
    executors and NOTHING is broadcast; each vector is shuffled ~B times.
    Deterministic and oracle-checkable: the int64 matmul is exact, and
    the final ``double(dot) / (sqrt(na)·sqrt(nb))`` is the identical
    IEEE-754 expression Catalyst/DuckDB evaluate. Size ``num_blocks`` so
    one block pair (~(n/B)² scores) fits an executor task.
    ``mode='lsh'``: random-hyperplane BUCKETED matmul — the 100 TB path.
    Vectors land in ``num_tables`` (table, signature) buckets (same
    hyperplanes as similarity.cosine_topk_lsh); each bucket group is
    scored with the identical exact int64 numpy matmul, so only
    bucket-colliding pairs are ever scored. One groupBy shuffle keyed on
    (table, bucket) — each vector ships num_tables times — then
    bucket-local O(m²) compute; no candidate-pair explosion through a
    shuffle, no top-k window. Scores are bit-identical across tables
    (exact integer dot, one rounded double division), so the multi-table
    dedup is a plain ``distinct``. Precision 1.0, recall follows bucket
    width.
    """
    from bigdata_etl_customer360_spark.operators.similarity import (
        hyperplane_signatures,
        quantize_expr,
    )

    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def _pair_frame(ia, A, ib, B, same):
        """Exact quantized cosine for every (row of A) × (row of B) pair;
        identical IEEE ops to the exact mode / SQL twin."""
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if not len(ia) or not len(ib):
            return empty
        dots = A @ B.T  # exact: |q| <= 2^21, dim 64 -> < 2^48
        sa = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        sb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots.astype(np.float64) / np.outer(sa, sb)
        # zero-norm vectors score NaN; NaN >= t is False, matching the
        # SQL twin's NULL-comparison drop
        mask = cos >= threshold
        if same:  # both orders appear once within a group — keep a < b
            mask &= ia[:, None] < ib[None, :]
        rows, cols = np.nonzero(mask)
        if not len(rows):
            return empty
        a_ids, b_ids = ia[rows], ib[cols]
        lo = np.minimum(a_ids, b_ids)  # cross-block pairs appear once, in
        hi = np.maximum(a_ids, b_ids)  # block order — reorder to id asc
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[rows, cols]})

    if mode == "lsh":
        sigs = hyperplane_signatures(num_planes, num_tables)
        bucketed = (
            fan_out(df)
            .select(
                F.col(id_col).alias("_id"),
                quantize_expr(vec_col).alias("_v"),
                sigs(F.col(vec_col)).alias("_s"),
            )
            .select("_id", "_v", F.posexplode("_s").alias("_tbl", "_sig"))
        )

        def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["_id"].to_numpy()
            V = np.stack(pdf["_v"].to_numpy()).astype(np.int64)
            return _pair_frame(ids, V, ids, V, same=True)

        pairs = bucketed.groupBy("_tbl", "_sig").applyInPandas(
            score_bucket, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
        )
        # a pair colliding in several tables is scored to the SAME double
        # in each — multi-table dedup is a plain distinct
        return pairs.distinct()
    if mode != "exact":
        raise ValueError(f"unknown mode {mode!r}")

    spark = df.sparkSession

    qz = (
        fan_out(df)
        .select(F.col(id_col).alias("_id"), quantize_expr(vec_col).alias("_v"))
        .withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(num_blocks)).cast("int"))
    )
    # B(B+1)/2 block-pair skeleton — a driver-side constant, NOT a cross
    # join (keeps plans cartesian-free); the equi-join against it
    # replicates each row into its ~B block pairs.
    skel = local_df(
        spark,
        [(a, b) for a in range(num_blocks) for b in range(a, num_blocks)],
        "ba int, bb int",
    )
    ql, qr = qz.alias("ql"), qz.alias("qr")
    sl, sr = skel.alias("sl"), skel.alias("sr")
    left = ql.join(F.broadcast(sl), F.col("ql._blk") == F.col("sl.ba")).select(
        F.col("ql._id").alias("_id"), F.col("ql._v").alias("_v"),
        F.col("sl.ba").alias("ba"), F.col("sl.bb").alias("bb"),
    )
    right = qr.join(F.broadcast(sr), F.col("qr._blk") == F.col("sr.bb")).select(
        F.col("qr._id").alias("_id"), F.col("qr._v").alias("_v"),
        F.col("sr.ba").alias("ba"), F.col("sr.bb").alias("bb"),
    )

    def score(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if not len(l) or not len(r):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        same = l["ba"].iat[0] == l["bb"].iat[0]
        return _pair_frame(
            l["_id"].to_numpy(),
            np.stack(l["_v"].to_numpy()).astype(np.int64),
            r["_id"].to_numpy(),
            np.stack(r["_v"].to_numpy()).astype(np.int64),
            same=same,
        )

    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(score, schema=f"id_a {id_type}, id_b {id_type}, cosine double")
    )


def link_records(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    left_text: str = "text",
    right_text: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-TABLE record linkage (entity resolution): Jaccard over word
    n-grams between every left/right record sharing at least one shingle
    — :func:`ngram_jaccard_pairs`' two-sided sibling for "match incoming
    records against the master table" (catalog reconciliation, dedup of
    a new crawl against the existing corpus).

    Same inverted-index plan, but the posting lists are built per SIDE
    and joined left×right on the shingle hash (no self-join, no a<b
    canonicalization — a pair is one (left_id, right_id)); ``max_df``
    caps boilerplate posting lists counting BOTH sides. Output:
    (left_id, right_id, jaccard >= threshold).
    """
    def _posts(df: DataFrame, id_col: str, text_col: str, tag: str):
        sh = with_shingles(fan_out(df), text_col, n).select(
            F.col(id_col).alias(f"_{tag}id"), F.col("shingles")
        )
        sized = sh.withColumn(f"_{tag}sz", F.size("shingles"))
        return scoped_cache(
            sized.select(
                f"_{tag}id", f"_{tag}sz", F.explode("shingles").alias("_s")
            ).select(f"_{tag}id", f"_{tag}sz", F.xxhash64("_s").alias("_sh"))
        )

    lp = _posts(left, left_id, left_text, "l")
    rp = _posts(right, right_id, right_text, "r")
    if max_df is not None:
        df_counts = (
            lp.select("_sh").unionAll(rp.select("_sh"))
            .groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_sh")
        )
        lp = lp.join(df_counts, on="_sh")
        rp = rp.join(df_counts, on="_sh")
    inter = (
        lp.join(rp, on="_sh")
        .groupBy(
            F.col("_lid").alias("left_id"),
            F.col("_rid").alias("right_id"),
            F.col("_lsz").alias("sz_l"),
            F.col("_rsz").alias("sz_r"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sz_l") + F.col("sz_r") - F.col("n_common")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def chunk_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int | None = None,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    min_shared_chunks: int = 1,
    verify: bool = True,
    max_df: int | None = None,
    chunks: DataFrame | None = None,
    posts: DataFrame | None = None,
) -> DataFrame:
    """Paragraph/chunk-level near-dup: run the minhash-LSH tier over
    ``chunk_documents`` output so documents sharing ONE near-identical
    paragraph pair up even when their whole-doc Jaccard is far below any
    sane threshold — the partial-overlap case whole-doc minhash
    structurally misses (a shared 32-token boilerplate block inside two
    otherwise-unrelated 10k-token docs dilutes to j ~ 0.003).

    Output: ``(id_a, id_b, n_chunk_pairs[, max_jaccard])`` per unordered
    CROSS-document pair (id_a < id_b) with at least ``min_shared_chunks``
    chunk pairs matching; ``max_jaccard`` (exact, over the chunk shingle
    space) only with ``verify=True``. Same-document chunk matches are
    excluded — within-doc repetition is ``repeated_ngram_stats`` /
    ``dedup_lines_within`` territory.

    Scale shape: chunking is a zero-shuffle codegen explode (rows ~
    tokens/stride), then exactly :func:`minhash_lsh_pairs`'s banded
    bucket-join cost over |chunks| items — never all-pairs on docs or
    chunks; the doc-pair lift is one hash agg on the candidate pairs.
    Default ``stride=chunk_tokens`` (disjoint chunks): near-dup detection
    needs alignment-robust SHINGLES inside the chunk, not overlapping
    chunks — overlap multiplies LSH cost by chunk_tokens/stride for
    little recall on prose-shifted text.

    ``chunks``: a pre-built ``(id_col, chunk_idx, chunk_text)`` frame
    (e.g. an already-cached ``chunk_documents`` output shared with an
    exact tier) — skips re-chunking; ``chunk_tokens``/``stride`` are
    ignored when given.

    ``posts``: a caller-built :func:`ngram_posts` substrate over the
    CID frame (``_id = concat_ws('#', id, chunk_idx)``) — forwarded to
    :func:`minhash_lsh_pairs` so a query running BOTH the exact chunk
    tier and this one shingles the chunks once (r17, the minhash_recall
    pattern); the internal cid/shingle build is skipped entirely.
    """
    from bigdata_etl_customer360_spark.operators.textstats import chunk_documents

    if stride is None:
        stride = chunk_tokens
    dtype = df.schema[id_col].dataType
    if chunks is None:
        chunks = chunk_documents(
            df, id_col=id_col, text_col=text_col,
            chunk_tokens=chunk_tokens, stride=stride,
        )
    # cache: the chunk frame is a DERIVED explode feeding an LSH
    # self-join — without a materialization boundary the chunking (and
    # everything upstream of df) recomputes once per join side, and
    # constraint-inferred isnotnull() filters clone the chunk expressions
    # below the exchanges (see verify SKILL gotchas). With a caller-built
    # ``posts`` substrate the cid/shingle build is skipped entirely
    # (minhash_doc_sets derives from posts).
    if posts is None:
        cid_frame = scoped_cache(chunks.select(
            F.concat_ws("#", F.col(id_col).cast("string"), F.col("chunk_idx"))
            .alias("_cid"),
            F.col("chunk_text"),
        ))
    else:
        cid_frame = None
    cpairs = minhash_lsh_pairs(
        cid_frame, id_col="_cid", text_col="chunk_text", n=n,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        verify=verify, max_df=max_df, posts=posts,
    )
    # strip the LAST '#<digits>' (the chunk_idx this function appended):
    # a plain split on '#' would truncate string doc ids containing '#'
    da = F.regexp_replace(F.col("id_a"), r"#[0-9]+$", "").cast(dtype)
    db = F.regexp_replace(F.col("id_b"), r"#[0-9]+$", "").cast(dtype)
    lifted = (
        cpairs.select(
            F.least(da, db).alias("_a"),
            F.greatest(da, db).alias("_b"),
            *([F.col("jaccard")] if verify else []),
        )
        .filter(F.col("_a") != F.col("_b"))
    )
    aggs = [F.count(F.lit(1)).alias("n_chunk_pairs")]
    if verify:
        aggs.append(F.max("jaccard").alias("max_jaccard"))
    return (
        lifted.groupBy(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .agg(*aggs)
        .filter(F.col("n_chunk_pairs") >= F.lit(int(min_shared_chunks)))
    )


def doc_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fp",
    assume_distinct: bool = False,
) -> DataFrame:
    """The seen-set schema for incremental dedup: one row per DISTINCT
    normalized-text md5 fingerprint (same normalization as
    :func:`dedup_exact`, so batch and incremental dedup agree on what
    "the same document" means). Persist this tiny frame between ingest
    runs — it is the only history :func:`dedup_incremental` needs.

    ``assume_distinct``: :func:`dedup_incremental` survivors carry one
    row per fingerprint BY CONSTRUCTION (dedup_exact's keep-min-id agg),
    so the maintainers' fold inputs are already distinct and the
    ``distinct()`` here is a wasted full agg + exchange per batch (r17,
    the seen_is_distinct twin). Pass ``True`` only when the caller owns
    that invariant; the result is identical either way — downstream
    consumers are anti-joins (duplicate-insensitive) and the bucketed
    fold re-distincts foreign inputs itself."""
    fps = df.select(text_fingerprint(text_col).alias(out_col))
    return fps if assume_distinct else fps.distinct()


def dedup_incremental(
    new_docs: DataFrame,
    seen: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
    seen_is_distinct: bool = False,
) -> DataFrame:
    """Incremental exact dedup — the daily-crawl ingest pattern: drop
    every new doc whose normalized text was already seen in ANY prior
    batch (``seen`` = accumulated :func:`doc_fingerprints`; ``None`` for
    the first batch), then exact-dedup within the batch itself
    (keep-min-id, exactly :func:`dedup_exact`). The invariant the graded
    query proves: folding batches through this equals ``dedup_exact``
    over the concatenated history — no re-scan of old batches, ever.

    Feed the survivors' ``doc_fingerprints`` back into ``seen`` (a
    by-name union + distinct, or ``streaming.windows.
    stream_upsert_to_table`` keyed on ``fp`` for a maintained snapshot).

    Plan: one anti-join of the batch against the fingerprint set keyed on
    the 128-bit hash (seen is |history-distinct| rows — shuffles as
    16-byte keys, broadcastable while small) + dedup_exact's single hash
    agg over the batch. Cost ~ |batch| + |seen|, independent of raw
    history size.

    ``seen_is_distinct``: an anti-join is duplicate-insensitive, so the
    seen-side ``distinct()`` NEVER affects the result — it exists only
    to shrink a shuffled/broadcast seen side when callers pass raw
    fingerprint dumps with repeats. The maintained seen sets (the
    union+distinct snapshot fold and the append-only-new bucketed lake)
    are distinct BY CONSTRUCTION, and for the bucketed lake the distinct
    is pure waste: the scan satisfies the join's distribution, so the
    aggregate saves no shuffle and burns a full-history agg pass per
    batch (measured r14: 1.4-1.6s -> ~1.1s per 100k-batch anti-join
    against a 5M-fp lake). Pass ``True`` from maintainers that own the
    seen set's distinctness; leave ``False`` for foreign inputs.
    """
    fresh = new_docs
    if seen is not None:
        seen_fps = seen.select(F.col(fp_col).alias("_fp"))
        if not seen_is_distinct:
            seen_fps = seen_fps.distinct()
        fresh = new_docs.withColumn("_fp", text_fingerprint(text_col)).join(
            seen_fps,
            on="_fp",
            how="left_anti",
        ).drop("_fp")
    # within-batch keep-min-id IS dedup_exact — same code path, so the
    # "batch and incremental agree" contract holds by construction
    return dedup_exact(fresh, text_col=text_col, id_col=id_col)


def _deletion_variants(col: Column, max_distance: int) -> Column:
    """All strings reachable from ``col`` by deleting up to
    ``max_distance`` characters (the string itself included), distinct.
    Pure Catalyst: nested transforms over position sequences — no UDF."""
    s = col
    n = F.length(s)
    one = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, n)),
    )
    variants = F.concat(
        F.array(s),
        F.when(n >= 1, one).otherwise(F.array().cast("array<string>")),
    )
    if max_distance >= 2:
        two = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, n),
                    lambda j: F.concat(
                        s.substr(F.lit(1), i - 1),
                        s.substr(i + 1, j - i - 1),
                        s.substr(j + 1, n),
                    ),
                ),
            )
        )
        variants = F.concat(
            variants,
            F.when(n >= 2, two).otherwise(F.array().cast("array<string>")),
        )
    return F.array_distinct(variants)


def fuzzy_pairs_edit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 1,
) -> DataFrame:
    """Edit-distance similarity self-join: every pair of rows whose
    ``text_col`` values are within Levenshtein distance ``max_distance``
    — the typo/variant matcher for SHORT keys (names, titles, SKUs,
    URLs) where the n-gram Jaccard tier is too coarse.

    Algorithm (FastSS, Bocek et al. 2007): ``lev(a,b) <= d`` implies the
    up-to-``d``-deletion neighborhoods of ``a`` and ``b`` intersect
    (align the two strings; deleting each side's chars at non-matching
    alignment slots reaches a common subsequence with <= d deletions per
    side). So: explode each string's deletion variants (~len^d + 1 of
    them), equi-join on the 64-bit variant hash, dedup candidate pairs,
    and keep those passing the EXACT ``levenshtein`` filter — false
    candidates (hash collisions, shared-variant non-matches like
    ab/ba at d=1) die there; false negatives cannot exist by the
    theorem. ``max_distance`` in {1, 2} (the variant set grows O(len^d)).

    Output: ``(a_id, b_id, distance)``, ``a_id < b_id``, one row per
    pair. NULL texts are excluded.

    Scale: shuffle volume = Σ variants (d=1: ~|rows|·avg_len 8-byte
    hashes + id/text payload) — an equi-join, never all-pairs (the
    global no-CartesianProduct plan test covers it). Skew: a variant
    shared by k rows yields k(k-1)/2 candidates — the same quadratic
    law as every posting-list join here; near-duplicate-free key
    universes (names, codes) keep k tiny. The candidate set is deduped
    BEFORE the levenshtein filter so each pair pays the O(len^2) exact
    check once.
    """
    if max_distance not in (1, 2):
        raise ValueError(f"max_distance must be 1 or 2, got {max_distance!r}")
    # fan_out: the ~len^d-variant explode + per-variant hash is the
    # dominant map work and a single-row-group input runs it (and the
    # join's exchange map side) on one core (r16; the family-wide rule —
    # this was the one posting-list builder without it)
    base = fan_out(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_s"))
        .filter(F.col("_s").isNotNull())
    )
    posts = scoped_cache(
        base.select(
            "_id",
            "_s",
            F.explode(_deletion_variants(F.col("_s"), max_distance)).alias("_v"),
        ).select("_id", "_s", F.xxhash64("_v").alias("_h"))
    )
    left = posts.select(
        F.col("_h"), F.col("_id").alias("a_id"), F.col("_s").alias("_sa")
    )
    right = posts.select(
        F.col("_h"), F.col("_id").alias("b_id"), F.col("_s").alias("_sb")
    )
    return (
        left.join(right, "_h")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "_sa", "_sb")
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("distance", F.levenshtein("_sa", "_sb").cast("bigint"))
        .filter(F.col("distance") <= max_distance)
        .select("a_id", "b_id", "distance")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard>=t pairs via PREFIX FILTERING (Bayardo et al.
    WWW'07 "Scaling Up All Pairs"; the PPJoin family) — the same output
    contract as :func:`ngram_jaccard_pairs` at threshold
    ``threshold_num/threshold_den``, but indexing only each set's
    PREFIX instead of every shingle:

    - shingles get a global TOTAL order (document frequency ASC, then
      hash — rarest first, so the indexed prefix tokens have the
      shortest posting lists);
    - a set of size s indexes its first ``s - ceil(t*s) + 1`` shingles
      (prefix lemma: two sets with Jaccard >= t MUST share a prefix
      element under a common total order — completeness is guaranteed,
      and the unit test cross-checks against the full-index operator);
    - candidates equi-join on the prefix shingle hash with the LENGTH
      filter ``min(sa, sb) * den >= max(sa, sb) * num`` (Jaccard >= t
      forces size ratio >= t) applied in exact integer arithmetic;
    - each candidate pair verifies EXACTLY once (pairs dedup before the
      check) with ``array_intersect`` on the carried hashed-shingle
      arrays, keeping ``inter * den >= union * num`` — again pure
      integers; the reported ``jaccard`` double is output-only.

    Versus the full inverted index: posting volume drops from
    sum(|x|) to sum(|prefix|) ~ (1 - t) * sum(|x|), and the
    quadratic bucket blowup moves to the RAREST shingles, where k is
    smallest — the difference between indexing every boilerplate
    3-gram and indexing almost none of them. ``max_df`` capping (the
    full-index escape hatch) becomes unnecessary: completeness is
    preserved, not traded.

    Output: ``(id_a, id_b, jaccard)``, ``id_a < id_b``.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold_num}/{threshold_den}"
        )
    sh = with_shingles(fan_out(df), text_col, n).select(
        F.col(id_col).alias("_id"), F.col("shingles")
    )
    tok = scoped_cache(
        sh.select("_id", F.explode("shingles").alias("_s")).select(
            "_id", F.xxhash64("_s").alias("_h")
        )
    )
    dfreq = tok.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    # per-doc shingle array in (df ASC, hash ASC) global order
    ordered = (
        tok.join(dfreq, "_h")
        .groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("_df"), F.col("_h")))),
                lambda s: s["_h"],
            ).alias("_arr")
        )
        .withColumn("_sz", F.size("_arr"))
    )
    t_num, t_den = int(threshold_num), int(threshold_den)
    # prefix length s - ceil(t*s) + 1, ceil via integer arithmetic
    plen = F.col("_sz") - ((F.col("_sz") * t_num + t_den - 1) / t_den).cast(
        "int"
    ) + F.lit(1)
    # cached: feeds the posting explode below AND the two array
    # join-backs after candidate dedup (r16)
    ordered = scoped_cache(ordered)
    # the posting rows carry ONLY (id, sz, prefix-hash) — the full
    # shingle ARRAY used to ride the candidate join once per prefix
    # token (O((1-t)·Σ|x|²) shuffle bytes); it now joins back onto the
    # DEDUPED candidate pairs instead (r16, guide §2.3 "shuffle keys and
    # metadata instead of payloads" — candidates ≪ posting-array bytes)
    posts = scoped_cache(
        ordered.filter(F.col("_sz") >= 1)
        .select("_id", "_sz", F.explode(F.slice("_arr", 1, plen)).alias("_p"))
    )
    a = posts.select(
        F.col("_p"),
        F.col("_id").alias("id_a"),
        F.col("_sz").alias("_sa"),
    )
    b = posts.select(
        F.col("_p"),
        F.col("_id").alias("id_b"),
        F.col("_sz").alias("_sb"),
    )
    arrs = ordered.select("_id", "_arr")
    cand = (
        a.join(b, "_p")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least(F.col("_sa"), F.col("_sb")) * F.lit(t_den)
            >= F.greatest(F.col("_sa"), F.col("_sb")) * F.lit(t_num)
        )
        .select("id_a", "id_b", "_sa", "_sb")
        .dropDuplicates(["id_a", "id_b"])
        .join(
            arrs.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_aa")),
            "id_a",
        )
        .join(
            arrs.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_ab")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("_aa", "_ab"))
    union = F.col("_sa") + F.col("_sb") - F.col("_inter")
    return (
        cand.withColumn("_inter", inter)
        .filter(F.col("_inter") * F.lit(t_den) >= union * F.lit(t_num))
        .select(
            "id_a",
            "id_b",
            (
                F.col("_inter").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT asymmetric-containment pairs over distinct word n-grams:

        containment(A in B) = |A ∩ B| / |A|  >=  threshold

    — the quote/excerpt/boilerplate-inclusion detector the SYMMETRIC
    ladder tiers structurally miss: a 50-shingle doc fully embedded in a
    5000-shingle doc has Jaccard 0.01 (:func:`ngram_jaccard_pairs`
    never fires at any sane threshold) but containment 1.0. Broder's
    original resemblance/containment split (SEQUENCES'97); the
    deduplication policy is usually "drop the contained side".

    Same inverted-index discipline as the Jaccard tier: posting-list
    self-join on the shingle hash (no cross product; ``max_df`` drops
    boilerplate postings — denominators still use FULL set sizes), one
    pair aggregate, then the threshold as EXACT integer arithmetic
    (``n_common * den >= |A| * num`` — no float enters the decision).
    Emits one row per DIRECTED containment (small-in-big and big-in-
    small are different statements; both can hold, e.g. exact dups).

    Output: ``(id_contained, id_container, sz_contained, n_common,
    containment)`` with the float ratio attached for reporting only.
    """
    sh = with_shingles(fan_out(df), text_col, n).select(
        F.col(id_col).alias("_id"), F.col("shingles")
    )
    sized = sh.withColumn("_sz", F.size("shingles"))
    posts = scoped_cache(
        sized.select("_id", "_sz", F.explode("shingles").alias("_s"))
        .select("_id", "_sz", F.xxhash64("_s").alias("_sh"))
    )
    if max_df is not None:
        keep = (
            posts.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_sh")
        )
        posts = posts.join(keep, on="_sh")
    a, b = posts.alias("a"), posts.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a._sh") == F.col("b._sh"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_contained"),
            F.col("b._id").alias("id_container"),
            F.col("a._sz").alias("sz_contained"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.filter(
            F.col("n_common") * F.lit(int(threshold_den))
            >= F.col("sz_contained") * F.lit(int(threshold_num))
        )
        .select(
            "id_contained",
            "id_container",
            "sz_contained",
            "n_common",
            (
                F.col("n_common").cast("double")
                / F.col("sz_contained").cast("double")
            ).alias("containment"),
        )
    )
