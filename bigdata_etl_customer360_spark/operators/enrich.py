"""Distributed classification enrichment (SURVEY §2.10 X1).

The reference's one genuinely custom operator: collect ≤10k rows to the
driver, batch 300 keywords per prompt into an LLM, parse the JSON reply,
default failures to "Other", map labels back
(ETL_customer_behavior.py:27-136). That design has a scalability cliff —
serial driver-side HTTPS calls and a silent ``limit(10000)`` truncation.

Here the operator is Spark-native and never collects the fact table.
``classify_column`` takes one of two paths, chosen from the classifier:

- **Native rules.** A :class:`RuleClassifier` is first-match substring
  rules, which its ``to_case_sql`` states as one SQL CASE. When its rule
  set passes the gate below, the CASE is one projection
  evaluated per row in the JVM: no distinct, no join, no Python worker.
  Spark rewrites each ``LIKE '%kw%'`` to ``Contains(lower(text), kw)``.
- **Python batches.** Every other classifier (the LLM-style
  :class:`BatchPromptClassifier`, anything without ``to_case_sql``, and
  rule sets the gate rejects) runs once per DISTINCT key inside
  ``mapInPandas`` on executors (Arrow transfer, batches of ``chunk_size``)
  and its labels join back, by broadcast by default.

The gate holds the two paths to the same labels. Spark's ``lower`` and
Python's ``str.lower`` disagree on 27 code points, all unassigned in
Python's Unicode database (Unicode 16 additions); Spark maps two of them
onto assigned letters, ``SPARK_ONLY_LOWER_IMAGES``. A keyword whose
lowered characters are all assigned and outside that pair therefore
matches the same texts on both sides, whatever the text holds. The gate
also rejects what Spark's SQL parser rewrites inside string literals:
backslash escapes and ``${...}`` variable substitution. The sweep behind
the constant is a test (``tests/test_properties.py``), so a JVM, ICU or
Python upgrade that moves it fails there. On a 4-core host the native
path took perfbench's ``corpus_curation`` op (curate a 3,000-doc shard,
classify it into 13 labels, write it) from 2.29 s to 1.81 s at the median
of 10 runs each.
"""

from __future__ import annotations

import json
import re
import unicodedata
from collections.abc import Callable, Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


class RuleClassifier:
    """Deterministic first-match keyword classifier.

    ``rules`` is an ordered mapping label -> substring keywords; a key is
    assigned the FIRST label (in rules order) for which any keyword is a
    substring (case-insensitive), else ``fallback``. The same semantics are
    SQL-expressible (CASE WHEN k LIKE '%kw%' ...), which is what makes the
    operator oracle-checkable.
    """

    def __init__(self, rules: Mapping[str, Sequence[str]], fallback: str = "Other"):
        self.rules = {label: tuple(kws) for label, kws in rules.items()}
        self.fallback = fallback

    def classify_batch(self, keys: pd.Series) -> pd.Series:
        lowered = keys.fillna("").str.lower()
        out = pd.Series(self.fallback, index=keys.index, dtype="object")
        undecided = pd.Series(True, index=keys.index)
        for label, kws in self.rules.items():
            hit = pd.Series(False, index=keys.index)
            for kw in kws:
                hit |= lowered.str.contains(kw.lower(), regex=False)
            take = undecided & hit
            out[take] = label
            undecided &= ~hit
        return out

    def to_case_sql(self, col: str) -> str:
        """The equivalent ANSI-SQL CASE expression (for oracles/pushdown).

        Keywords are treated as literal substrings, exactly like
        ``classify_batch``'s ``str.contains(regex=False)``: single quotes
        are doubled and LIKE metacharacters (%/_) are escaped with ``!``
        (chosen over backslash, which Spark string literals consume but
        ANSI/DuckDB literals don't — ``!`` parses identically everywhere).
        """

        def lit(s: str) -> str:
            return s.replace("'", "''")

        def like_pat(kw: str) -> str:
            pat = (
                kw.lower().replace("!", "!!").replace("%", "!%").replace("_", "!_")
            )
            return lit(pat)

        # a label without keywords never matches, and a CASE needs a WHEN
        branches = []
        for label, kws in self.rules.items():
            if not kws:
                continue
            cond = " OR ".join(
                f"lower({col}) LIKE '%{like_pat(kw)}%' ESCAPE '!'" for kw in kws
            )
            branches.append(f"WHEN {cond} THEN '{lit(label)}'")
        if not branches:
            return f"'{lit(self.fallback)}'"
        return "CASE " + " ".join(branches) + f" ELSE '{lit(self.fallback)}' END"


class BatchPromptClassifier:
    """LLM-style backend preserving the reference's protocol semantics
    (ETL_customer_behavior.py:47-132): batch N keys per prompt, call an
    injected transport, extract the first ``{...}`` JSON object, retry
    once, and fall back to ``fallback`` for missing/failed keys.

    ``transport`` is any ``Callable[[str], str]`` (an LLM client, an HTTP
    call, or a test fake) — credentials/config live with the caller, never
    in this library (the reference hardcodes an API key;
    ETL_customer_behavior.py:28).
    """

    def __init__(
        self,
        transport: Callable[[str], str],
        labels: Sequence[str],
        batch_size: int = 300,
        fallback: str = "Other",
        retries: int = 1,
        prompt_template: str = (
            "Classify each item into exactly one of {labels}. "
            'Reply with one JSON object mapping item to label.\nItems: {items}'
        ),
    ):
        self.transport = transport
        self.labels = list(labels)
        self.batch_size = batch_size
        self.fallback = fallback
        self.retries = retries
        self.prompt_template = prompt_template

    _JSON_RE = re.compile(r"\{.*\}", re.DOTALL)

    def _classify_chunk(self, keys: list[str]) -> dict[str, str]:
        prompt = self.prompt_template.format(labels=self.labels, items=json.dumps(keys))
        for _ in range(self.retries + 1):
            try:
                reply = self.transport(prompt)
                m = self._JSON_RE.search(reply)
                if not m:
                    continue
                parsed = json.loads(m.group(0))
                return {
                    k: (v if v in self.labels else self.fallback)
                    for k, v in parsed.items()
                    if isinstance(k, str)
                }
            except Exception:
                continue
        return {}

    def classify_batch(self, keys: pd.Series) -> pd.Series:
        mapping: dict[str, str] = {}
        uniq = [k for k in keys.dropna().unique().tolist()]
        for i in range(0, len(uniq), self.batch_size):
            mapping.update(self._classify_chunk(uniq[i : i + self.batch_size]))
        return keys.map(lambda k: mapping.get(k, self.fallback))


def gemini_transport(
    model: str = "gemini-2.0-flash",
    api_key: str | None = None,
    api_key_env: str = "GEMINI_API_KEY",
    endpoint: str = (
        "https://generativelanguage.googleapis.com/v1beta/models/"
        "{model}:generateContent"
    ),
    timeout: float = 30.0,
    opener: Callable[..., object] | None = None,
) -> Callable[[str], str]:
    """Concrete ``transport`` for :class:`BatchPromptClassifier` speaking
    the public Gemini ``generateContent`` REST protocol — the provider the
    reference actually calls (ETL_customer_behavior.py:27-28,116), with
    the credential moved OUT of source: the key comes from ``api_key`` or
    ``$GEMINI_API_KEY``, and construction fails fast when neither is set.

    Stdlib-only (urllib) so the library adds no dependency; ``opener`` is
    an injectable ``urlopen``-compatible callable — tests exercise the
    full request build + response parse offline, and a custom opener is
    also the hook for proxies/recording. Errors propagate to
    ``BatchPromptClassifier``, whose retry + "Other" fallback is the
    policy layer (this function is transport only).

    Executor note: the returned closure is pickled into ``mapInPandas``
    workers by ``classify_column`` — each executor makes its own HTTPS
    calls (parallel by partition), which replaces the reference's serial
    driver-side loop.
    """
    import os
    import urllib.request

    key = api_key if api_key is not None else os.environ.get(api_key_env, "")
    if not key:
        raise ValueError(
            f"no API key: pass api_key or set ${api_key_env} "
            "(never hardcode credentials in source)"
        )
    url = endpoint.format(model=model)
    do_open = opener if opener is not None else urllib.request.urlopen

    def transport(prompt: str) -> str:
        body = json.dumps(
            {"contents": [{"parts": [{"text": prompt}]}]}
        ).encode("utf-8")
        req = urllib.request.Request(
            url,
            data=body,
            headers={
                "Content-Type": "application/json",
                "x-goog-api-key": key,
            },
            method="POST",
        )
        with do_open(req, timeout=timeout) as resp:  # type: ignore[operator]
            payload = json.loads(resp.read().decode("utf-8"))
        return payload["candidates"][0]["content"]["parts"][0]["text"]

    return transport


# Spark's `lower` images of code points Python's Unicode database leaves
# unassigned, where those images are assigned letters (U+A7CB -> ɤ,
# U+A7DC -> ƛ). The module docstring gives the argument; the sweep in
# tests/test_properties.py re-derives the set from the running JVM.
SPARK_ONLY_LOWER_IMAGES = frozenset("\u0264\u019b")


def _native_rules(classifier) -> bool:
    """True when Spark evaluating ``classifier.to_case_sql`` per row gives
    exactly ``classifier.classify_batch``'s labels."""
    rules = getattr(classifier, "rules", None)
    if rules is None or not hasattr(classifier, "to_case_sql"):
        return False
    keywords = [kw.lower() for kws in rules.values() for kw in kws]
    if any(
        unicodedata.category(ch) == "Cn" or ch in SPARK_ONLY_LOWER_IMAGES
        for kw in keywords
        for ch in kw
    ):
        return False
    # Spark's parser unescapes backslashes and substitutes ${...} inside
    # SQL string literals; DuckDB and Python take both literally
    literals = [*keywords, *rules, classifier.fallback]
    return not any("\\" in s or "${" in s for s in literals)


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def classify_column(
    df: DataFrame,
    col: str,
    classifier,
    out_col: str = "category",
    chunk_size: int = 1000,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Attach ``out_col`` = classifier(label) for ``col``; null keys and
    keys the classifier leaves unlabelled get its ``fallback`` ("Other"),
    the reference's default (ETL_customer_behavior.py:125,131). Columns
    come back as ``col``, the rest of ``df`` in order, then ``out_col``.

    A :class:`RuleClassifier` whose rules pass the gate in the module
    docstring is one native projection: ``to_case_sql`` evaluated per row,
    so the plan gains no Exchange and no Python node. Any other classifier
    takes the Python path: distinct(col) → ``mapInPandas`` over batches of
    ``chunk_size`` keys → join back. That path runs the classifier once per
    distinct key on executors; at 100 TB the distinct-key table (keywords,
    categories, domains) is typically millions of rows — still
    broadcastable; set ``broadcast_labels=False`` to shuffle-join it
    instead. Classifying sf0.1 ``documents`` (5,000 rows, local[4], warm,
    noop sink) with ``q_enrich_classify``'s rules took 0.10 s natively and
    0.49 s on the Python path.
    """
    if _native_rules(classifier):
        rest = [F.col(_quoted(c)) for c in df.columns if c != col]
        label = F.expr(classifier.to_case_sql(_quoted(col))).alias(out_col)
        return df.select(F.col(_quoted(col)), *rest, label)

    schema = StructType(
        [StructField(col, StringType()), StructField(out_col, StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(0, len(pdf), chunk_size):
                chunk = pdf[col].iloc[i : i + chunk_size]
                yield pd.DataFrame({col: chunk, out_col: classifier.classify_batch(chunk)})

    keys = df.select(col).where(F.col(col).isNotNull()).distinct()
    labels = keys.mapInPandas(run, schema=schema)
    if broadcast_labels:
        labels = F.broadcast(labels)
    joined = df.join(labels, on=col, how="left")
    fallback = getattr(classifier, "fallback", "Other")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.lit(fallback)))
