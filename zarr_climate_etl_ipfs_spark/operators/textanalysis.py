"""Text-analysis operators for LLM training-data pipelines (BASELINE.json
north star: beyond-reference operators on the documents table).

All column-level transforms are JVM-side expressions (split/filter/aggregate
higher-order functions) — no Python UDFs — so they codegen and scale linearly
with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the heuristic language identifier.
#: Deliberately small and hard-coded: the point is the *operator shape*
#: (vectorized per-language scoring), not lexical coverage.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "para", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

PUNCT_RE = r"[.,;:!?'\"()\[\]{}\-]"


def words(text: Column | str) -> Column:
    """Whitespace tokenization; empty/NULL/whitespace-only → empty array.

    NULL must map to [] and not propagate: split(NULL) is a NULL array,
    whose size() is NULL — silently dropping the doc from AVG/COUNT paths
    while the SQL oracle counts it as 0 tokens (the oracle twin _WORDS_SQL
    coalesces identically)."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(F.coalesce(c, F.lit("")))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(words(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: words plus punctuation marks counted
    separately (a cheap, deterministic proxy for BPE tokenizers).
    NULL text counts as 0 — the same NULL->0 invariant words() enforces
    (the char-count terms would otherwise make the whole sum NULL,
    silently dropping the doc from AVG/SUM budget aggregations)."""
    c = F.col(text) if isinstance(text, str) else text
    nn = F.coalesce(c, F.lit(""))
    return F.size(words(c)) + F.length(nn) - F.length(F.regexp_replace(nn, PUNCT_RE, ""))


def avg_word_length(text: Column | str) -> Column:
    ws = words(text)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(ws) > 0, total / F.size(ws))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    return stopword_ratio_from_words(words(text), lang)


def stopword_ratio_from_words(ws: Column, lang: str = "en") -> Column:
    """Variant over a pre-materialized words column: when several per-language
    scores are computed from the same text, split once — Catalyst does not
    CSE the split across separate lambda subtrees, so the from-words form is
    ~n_langs× cheaper."""
    sw = STOPWORDS[lang]
    hits = F.size(F.filter(ws, lambda w: F.lower(w).isin(sw)))
    return F.when(F.size(ws) > 0, hits / F.size(ws)).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(
        F.length(c) > 0,
        (F.length(c) - F.length(F.regexp_replace(c, PUNCT_RE, ""))) / F.length(c),
    ).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + word-shape sanity.

    The shape mirrors production quality filters (Gopher/C4-style rules):
    each rule contributes a bounded penalty; the score is 1 - Σ penalties.
    """
    ws = words(text)
    n_words = F.size(ws)
    awl = F.coalesce(avg_word_length(text), F.lit(0.0))
    len_penalty = F.when(n_words < 10, 0.5).when(n_words > 5000, 0.3).otherwise(0.0)
    wordlen_penalty = F.when((awl < 2.0) | (awl > 12.0), 0.3).otherwise(0.0)
    punct_penalty = F.when(punct_ratio(text) > 0.2, 0.2).otherwise(0.0)
    return F.greatest(F.lit(0.0), F.lit(1.0) - len_penalty - wordlen_penalty - punct_penalty)


def language_scores(text: Column | str) -> Column:
    """Array of (lang, stopword-hit ratio); argmax is the predicted language."""
    return language_scores_from_words(words(text))


def language_scores_from_words(ws: Column) -> Column:
    pairs = [
        F.struct(
            F.lit(lang).alias("lang"), stopword_ratio_from_words(ws, lang).alias("score")
        )
        for lang in STOPWORDS
    ]
    return F.array(*pairs)


def predict_language(text: Column | str) -> Column:
    """Heuristic n-gram/stopword language ID: the language whose stopword
    list matches the most tokens (deterministic tie-break: lexicographically
    largest lang code wins ties)."""
    return predict_language_from_words(words(text))


def predict_language_from_words(ws: Column) -> Column:
    scores = language_scores_from_words(ws)
    best = F.array_max(
        F.transform(scores, lambda s: F.struct(s["score"].alias("score"), s["lang"].alias("lang")))
    )
    return best["lang"]


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of case/whitespace-normalized text —
    the exact-dedup key. Engine-portable (md5 is standard). NULL text
    yields a NULL fingerprint (md5(NULL) propagates, matching the SQL
    oracle's ``_FP_SQL`` exactly); consumers that JOIN or GROUP on the
    fingerprint must coalesce it first (dedup.``_fp_key`` does) — a NULL
    equi-join key matches nothing and silently drops rows."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def symspell_keys(word: Column | str) -> Column:
    """``{word} ∪ deletes₁(word)`` — the SymSpell candidate-key set for
    edit-distance-1 joins (Garbe's published algorithm): any two words
    within Levenshtein 1 share a key (a substitution meets at the shared
    delete position; an insert/delete meets at the shorter word itself),
    so a lexical entity-resolution pass is ONE linear-shuffle
    self-equi-join on the exploded keys — |keys| = Σ(len+1) over the
    vocabulary. Per-key group size is O(26·len): a delete key ``k`` is
    shared by every single-character insertion into ``k`` at any position
    — up to ``26·(len(k)+1) + 1`` vocabulary words — linear in word
    length, never corpus-sized, but NOT a constant. PERFECT RECALL among
    words of length ≥ 2, but not precision: distance-2 pairs can also
    collide (``abc``/``acb`` — a transposition — share the delete ``ab``),
    so the exact ``F.levenshtein(...) == 1`` verify on the candidates is
    REQUIRED, never an optimization to skip.

    Words shorter than 2 characters emit NO delete keys (only the identity
    key): their sole delete is the empty string, one degenerate key shared
    by the entire length-≤1 vocabulary — a join hot-spot — and Spark's
    ``sequence(1, 0)`` counts DOWN, which would otherwise fabricate junk
    ``''`` keys for them. Consequence: a distance-1 pair of two
    single-character words (``a``/``b``) is not recalled; callers wanting
    those pairs must handle length-1 words separately (they are a closed
    26-element set). The 100-TB-safe replacement for length-bucket
    quadratic blocking; the ``typo_candidate_pairs`` catalog query is the
    oracle-checked demo. Pure JVM expression (transform/sequence/
    substring), no Python."""
    w = F.col(word) if isinstance(word, str) else word
    deletes = F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.concat(w.substr(F.lit(1), i - 1), w.substr(i + 1, F.length(w))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # NULL word -> NULL key set (the pre-guard behavior), not [NULL]: an
    # exploded [NULL] row is junk a groupBy/count over keys would surface
    return F.when(w.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.concat(F.array(w), deletes)
    )


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass document profile: token/char counts, quality, language."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(c),
            "n_chars_measured": F.length(c),
            "avg_word_len": avg_word_length(c),
            "punct_ratio": punct_ratio(c),
            "quality": quality_score(c),
            "lang_pred": predict_language(c),
            "fingerprint": fingerprint(c),
        }
    )


#: PII patterns for training-corpus scrubbing: (name, Java regex, token).
#: Conservative, precision-leaning patterns — a scrubber that nukes every
#: number destroys the corpus; these target the formats real redaction
#: passes start from. Order matters: emails first so phone patterns never
#: fire inside an address.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"(?<![\d.])(?:\+?\d{1,2}[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4}(?![\d.])", "<PHONE>"),
    ("ipv4", r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])", "<IP>"),
    ("ssn", r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)", "<SSN>"),
)


def scrub_pii(text: Column | str) -> Column:
    """Redact PII spans with typed placeholder tokens — the corpus
    scrubbing step of a training-data pipeline. A chain of
    ``regexp_replace`` expressions, fully JVM-side (one codegen'd pass per
    pattern, no Python); apply before fingerprinting/dedup so redaction
    does not split otherwise-identical documents."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_counts(text: Column | str) -> Column:
    """Per-document PII hit counts as a map<string,int> — the audit side
    of :func:`scrub_pii` (report what a scrub WOULD remove without
    touching the text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.map_from_arrays(
        F.array(*[F.lit(name) for name, _, _ in PII_PATTERNS]),
        F.array(
            *[F.size(F.regexp_extract_all(c, F.lit(p), F.lit(0))) for _, p, _ in PII_PATTERNS]
        ),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    budget: int = 512,
    group_cols: tuple[str, ...] = ("lang",),
    n_shards: int | None = None,
) -> DataFrame:
    """Concatenate-and-slice sequence packing: each doc lands in the
    ``budget``-token window its running stream offset starts in (the
    standard pretraining layout — true greedy bin packing is a sequential
    scan Spark shouldn't emulate row-by-row). Returns one row per packed
    sequence: ``(*group_cols, shard, seq_id, n_docs, seq_tokens)``.

    The running offset is a windowed cumsum PARTITIONED BY (group, shard),
    so the shard count bounds the longest window partition at
    corpus/(groups·shards). ``n_shards`` defaults to
    ``defaultParallelism`` — on a 1000-executor cluster the window
    partitions scale with the cluster automatically; pass an explicit
    count only when sequence ids must be reproducible across cluster
    sizes (the catalog query pins 8 so its DuckDB oracle computes
    identical seq boundaries)."""
    n = n_shards if n_shards is not None else df.sparkSession.sparkContext.defaultParallelism
    w = (
        Window.partitionBy(*group_cols, "shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("shard", F.col(order_col) % n)
        .withColumn("start_off", F.sum(token_col).over(w) - F.col(token_col))
        .withColumn("seq_id", F.floor(F.col("start_off") / budget))
        .groupBy(*group_cols, "shard", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum(token_col).alias("seq_tokens"))
    )
