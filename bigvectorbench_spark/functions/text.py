"""Text-analysis functions for large-scale training-data pipelines.

These extend the reference's surface (BASELINE.json extension list): language
ID, quality scoring, token counting, shingling, and document fingerprinting —
all as Column expressions (JVM-side, codegen-friendly) so a 100 TB documents
table never round-trips through Python.

Tokenization contract: lowercase, split on runs of whitespace after trim.
Kept deliberately simple and *oracle-reproducible* (the same regex runs in
DuckDB for the correctness gate).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword/marker inventory (public common words).
LANG_MARKERS: Mapping[str, Sequence[str]] = {
    "en": ["the", "and", "of", "to", "is", "a", "in", "that"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "es": ["el", "los", "las", "es", "una", "que", "por", "con"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}

EN_STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased.  Empty string → empty array."""
    t = F.lower(F.trim(text))
    return F.filter(F.split(t, r"\s+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def avg_token_len_from_tokens(tk: Column) -> Column:
    """Mean token length from a MATERIALIZED tokens column (see
    shingles_from_tokens for why hot paths must not inline ``tokens(text)``
    here: it is referenced twice)."""
    total = F.aggregate(tk, F.lit(0.0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(tk) == 0, 0.0).otherwise(total / F.size(tk).cast("double"))


def _index_range(count: Column) -> Column:
    """sequence(1, count), empty when count ≤ 0 (Spark's sequence(1,0) is a
    *descending* [1,0], not empty — guard against it)."""
    return F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.lit([]).cast("array<int>")
    )


def shingles_from_tokens(tk: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from an ALREADY-MATERIALIZED tokens column.

    Performance contract: ``tk`` must be a real column (a prior projection),
    not the ``tokens(text)`` expression inline — expressions referenced
    inside a higher-order-function lambda are re-evaluated per array
    element, so an inline tokens expression re-tokenizes the whole document
    ~3× per shingle (quadratic; measured 13s → <2s on 5k docs when
    materialized).  Catalyst will not collapse the producing projection
    because ``tk`` is referenced more than once here."""
    idx = _index_range(F.size(tk) - (n - 1))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(n)])
    )
    return F.array_distinct(sh)


def stopword_ratio_from_tokens(tk: Column, stopwords: Sequence[str] = EN_STOPWORDS) -> Column:
    """Stopword fraction from a MATERIALIZED tokens column."""
    sw = F.lit(list(stopwords))
    hits = F.size(F.filter(tk, lambda w: F.array_contains(sw, w)))
    return F.when(F.size(tk) == 0, 0.0).otherwise(hits / F.size(tk).cast("double"))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.when(F.length(text) == 0, 0.0).otherwise(
        F.length(stripped) / F.length(text).cast("double")
    )


def digit_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^0-9]", "")
    return F.when(F.length(text) == 0, 0.0).otherwise(
        F.length(stripped) / F.length(text).cast("double")
    )


def quality_score_from_tokens(tk: Column, text: Column) -> Column:
    """Heuristic document quality ∈ [0,1] from a MATERIALIZED tokens column:
    rewards mid-length documents with natural word lengths and some stopword
    mass; punishes punctuation/digit noise.  (The standard cheap pre-filter
    in web-corpus pipelines.)  ``tk`` is referenced five times — inlining
    ``tokens(text)`` would re-tokenize the document five times per row."""
    ntok = F.size(tk).cast("double")
    len_score = F.least(ntok / F.lit(64.0), F.lit(1.0))
    awl = avg_token_len_from_tokens(tk)
    awl_score = F.when((awl >= 3.0) & (awl <= 10.0), 1.0).otherwise(0.3)
    sw_score = F.least(stopword_ratio_from_tokens(tk) * 4.0, F.lit(1.0))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_score = F.greatest(F.lit(1.0) - noise * 2.0, F.lit(0.0))
    return (
        0.3 * len_score + 0.2 * awl_score + 0.2 * sw_score + 0.3 * noise_score
    ).alias("quality")


def lang_scores_from_tokens(tk: Column, joined: Column) -> Column:
    """Array of (lang, hits) structs: marker-token occurrences per language.
    ``tk`` (tokens) and ``joined`` (tokens concatenated, for the zh
    char-marker scan) must be materialized columns — each is referenced per
    language / per marker, so inlining re-evaluates them (see
    shingles_from_tokens)."""
    entries = []
    for lang in sorted(LANG_MARKERS):
        markers = F.lit(list(LANG_MARKERS[lang]))
        if lang == "zh":
            # zh marker chars appear inside tokens, not as whole tokens
            hits = F.aggregate(
                markers,
                F.lit(0),
                lambda acc, m: acc
                + F.length(joined)
                - F.length(F.replace(joined, m, F.lit(""))),
            )
        else:
            hits = F.size(F.filter(tk, lambda w: F.array_contains(markers, w)))
        entries.append(F.struct(F.lit(lang).alias("lang"), hits.cast("int").alias("hits")))
    return F.array(*entries)


def lang_id_from_tokens(tk: Column, joined: Column, default: str = "en") -> Column:
    """Argmax marker-hit language from materialized token columns;
    deterministic tie-break by lang name (scores sorted desc by hits, asc by
    lang).  Falls back to ``default`` when nothing matches."""
    scored = F.sort_array(
        F.transform(
            lang_scores_from_tokens(tk, joined),
            lambda s: F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang")),
        )
    )
    best = F.element_at(scored, 1)
    return F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit(default))


def portable_hash60(s: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex digits of md5, as a
    BIGINT.  md5 is bit-identical everywhere, so any engine can reproduce
    it (DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``) — the hash to
    use when downstream artifacts (fingerprints, signatures) must be
    cross-checkable.  ~2× slower than xxhash64; 60 bits keeps the value
    positive in a signed 64-bit int."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def fingerprint_from_tokens(
    tk: Column, *, shingle_n: int = 3, num_mins: int = 8, hash: str = "xxhash64"
) -> Column:
    """Winnowing-style fingerprint from a materialized tokens column: the
    ``num_mins`` smallest 64-bit hashes of the word shingles, sorted
    ascending.  Two documents sharing most of their content share most
    fingerprint entries; the column is tiny (num_mins longs) so it can be
    stored and joined at corpus scale.

    ``hash="xxhash64"`` (default) is the fast engine-native path;
    ``hash="md5"`` uses ``portable_hash60`` so the fingerprints are
    reproducible outside Spark (oracle-checkable)."""
    hash_fn = (lambda s: F.xxhash64(s)) if hash == "xxhash64" else portable_hash60
    hashes = F.transform(shingles_from_tokens(tk, shingle_n), hash_fn)
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, num_mins)


# BPE-ish regex pre-tokenization (the GPT-2 pattern family, simplified to
# the subset portable between Java regex and RE2 so DuckDB oracles can
# reproduce token streams exactly: no lookahead, ASCII classes).  Splits
# contractions, letter runs, digit runs, and punctuation runs — each with
# its optional leading space, the way BPE vocabularies bind them.
BPE_RE = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+| '|\s"


def bpe_tokens(text: Column) -> Column:
    """BPE-style pre-tokens (GPT-2 pattern family) as an array column —
    JVM-side regexp_extract_all, whole-match (group 0).  Whitespace
    matches are real tokens here (BPE vocabularies encode them); callers
    counting "text tokens" should filter them, as bpe_token_count does."""
    return F.regexp_extract_all(text, F.lit(BPE_RE), 0)


def bpe_token_count(text: Column) -> Column:
    """Number of non-whitespace BPE pre-tokens — the LLM-cost estimate a
    training pipeline budgets with (whitespace token_count undercounts
    text with punctuation/contractions; this is the standard proxy)."""
    return F.size(F.filter(bpe_tokens(text), lambda t: F.trim(t) != ""))
