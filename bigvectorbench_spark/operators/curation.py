"""Corpus-curation operators for LLM training-data pipelines (builder's-brief
extension surface, alongside dedup.py): PII detection/redaction, Gopher-style
quality filtering, eval-set decontamination, substring-level (window) dedup,
and deterministic domain mixing.

These are the remaining standard stages of a web-scale curation pipeline
(C4/Gopher/RefinedWeb lineage) that dedup.py and functions/text.py do not
already cover.  Scale design notes:

- **PII scrub** is a stateless narrow pipeline: `regexp_extract_all` /
  `regexp_replace` run inside whole-stage codegen, one pass over the text,
  and the only shuffle is the final per-source aggregation (map-side
  partial).  At 100 TB this is scan-bound, which is the best possible shape.
- **Gopher quality** computes every per-document rule — token-count bounds,
  mean-word-length bounds, stopword presence, max-token-frequency repetition
  — as higher-order array expressions over ONE materialized tokens column.
  The repetition rule (classically an explode + groupBy + max, two shuffles
  per corpus) is folded into a sorted-array run-length `aggregate`, so the
  whole rule set is shuffle-free until the final per-source rollup.
- **Decontamination** broadcasts the eval-set shingle inventory (fixed size:
  benchmarks don't grow with the corpus) and semi-joins the train side
  against it — the 100 TB corpus is never shuffled, only scanned.
- **Substring dedup** (the window-occurrence analog of Lee et al.'s exact
  substring deduplication) shuffles 8-byte window HASHES, never window
  text: `portable_hash60` keys the occurrence count, so shuffle volume is
  ~8 bytes x token count regardless of document size, with map-side
  partial aggregation on the count.
- **Domain mixing** is a deterministic multiplicative-hash Bernoulli filter
  (keep iff h(doc_id) mod 1000 < target‰) — no shuffle at all until the
  acceptance report, no RNG state, reproducible across engines and runs,
  and exactly the sampling shape a 1000-executor job wants (embarrassingly
  parallel, partition-local).

Every operator is value-oracle-able: the regexes are portable between Java
regex and RE2 (no lookaround/backrefs), the hashes are md5-derived
(`portable_hash60`), and the arithmetic is integer or exact-double.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx

# ------------------------------------------------------------------ PII scrub

# Portable between Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded repetition, no lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

_PII_RULES: Sequence[tuple[str, str, str]] = (
    ("email", EMAIL_RE, "[EMAIL]"),
    ("phone", PHONE_RE, "[PHONE]"),
    ("ip", IPV4_RE, "[IP]"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (whole-match extraction, group 0)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for name, pat, _ in _PII_RULES
    }


def pii_redact(text: Column) -> Column:
    """Text with every PII match replaced by its category token.  Rules are
    applied email -> phone -> ip; the replacement tokens contain no digits
    or '@'/'.' runs, so later rules cannot re-match earlier redactions."""
    out = text
    for _, pat, token in _PII_RULES:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_scrub_report(df: DataFrame, *, text_col: str = "text",
                     group_col: str = "source") -> DataFrame:
    """Per-group PII accounting: match counts per category, documents with
    any PII, and total characters removed by redaction.  One codegen scan
    plus one partial-aggregated groupBy."""
    c = pii_counts(F.col(text_col))
    scanned = df.select(
        F.col(group_col),
        c["email"].alias("n_email"),
        c["phone"].alias("n_phone"),
        c["ip"].alias("n_ip"),
        (F.length(F.col(text_col)) - F.length(pii_redact(F.col(text_col))))
        .alias("delta"),
    )
    return (
        scanned.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_emails"),
            F.sum("n_phone").cast("bigint").alias("n_phones"),
            F.sum("n_ip").cast("bigint").alias("n_ips"),
            F.sum(((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0)
                  .cast("int")).cast("bigint").alias("n_docs_with_pii"),
            F.sum("delta").cast("bigint").alias("chars_redacted"),
        )
    )


# ------------------------------------------------------------- Gopher quality

GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_AVG_WORD_LEN = 3.0
GOPHER_MAX_AVG_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2  # distinct stopword types required
GOPHER_MAX_TOKEN_FREQ = 0.20  # max single-token occupancy


def max_token_run(tk: Column) -> Column:
    """Highest occurrence count of any single token, WITHOUT a shuffle:
    sort the (materialized) tokens array and fold a run-length maximum over
    it with `aggregate`.  The classical plan is explode + groupBy(doc,
    token) + max — two full shuffles of the token stream; this form keeps
    the rule inside whole-stage codegen per row.  Empty array -> 0."""
    sorted_tk = F.array_sort(tk)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, w: Column) -> Column:
        run = F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            w.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_tk, init, step, lambda acc: acc["best"])


def gopher_flags(tk: Column,
                 stopwords: Sequence[str] = tx.EN_STOPWORDS) -> dict[str, Column]:
    """Per-document Gopher-rule failure flags from a MATERIALIZED tokens
    column (see text.shingles_from_tokens for why inlining tokens(text)
    here would re-tokenize per reference)."""
    n = F.size(tk)
    awl = tx.avg_token_len_from_tokens(tk)
    n_stop = F.size(F.array_intersect(F.array_distinct(tk),
                                      F.lit(list(stopwords))))
    rep = F.when(n == 0, F.lit(1.0)).otherwise(
        max_token_run(tk) / n.cast("double"))
    return {
        "fail_len": (n < GOPHER_MIN_TOKENS) | (n > GOPHER_MAX_TOKENS),
        "fail_wordlen": (awl < GOPHER_MIN_AVG_WORD_LEN)
        | (awl > GOPHER_MAX_AVG_WORD_LEN),
        "fail_stop": n_stop < GOPHER_MIN_STOPWORDS,
        "fail_rep": rep > GOPHER_MAX_TOKEN_FREQ,
    }


def _gopher_quality_flags_arrow(df: DataFrame, *, text_col: str,
                                group_col: str,
                                stopwords: Sequence[str]) -> DataFrame:
    """Arrow-batched kernel twin of ``gopher_flags``: same tokenization
    (Java-\\s split, lowercased), token-run maxima counted on the token
    STRINGS (as the expression path's string sort does — never on hashes,
    which could merge colliding tokens), mean word length as an exact
    integer sum over one double division (double addition of small ints is
    exact, so this matches the fold's double accumulation bit-for-bit)."""
    schema = (f"{group_col} string, fail_len int, fail_wordlen int, "
              "fail_stop int, fail_rep int")
    stopset = tuple(stopwords)

    def gen(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            groups = pdf[group_col].tolist()
            texts = pdf[text_col].tolist()
            toks = _tokenize_docs(texts)
            f_len, f_wl, f_stop, f_rep = [], [], [], []
            for t, words in zip(texts, toks):
                if t is None:
                    # tokens(NULL) is NULL in the expression path: every
                    # flag is NULL and the rollup sums skip the doc (it
                    # still counts in n_docs) — mirror that exactly.
                    f_len.append(None); f_wl.append(None)
                    f_stop.append(None); f_rep.append(None)
                    continue
                n = len(words)
                if n:
                    counts = Counter(words)
                    awl = sum(map(len, words)) / n
                    rep = max(counts.values()) / n
                    n_stop = sum(1 for s in stopset if s in counts)
                else:
                    awl, rep, n_stop = 0.0, 1.0, 0
                f_len.append(int(n < GOPHER_MIN_TOKENS
                                 or n > GOPHER_MAX_TOKENS))
                f_wl.append(int(awl < GOPHER_MIN_AVG_WORD_LEN
                                or awl > GOPHER_MAX_AVG_WORD_LEN))
                f_stop.append(int(n_stop < GOPHER_MIN_STOPWORDS))
                f_rep.append(int(rep > GOPHER_MAX_TOKEN_FREQ))
            yield pd.DataFrame({
                group_col: pd.Series(groups, dtype="object"),
                "fail_len": pd.array(f_len, dtype="Int32"),
                "fail_wordlen": pd.array(f_wl, dtype="Int32"),
                "fail_stop": pd.array(f_stop, dtype="Int32"),
                "fail_rep": pd.array(f_rep, dtype="Int32"),
            })

    return df.select(group_col, text_col).mapInPandas(gen, schema)


def gopher_quality_report(df: DataFrame, *, text_col: str = "text",
                          group_col: str = "source",
                          method: str = "arrow") -> DataFrame:
    """Per-group Gopher-filter breakdown: documents passing all rules and
    independent per-rule failure counts (a doc can fail several).

    ``method="arrow"`` (default) computes per-document flags in the
    batched Python kernel; ``method="expr"`` keeps the whole-stage-codegen
    higher-order folds — the engine-portable oracle shape.  Identical
    flags either way (test_gopher_quality_arrow_matches_expr)."""
    if method == "arrow":
        flagged = _gopher_quality_flags_arrow(
            df, text_col=text_col, group_col=group_col,
            stopwords=tx.EN_STOPWORDS)
    elif method == "expr":
        tokenized = df.select(
            F.col(group_col), tx.tokens(F.col(text_col)).alias("tk"))
        flags = gopher_flags(F.col("tk"))
        flagged = tokenized.select(
            group_col,
            *[v.cast("int").alias(k) for k, v in flags.items()],
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    passed = (F.col("fail_len") + F.col("fail_wordlen")
              + F.col("fail_stop") + F.col("fail_rep")) == 0
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(passed.cast("int")).cast("bigint").alias("n_pass"),
            F.sum("fail_len").cast("bigint").alias("n_fail_len"),
            F.sum("fail_wordlen").cast("bigint").alias("n_fail_wordlen"),
            F.sum("fail_stop").cast("bigint").alias("n_fail_stop"),
            F.sum("fail_rep").cast("bigint").alias("n_fail_rep"),
        )
    )


# ------------------------------------------- Gopher repetition (n-gram rules)

# The full published repetition rule set (Gopher, Rae et al. 2021 Table A1):
# fraction of characters in the MOST FREQUENT n-gram (n=2,3,4) and fraction
# of characters in DUPLICATED n-grams (n=5..10), each with its threshold.
GOPHER_TOP_NGRAM_MAX: Mapping[int, float] = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX: Mapping[int, float] = {
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


# Packed window identity: (41-bit rolling hash << 22) | 22-bit char mass.
# ONE bigint per window, so array_sort runs the primitive-long fast path —
# sorting ARRAY<STRUCT> falls back to Spark's interpreted ordering, which
# measured 2× slower end-to-end on the 500k-doc corpus.  Bounds: packed
# < 2^63; valid while a window's char mass < 2^22 (10 whitespace tokens
# of ~400KB each — far beyond any real word).  A 41-bit hash collision
# (expectation <2 at 5M windows) merges two grams of equal char mass —
# mirrored exactly by the oracle, which groups by the same packed value.
_CMASK = (1 << 22) - 1


def window_stat_packed(th: Column, lens: Column, n: int) -> Column:
    """Sorted ARRAY<BIGINT> of packed (rolling window hash, char mass)
    values, one per n-token window — windows are IDENTIFIED by the packed
    value instead of their joined string (building 9 positional
    gram-string arrays per doc was the measured 90% of
    gopher_repetition's 113s at 500k docs).  ``th`` (token_hashes) and
    ``lens`` (per-token lengths) must be MATERIALIZED columns (HOF
    re-evaluation).  The mod is a bitwise AND (power-of-two modulus,
    non-negative operands — value-identical to pmod, one op instead of
    three)."""
    idx = F.when(F.size(th) >= n,
                 F.sequence(F.lit(1), F.size(th) - (n - 1))
                 ).otherwise(F.lit([]).cast("array<int>"))

    def mk(i: Column) -> Column:
        h = F.element_at(th, i).cast("bigint")
        c = F.element_at(lens, i)
        for j in range(1, n):
            h = (h * _ROLL_P + F.element_at(th, i + j)).bitwiseAND(
                F.lit(_ROLL_M - 1))
            c = c + F.element_at(lens, i + j)
        return h * (_CMASK + 1) + c

    return F.array_sort(F.transform(idx, mk))


def _ws_init() -> Column:
    # fold seed: pw = -1 cannot equal a real (non-negative) packed window.
    # A function, not a module constant — Column construction needs an
    # active SparkContext, which imports must not require.
    return F.struct(
        F.lit(-1).cast("bigint").alias("pw"),
        F.lit(0).alias("run"), F.lit(0).alias("out"))


def _wchars(pw: Column) -> Column:
    """Char mass of a packed window value (low 22 bits)."""
    return pw.bitwiseAND(F.lit(_CMASK)).cast("int")


def top_ngram_chars(th: Column, lens: Column, n: int) -> Column:
    """max over n-grams of (occurrences × gram chars) — the character mass
    of the heaviest repeated n-gram, shuffle-free: fold run-lengths over
    the sorted packed-window array, taking the maximum of run × chars as
    each run grows.  Deterministic without a tie rule: max of a product
    needs no argmax."""
    g = window_stat_packed(th, lens, n)

    def step(acc: Column, w: Column) -> Column:
        run = F.when(w == acc["pw"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            w.alias("pw"), run.alias("run"),
            F.greatest(acc["out"], run * _wchars(w)).alias("out"),
        )

    return F.aggregate(g, _ws_init(), step, lambda acc: acc["out"])


def dup_ngram_chars(th: Column, lens: Column, n: int) -> Column:
    """Σ over n-grams occurring ≥2× of (occurrences × gram chars) — the
    character mass inside duplicated n-grams (every occurrence counted;
    the standard overlap-permitting simplification of the Gopher rule).
    Same sorted-packed run-length fold; completed runs of length ≥2 flush
    into the accumulator, the final run flushes in the finish lambda."""
    g = window_stat_packed(th, lens, n)

    def flush(acc: Column) -> Column:
        return acc["out"] + F.when(
            acc["run"] >= 2, acc["run"] * _wchars(acc["pw"])
        ).otherwise(F.lit(0))

    def step(acc: Column, w: Column) -> Column:
        same = w == acc["pw"]
        return F.struct(
            w.alias("pw"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["out"]).otherwise(flush(acc)).alias("out"),
        )

    return F.aggregate(g, _ws_init(), step, flush)


_GOPHER_FLAG_NAMES = tuple(
    [f"fail_top{n}" for n in GOPHER_TOP_NGRAM_MAX]
    + [f"fail_dup{n}" for n in GOPHER_DUP_NGRAM_MAX])


def _gopher_repetition_flags_expr(df: DataFrame, *, text_col: str,
                                  group_col: str) -> DataFrame:
    """Expression form of the per-document flag row: nine sorted-array
    folds inside whole-stage codegen, zero shuffles.  This is the
    engine-portability declaration — every step (md5 token hashes, the
    P=4093/M=2^41 rolling fold, the packed run-length folds) is mirrored
    verbatim in the oracle SQL."""
    tokenized = df.select(
        F.col(group_col), tx.tokens(F.col(text_col)).alias("tk"))
    # th and lens materialized in their own projection: every rule's
    # unrolled fold references them per window element (HOF re-evaluation)
    hashed = tokenized.select(
        group_col,
        token_hashes(F.col("tk")).alias("th"),
        F.transform(F.col("tk"), lambda w: F.length(w)).alias("lens"),
    )
    work = hashed.select(
        group_col, "th", "lens",
        F.aggregate(F.col("lens"), F.lit(0),
                    lambda acc, x: acc + x).alias("tot"))

    def frac(chars: Column) -> Column:
        return F.when(F.col("tot") > 0,
                      chars / F.col("tot").cast("double")).otherwise(F.lit(0.0))

    flags = {}
    for n, thr in GOPHER_TOP_NGRAM_MAX.items():
        flags[f"fail_top{n}"] = frac(
            top_ngram_chars(F.col("th"), F.col("lens"), n)) > thr
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        flags[f"fail_dup{n}"] = frac(
            dup_ngram_chars(F.col("th"), F.col("lens"), n)) > thr
    return work.select(
        group_col, *[v.cast("int").alias(k) for k, v in flags.items()])


# Java-regex \s (Spark's split pattern) is the ASCII class below; Python's
# \s additionally matches \x1c-\x1f, \x85, \xa0 and the unicode spaces, so
# the kernels must NOT use it — tokenization would diverge on such bytes.
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def _tokenize_docs(texts):
    """Worker-side twin of ``tx.tokens``: lowercased Java-\\s-split word
    lists, one per document (NULL text → empty)."""
    import re

    split = re.compile(_JAVA_WS).split
    return [[w for w in split((t or "").strip().lower()) if w]
            for t in texts]


def _hash_flat(toks, cache):
    """Flatten per-doc token lists into (th, lens, doc_lens) int64 arrays —
    the same 40-bit md5 token hashes and char lengths the expression path
    materializes, one md5 per DISTINCT token via ``cache`` (worker-resident
    across batches; Zipf token reuse makes hashing ~free)."""
    import hashlib

    import numpy as np

    def tok_stats(word):
        v = cache.get(word)
        if v is None:
            h = int(hashlib.md5(word.encode("utf-8")).hexdigest()[:15],
                    16) & (_TH_MOD - 1)
            v = (h, len(word))
            cache[word] = v
        return v

    nb = len(toks)
    th_parts, len_parts, doc_lens = [], [], np.empty(nb, np.int64)
    for i, words in enumerate(toks):
        doc_lens[i] = len(words)
        if words:
            stats = [tok_stats(w) for w in words]
            th_parts.append(np.fromiter(
                (s[0] for s in stats), np.int64, len(stats)))
            len_parts.append(np.fromiter(
                (s[1] for s in stats), np.int64, len(stats)))
    th = np.concatenate(th_parts) if th_parts else np.empty(0, np.int64)
    lens = np.concatenate(len_parts) if len_parts else np.empty(0, np.int64)
    return th, lens, doc_lens


def _window_ctx(doc_lens):
    """Per-batch flat-position bookkeeping, computed ONCE and reused by
    every window width: (doc_of_pos, rel position in doc, doc length at
    each position)."""
    import numpy as np

    total = int(doc_lens.sum())
    doc_starts = np.concatenate(([0], np.cumsum(doc_lens)))[:len(doc_lens)]
    doc_of_pos = np.repeat(np.arange(len(doc_lens)), doc_lens)
    rel = np.arange(total) - np.repeat(doc_starts, doc_lens)
    return doc_of_pos, rel, np.repeat(doc_lens, doc_lens)


def _window_starts(ctx, n):
    """(starts, doc_of_window): flat positions where an n-token window fits
    inside its document, and each window's document index."""
    import numpy as np

    doc_of_pos, rel, lpos = ctx
    starts = np.flatnonzero(rel + n <= lpos)
    return starts, doc_of_pos[starts]


def _rolling_flat(th, starts, n):
    """Vectorized rolling window hashes (the P=4093 / M=2^41 fold) for the
    windows beginning at ``starts``."""
    acc = th[starts]
    for j in range(1, n):
        acc = (acc * _ROLL_P + th[starts + j]) & (_ROLL_M - 1)
    return acc


def _gopher_repetition_flags_arrow(df: DataFrame, *, text_col: str,
                                   group_col: str) -> DataFrame:
    """Arrow-batched kernel twin of the expression flags: value-identical
    output (same md5 token hashes, same rolling fold, same packed
    run-length semantics), ~6× faster on realistic corpora because the
    nine per-window folds become vectorized numpy passes over one flat
    token array per batch instead of per-element Catalyst expression
    trees.  Per batch: tokenize (Java-\\s split, lowercased), hash each
    DISTINCT token once through a worker-resident md5 cache (Zipf reuse
    makes this ~free), then for each n compute every window's rolling
    hash + char mass in n−1 vectorized multiply-add-mask steps, lexsort
    (doc, packed) once, and reduce run lengths with reduceat.  Used by
    default; the expression form remains the declared oracle shape."""
    flag_names = _GOPHER_FLAG_NAMES
    schema = (f"{group_col} string, "
              + ", ".join(f"{k} int" for k in flag_names))
    top_items = sorted(GOPHER_TOP_NGRAM_MAX.items())
    dup_items = sorted(GOPHER_DUP_NGRAM_MAX.items())

    def gen(batches):
        import numpy as np
        import pandas as pd

        cache: dict[str, tuple[int, int]] = {}

        for pdf in batches:
            groups = pdf[group_col].tolist()
            toks = _tokenize_docs(pdf[text_col].tolist())
            nb = len(toks)
            th, lens, doc_lens = _hash_flat(toks, cache)
            doc_starts = np.concatenate(
                ([0], np.cumsum(doc_lens)))[:nb]  # start offset per doc
            cs = np.concatenate(([0], np.cumsum(lens)))
            tot = (cs[doc_starts + doc_lens] - cs[doc_starts]).astype(
                np.float64)
            out = {group_col: pd.Series(groups, dtype="object")}
            ctx = _window_ctx(doc_lens)
            for kind, items in (("top", top_items), ("dup", dup_items)):
                for n, thr in items:
                    starts, wdoc = _window_starts(ctx, n)
                    acc = _rolling_flat(th, starts, n)
                    cmass = cs[starts + n] - cs[starts]
                    packed = (acc << 22) | cmass
                    order = np.lexsort((packed, wdoc))
                    sp, sd = packed[order], wdoc[order]
                    rs = np.flatnonzero(np.r_[
                        True, (sp[1:] != sp[:-1]) | (sd[1:] != sd[:-1])]
                    ) if len(sp) else np.empty(0, np.int64)
                    rl = np.diff(np.r_[rs, len(sp)])
                    rcm = sp[rs] & _CMASK
                    rdoc = sd[rs]
                    prod = rl * rcm
                    if kind == "dup":
                        prod = np.where(rl >= 2, prod, 0)
                    chars = np.zeros(nb, np.int64)
                    if len(rs):
                        ds = np.flatnonzero(
                            np.r_[True, rdoc[1:] != rdoc[:-1]])
                        red = (np.maximum.reduceat(prod, ds) if kind == "top"
                               else np.add.reduceat(prod, ds))
                        chars[rdoc[ds]] = red
                    with np.errstate(divide="ignore", invalid="ignore"):
                        fr = np.where(tot > 0, chars / tot, 0.0)
                    out[f"fail_{kind}{n}"] = (fr > thr).astype(np.int32)
            yield pd.DataFrame(out)

    return df.select(group_col, text_col).mapInPandas(gen, schema)


def gopher_repetition_report(df: DataFrame, *, text_col: str = "text",
                             group_col: str = "source",
                             method: str = "arrow") -> DataFrame:
    """Per-group breakdown of the full Gopher repetition rule family:
    independent failure counts for top-2/3/4-gram and dup-5..10-gram
    character fractions, plus documents passing all nine.  Fractions are
    exact-integer character masses divided once by the doc's total token
    characters and compared UNROUNDED to the published thresholds (the
    corpus_curation half-ulp lesson).

    ``method="arrow"`` (default) computes the per-document flags in the
    vectorized numpy kernel; ``method="expr"`` uses the whole-stage-codegen
    sorted-array folds — the engine-portable oracle form.  Both emit
    bit-identical flags (pinned by test_gopher_arrow_matches_expr); either
    way the only shuffle is the final per-group rollup."""
    if method == "arrow":
        flagged = _gopher_repetition_flags_arrow(
            df, text_col=text_col, group_col=group_col)
    elif method == "expr":
        flagged = _gopher_repetition_flags_expr(
            df, text_col=text_col, group_col=group_col)
    else:
        raise ValueError(f"unknown method {method!r}")
    flags = _GOPHER_FLAG_NAMES
    any_fail = sum((F.col(k) for k in flags), F.lit(0))
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((any_fail == 0).cast("int")).cast("bigint").alias("n_pass"),
            *[F.sum(k).cast("bigint").alias(f"n_{k}") for k in flags],
        )
    )


# ------------------------------------------------------ eval decontamination


# Rolling-hash constants, shared verbatim with the oracle SQL: per-token
# hashes are the portable 60-bit md5 value reduced to 40 bits, window
# hashes fold them with acc·P + x (mod M).  Bounds: acc < M = 2^41 and
# P < 2^12, so acc·P + x < 2^53 + 2^40 never overflows a signed 64-bit
# int in either engine.  The fold is SEEDED with the window's first token
# hash (DuckDB's list_reduce convention — it has no initial-value form).
_TH_MOD = 1 << 40
_ROLL_P = 4093
_ROLL_M = 1 << 41


def token_hashes(tk: Column) -> Column:
    """Per-token 40-bit portable hashes — ONE md5 per token.  Callers must
    MATERIALIZE this as a real column before passing it to
    rolling_window_hashes: inlined, the fold's repeated references would
    re-hash every token once per window (the HOF re-evaluation trap —
    see text.shingles_from_tokens)."""
    # power-of-two modulus + non-negative operand: bitwise AND is
    # value-identical to pmod and one op instead of three
    return F.transform(
        tk, lambda w: tx.portable_hash60(w).bitwiseAND(F.lit(_TH_MOD - 1)))


def rolling_window_hashes(th: Column, n: int) -> Column:
    """Window hashes from a MATERIALIZED token-hash column: the n-token
    window at position i hashes to the polynomial fold of th[i..i+n−1].
    This replaces an md5 of each window STRING: the md5 input
    volume drops from n× the corpus text to 1× (one short token each),
    and each window costs n−1 multiply-add-mods unrolled into one codegen
    expression — measured 24.9s → 6.5s for the hash stage on the 500k-doc
    corpus at n=15 (substring_dedup end-to-end 70s → 21s, decontaminate
    29s → 6s).  Hash width is
    41 bits: collision expectation at 5M windows is <2 (and any collision
    is mirrored exactly by the oracle, which runs the same fold); a
    10^12-window deployment widens M to two limbs or a HUGEINT fold."""
    idx = F.when(F.size(th) >= n,
                 F.sequence(F.lit(1), F.size(th) - (n - 1))
                 ).otherwise(F.lit([]).cast("array<int>"))

    # n is a plan-time constant, so the fold UNROLLS into a nested
    # expression chain — no aggregate() HOF, no per-window slice copy;
    # the whole window hash is one codegen expression per element.
    def unrolled(i: Column) -> Column:
        acc = F.element_at(th, i).cast("bigint")
        for j in range(1, n):
            acc = (acc * _ROLL_P + F.element_at(th, i + j)).bitwiseAND(
                F.lit(_ROLL_M - 1))
        return acc

    return F.transform(idx, unrolled)


def decontaminate_report(df: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text", group_col: str = "source",
                         eval_mod: int = 97, ngram: int = 8) -> DataFrame:
    """Train/eval n-gram-overlap decontamination (the standard test-set
    contamination check): the eval split is the deterministic slice
    ``id % eval_mod = 0``; a train document is contaminated if it shares
    any ``ngram``-token window with any eval document.

    Scale shape: the eval inventory is FIXED SIZE (benchmarks don't grow
    with the corpus), so it is broadcast and the train side is scanned,
    never shuffled: the probe is `explode` + broadcast LEFT SEMI join +
    per-doc distinct, a broadcast-hash semi join inside codegen.  (A
    searchsorted Arrow kernel over a collected eval inventory measured
    slower at 500k Zipf docs, 10.1 s against 7.8 s: vectorizing beats
    Catalyst only when the expression form is interpreter-bound HOF
    folds, not when it is a join.)"""
    tokenized = df.select(
        F.col(id_col), F.col(group_col),
        tx.tokens(F.col(text_col)).alias("tk"),
        (F.col(id_col) % eval_mod == 0).alias("is_eval"),
    ).select(
        # th materialized in its own projection: the window fold references
        # it per element, and an inlined token_hashes expression would
        # re-hash every token once per window (HOF re-evaluation)
        id_col, group_col, "is_eval", token_hashes(F.col("tk")).alias("th"),
    ).select(
        id_col, group_col, "is_eval",
        F.array_distinct(rolling_window_hashes(F.col("th"), ngram))
        .alias("whs"),
    )
    # NOTE: no size(whs) pre-filter here — explode already skips empty
    # arrays, and ANY predicate over the computed array column gets pushed
    # below the projection with the window expression substituted in,
    # re-tokenizing per array element (the InferFiltersFromGenerate defect
    # this module's plans exclude session-wide, session.py).  Filters on
    # the MATERIALIZED tk column are safe: they evaluate once per row.
    eval_whs = (
        tokenized.filter("is_eval")
        .select(F.explode("whs").alias("wh")).distinct()
    )
    train = tokenized.filter(~F.col("is_eval"))
    contaminated = (
        train.select(id_col, F.explode("whs").alias("wh"))
        .join(F.broadcast(eval_whs), "wh", "left_semi")
        .select(id_col).distinct()
    )
    return (
        train.join(contaminated.withColumn("hit", F.lit(1)), id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
            .alias("n_contaminated"),
        )
    )


def bloom_decontaminate_report(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    group_col: str = "source", eval_mod: int = 97, ngram: int = 8,
    fp_rate: float = 1e-6, max_extra_frac: float = 0.02,
) -> DataFrame:
    """Decontamination through a Bloom filter — the memory regime past both
    sibling methods: the broadcast semi-join table costs 8+ bytes per eval
    window hash plus the join hashmap, the sorted-array kernel 8 bytes;
    the Bloom bitmap costs ~3.6 bytes/hash at fp=1e-6 (operators/bloom.py),
    so a 1B-window eval inventory broadcasts as ~3.6 GB of bits instead of
    >8 GB of hashes.  (fp=1e-6 rather than the textbook 1e-4: a fp WINDOW
    flags a whole doc — and every planted duplicate of it — so the
    per-doc fp rate is ~windows-per-doc × p; 1e-6 keeps the expected fp
    doc count ≪ 1 per declared corpus, making the gate deterministic-green
    rather than threshold-lucky.  Both oracle sfs measured clean at every
    rate once bloom_params forced the full double-hashing period — now
    via a PRIME m with minimal k, bloom.py.)  The error is one-sided by construction: **no false
    negatives** (every truly contaminated doc flags), a bounded rate of
    false positives (extra docs removed — the direction decontamination
    tolerates).

    Returns per-group rows carrying the EXACT counts (independently
    recomputable by the SQL oracle) plus two asserted booleans:
    ``superset_ok`` — every exact-contaminated doc was Bloom-flagged (trips
    on any build/probe hash or bit-layout mismatch); ``fp_extra_ok`` —
    Bloom flagged at most max(1, ceil(max_extra_frac·n_train)) docs beyond
    exact (trips if the fp design point is off by orders of magnitude).

    Plan shape: eval inventory scan → bitmap fold (driver gets
    partitions × m/8 bytes); train side is ONE map-only probe pass (no
    explode, no join — bloom_probe_any) plus the exact semi-join pass the
    gate compares against; one rollup shuffle of (group, flags) rows."""
    from bigvectorbench_spark.operators import bloom as bl

    tokenized = df.select(
        F.col(id_col), F.col(group_col),
        tx.tokens(F.col(text_col)).alias("tk"),
        (F.col(id_col) % eval_mod == 0).alias("is_eval"),
    ).select(
        id_col, group_col, "is_eval", token_hashes(F.col("tk")).alias("th"),
    ).select(
        id_col, group_col, "is_eval",
        F.array_distinct(rolling_window_hashes(F.col("th"), ngram))
        .alias("whs"),
    ).persist()
    eval_whs = (
        tokenized.filter("is_eval")
        .select(F.explode("whs").alias("wh")).distinct()
    ).persist()
    m_bits, k = bl.bloom_params(eval_whs.count(), fp_rate)
    bm = bl.bloom_build(eval_whs, "wh", m_bits=m_bits, k=k)

    train = tokenized.filter(~F.col("is_eval"))
    probed = bl.bloom_probe_any(
        train.select(id_col, group_col, "whs"), "whs", bm, m_bits=m_bits,
        k=k, out_col="bloom_hit").drop("whs")
    exact_ids = (
        train.select(id_col, F.explode("whs").alias("wh"))
        .join(F.broadcast(eval_whs), "wh", "left_semi")
        .select(id_col).distinct().withColumn("exact_hit", F.lit(True))
    )
    flags = probed.join(exact_ids, id_col, "left").select(
        group_col, "bloom_hit",
        F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"))
    agg = flags.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_train"),
        F.sum(F.col("exact_hit").cast("int")).cast("bigint")
        .alias("n_contaminated"),
        F.sum(F.col("bloom_hit").cast("int")).cast("bigint").alias("__n_bloom"),
        F.sum((F.col("exact_hit") & ~F.col("bloom_hit")).cast("int"))
        .alias("__missed"),
    )
    out = agg.select(
        group_col, "n_train", "n_contaminated",
        (F.col("__missed") == 0).alias("superset_ok"),
        ((F.col("__n_bloom") - F.col("n_contaminated")) <=
         F.greatest(F.lit(1), F.ceil(F.lit(max_extra_frac) * F.col("n_train"))))
        .alias("fp_extra_ok"),
    )
    # The report is one tiny row per group: materialize it (truncating the
    # lineage) so the cached tokenize/inventory frames can be RELEASED here
    # instead of leaking for the session (the sibling decontaminate paths
    # bound or release their intermediates the same way).
    out = out.localCheckpoint(eager=True)
    tokenized.unpersist()
    eval_whs.unpersist()
    return out


# ------------------------------------------------------- substring-level dedup


def substring_dedup_report(df: DataFrame, *, id_col: str = "doc_id",
                           text_col: str = "text", group_col: str = "source",
                           window: int = 15) -> DataFrame:
    """Repeated-window detection across the corpus — the distributed analog
    of exact substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better": a suffix-array over the corpus
    finds verbatim repeated spans; here every ``window``-token span is
    keyed by a portable 8-byte hash and counted corpus-wide, which finds
    the same >=window-token verbatim repetitions without a global suffix
    sort).

    Per group: total documents, documents containing at least one span
    that occurs elsewhere in the corpus, and the number of span
    occurrences in this group that are corpus-wide duplicates.

    Scale shape: the shuffle key is the 60-bit hash (8 bytes x ~token
    count, independent of document size); the occurrence count gets
    map-side partial aggregation; the join back is hash-keyed.  A real
    100 TB run would additionally salt the all-zeros/boilerplate hot
    hashes — the max_shingle_freq guard in dedup.py is the same idea."""
    tokenized = df.select(
        F.col(id_col), F.col(group_col), tx.tokens(F.col(text_col)).alias("tk"))
    occ = tokenized.filter(F.size("tk") >= window).select(
        id_col, group_col, token_hashes(F.col("tk")).alias("th"),
    ).select(
        id_col, group_col,
        F.explode(rolling_window_hashes(F.col("th"), window)).alias("wh"),
    )
    counts = occ.groupBy("wh").agg(F.count("*").alias("n_occ"))
    dup_occ = occ.join(counts.filter(F.col("n_occ") > 1), "wh")
    per_doc = (
        dup_occ.groupBy(id_col, group_col)
        .agg(F.count("*").alias("n_dup_occ_doc"))
    )
    docs = tokenized.select(id_col, group_col)
    return (
        docs.join(per_doc.select(id_col, "n_dup_occ_doc"), id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            # the left join leaves NULL for dup-free docs; a group that is
            # ALL dup-free would sum NULLs to NULL — coalesce row-wise so
            # the count is 0 there (DuckDB's count() convention)
            F.sum(F.coalesce((F.col("n_dup_occ_doc") > 0).cast("int"),
                             F.lit(0))).cast("bigint").alias("n_dup_docs"),
            F.sum(F.coalesce("n_dup_occ_doc", F.lit(0))).cast("bigint")
            .alias("n_dup_occurrences"),
        )
    )


# The canonical-occurrence key packs (doc_id, pos) into one BIGINT so both
# engines take the same min: valid for pos < 2^20 (1M-token docs) and
# doc_id < 2^43.  A wider deployment packs into a DECIMAL(38) or compares
# the struct directly.
_POS_PACK = 1 << 20


def substring_rewrite(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", window: int = 15) -> DataFrame:
    """APPLY the exact-substring cut-list (the second half of Lee et al.'s
    dedup: don't just find repeated spans — rewrite the corpus with all
    but one copy removed).  A ``window``-token occurrence is cut when its
    hash occurs more than once corpus-wide AND it is not the canonical
    occurrence (minimum (doc_id, position) — so exactly one copy of every
    repeated span survives, in the lowest-id document).  Tokens covered
    by any cut occurrence are removed; the emitted ``text_clean`` is the
    surviving token stream re-joined (the normalized lowercase form — the
    tokenizer contract all curation stages share).

    Output: (doc_id, n_tokens, n_cut, text_clean) for EVERY document.

    Scale shape: same as substring_dedup_report — 8-byte window hashes
    shuffle with map-side-combined (count, min-key) aggregation, then one
    hash-keyed join back and a per-doc cut-set rollup; the rewrite itself
    is a row-local array filter in codegen.  Document text moves once,
    into the final join that rewrites it."""
    tokenized = df.select(
        F.col(id_col), tx.tokens(F.col(text_col)).alias("tk"))
    key = (F.col(id_col).cast("bigint") * _POS_PACK + F.col("pos"))
    occ = tokenized.filter(F.size("tk") >= window).select(
        id_col, token_hashes(F.col("tk")).alias("th"),
    ).select(
        id_col,
        F.posexplode(rolling_window_hashes(F.col("th"), window))
        .alias("pos", "wh"),
    ).withColumn("pos", F.col("pos") + 1).withColumn("key", key)
    stats = occ.groupBy("wh").agg(
        F.count("*").alias("n_occ"), F.min("key").alias("min_key"))
    cut_pos = (
        occ.join(stats, "wh")
        .filter((F.col("n_occ") > 1) & (F.col("key") != F.col("min_key")))
        .select(id_col,
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + (window - 1))).alias("cp"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("cp")).alias("cps"))
    )
    joined = tokenized.join(cut_pos, id_col, "left").withColumn(
        "cps", F.coalesce(F.col("cps"), F.lit([]).cast("array<int>")))
    indexed = F.transform(
        F.col("tk"), lambda w, i: F.struct(w.alias("w"), (i + 1).alias("p")))
    kept = F.filter(indexed,
                    lambda s: ~F.array_contains(F.col("cps"), s["p"]))
    return joined.select(
        id_col,
        F.size("tk").cast("bigint").alias("n_tokens"),
        # cut positions past the token count cannot exist (windows fit in
        # the doc), so the cut-set size is exactly the removed-token count
        F.size("cps").cast("bigint").alias("n_cut"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["w"]))
        .alias("text_clean"),
    )


# ------------------------------------------------------------- domain mixing

# Knuth multiplicative constant (2^32 / phi); the hash is exact bigint
# arithmetic so every engine reproduces it bit-for-bit.
_KNUTH = 2654435761
_MOD32 = 4294967296


def mix_hash(id_col: Column) -> Column:
    """Deterministic per-row sampling hash in [0, 1000): multiplicative
    hashing on the id, exact integer arithmetic (no RNG state, no
    engine-specific hash function).  Valid for ids < 2^31 (the product
    must stay in a signed 64-bit int); a 100 TB deployment widens this to
    the same arithmetic over `xxhash64(id) & 0x7fffffff`."""
    return F.pmod(F.pmod(id_col.cast("bigint") * F.lit(_KNUTH), F.lit(_MOD32)),
                  F.lit(1000))


def domain_mix_report(df: DataFrame, *, id_col: str = "doc_id",
                      group_col: str = "source") -> DataFrame:
    """Stratified corpus mixing: each source keeps a deterministic
    pseudo-random fraction of its documents (target ‰ derived from the
    source's numeric suffix: (n mod 4 + 1) * 250 -> 250/500/750/1000),
    the way training mixtures downsample over-represented domains.

    The keep decision is a partition-local filter — zero shuffle for the
    kept corpus itself; only the acceptance report aggregates.  Being
    hash-deterministic it is also STABLE: re-running on the same corpus
    (or an appended corpus) keeps the same documents, which is what makes
    incremental re-mixes diff-friendly at 100 TB."""
    src_num = F.regexp_extract(F.col(group_col), r"([0-9]+)$", 1).cast("bigint")
    target = (F.pmod(src_num, F.lit(4)) + 1) * 250
    scanned = df.select(
        F.col(group_col),
        target.alias("target_permille"),
        (mix_hash(F.col(id_col)) < target).cast("int").alias("keep"),
    )
    return (
        scanned.groupBy(group_col, "target_permille")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("keep").cast("bigint").alias("n_kept"),
        )
        .select(group_col, F.col("target_permille").cast("bigint"),
                "n_docs", "n_kept")
    )


def mix_hash_ppm(id_col: Column) -> Column:
    """mix_hash at parts-per-million resolution (temperature sampling
    needs finer rates than ‰).  Same envelope: ids < 2^31."""
    return F.pmod(F.pmod(id_col.cast("bigint") * F.lit(_KNUTH),
                         F.lit(_MOD32)), F.lit(1_000_000))


def _epochs_ppm(group_col: str) -> Column:
    """Per-source epoch factor in parts-per-million, derived
    deterministically from the source's numeric suffix (the same
    convention as domain_mix's target_permille): (n mod 4) steps of half
    an epoch above 1.0 → 1.0 / 1.5 / 2.0 / 2.5 epochs.  Integer ppm, so
    every engine computes the identical factor with no float parsing."""
    src_num = F.regexp_extract(F.col(group_col), r"([0-9]+)$", 1).cast("bigint")
    return F.lit(1_000_000) + F.pmod(src_num, F.lit(4)) * F.lit(500_000)


def epoch_oversample(df: DataFrame, *, id_col: str = "doc_id",
                     group_col: str = "source",
                     epochs_ppm: Column | None = None) -> DataFrame:
    """Fractional-epoch UPsampling — the complement of domain_mix's
    downsampling and the way LLaMA/DoReMi-style mixtures run
    under-represented domains for >1 epoch: a source weighted e = 2.3
    epochs emits ⌊e⌋ = 2 full copies of every document plus a third copy
    for a deterministic 30% Bernoulli subset.  The Bernoulli draw is
    ``mix_hash_ppm(id) < frac(e)·10⁶`` — a pure column function, so
    re-runs, task retries, and appended corpora replicate the SAME
    documents (rand() would resample per attempt and break exactly-once
    loader semantics).

    Output: input columns + ``epochs_ppm`` + ``copy_id`` (0-based; one
    row per emitted copy — downstream global shuffle/sharding separates
    the copies across training batches).  Docs whose copy count is 0
    (epochs < 1 with a losing draw) emit no rows.

    Scale shape: map-only — the per-row copy count is integer arithmetic
    and the replication is a bounded generator (``explode`` of a
    ≤⌈e⌉-element sequence); no shuffle, no join.  With per-source weights
    from a table instead of an expression, the join side is ≤ n_sources
    rows — broadcast."""
    e = (epochs_ppm if epochs_ppm is not None
         else _epochs_ppm(group_col)).cast("bigint")
    full = (e / F.lit(1_000_000)).cast("bigint")
    extra = (mix_hash_ppm(F.col(id_col)) <
             F.pmod(e, F.lit(1_000_000))).cast("bigint")
    n = (full + extra).alias("_n")
    copies = F.when(n > 0, F.sequence(F.lit(0), (n - 1).cast("int"))
                    ).otherwise(F.lit([]).cast("array<int>"))
    return (
        df.withColumn("epochs_ppm", e)
        .withColumn("copy_id", F.explode(copies))
    )


def epoch_mix_report(df: DataFrame, *, id_col: str = "doc_id",
                     group_col: str = "source",
                     epochs_ppm: Column | None = None) -> DataFrame:
    """Per-source accounting for the oversampling above: (source,
    epochs_ppm, n_docs, n_emitted, n_extra) — all exact integers, so the
    replication arithmetic is value-checkable bit-for-bit.  Computed on
    the pre-explode scan (counts, not replicated rows): one map-side-
    combined rollup, no data replication needed just to audit the mix."""
    e = (epochs_ppm if epochs_ppm is not None
         else _epochs_ppm(group_col)).cast("bigint")
    full = (e / F.lit(1_000_000)).cast("bigint")
    extra = (mix_hash_ppm(F.col(id_col)) <
             F.pmod(e, F.lit(1_000_000))).cast("bigint")
    scanned = df.select(F.col(group_col), e.alias("epochs_ppm"),
                        (full + extra).alias("_n"), extra.alias("_x"))
    return (
        scanned.groupBy(group_col, "epochs_ppm")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("n_emitted"),
            F.sum("_x").cast("bigint").alias("n_extra"),
        )
    )


def temperature_sample_report(df: DataFrame, *, id_col: str = "doc_id",
                              group_col: str = "source",
                              sample_permille: int = 500) -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5 / Gopher domain-
    weighting step): redistribute a target sample of
    ``sample_permille``/1000 of the corpus across groups proportionally
    to n_s^alpha with alpha = 0.5, so over-represented domains are
    downsampled and small domains over-sampled relative to natural
    proportions.  alpha = 0.5 is the exactly-reproducible choice: IEEE
    sqrt is correctly rounded, so both engines floor the SAME double —
    arbitrary alpha works in-engine via pow() but is not bit-portable.

    All downstream arithmetic is exact integers: group weight
    wu = floor(sqrt(n_s) * 1000), target T = (N * permille) div 1000,
    keep rate p_ppm = min(1e6, (T * wu * 1e6) div (Wu * n_s)), and the
    keep decision is the deterministic Knuth hash at ppm resolution —
    stable under re-runs and appends like domain_mix.  Integer envelope:
    T * wu * 1e6 must fit in int64, which holds to ~7M documents; a
    100 TB deployment widens the rate computation to DECIMAL(38,0)
    (same operations, both engines exact).

    Output per group: (group, n_docs, wu, p_ppm, n_kept).  Scale shape:
    one count aggregation, a <=|groups|-row rate table broadcast back,
    and the keep filter is partition-local — the corpus never shuffles."""
    counts = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs"))
    weighted = counts.select(
        group_col, "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000)
        .cast("bigint").alias("wu"))
    tot = weighted.agg(F.sum("wu").alias("t_wu"),
                       F.sum("n_docs").alias("t_n"))
    rates = (
        weighted.crossJoin(F.broadcast(tot))
        .withColumn("t_target",
                    F.expr(f"(t_n * {int(sample_permille)}) DIV 1000"))
        .withColumn(
            "p_ppm",
            F.least(F.lit(1_000_000).cast("bigint"),
                    F.expr("(t_target * wu * 1000000) DIV (t_wu * n_docs)")))
        .select(group_col, "n_docs", "wu", "p_ppm")
    )
    keeps = (
        df.select(group_col, mix_hash_ppm(F.col(id_col)).alias("_h"))
        .join(F.broadcast(rates.select(group_col, "p_ppm")), group_col)
        .groupBy(group_col)
        .agg(F.sum((F.col("_h") < F.col("p_ppm")).cast("int"))
             .cast("bigint").alias("n_kept"))
    )
    # both sides are <=|groups| rows; say so instead of leaving the
    # static planner to pick a sort-merge join it only fixes under AQE
    return rates.join(F.broadcast(keeps), group_col)


def substring_spans(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", window: int = 15) -> DataFrame:
    """Merged repeated spans per document — the full exact-substring-dedup
    output (Lee et al.: the suffix array yields the actual repeated byte
    ranges; here every duplicated ``window``-token run is recovered as a
    maximal token span).  A window POSITION is duplicated when its hash
    occurs >1 time corpus-wide; consecutive duplicated positions merge
    into one span (gaps-and-islands: island id = position − rank), and a
    span of consecutive positions p..q covers tokens p..q+window−1.

    Output: (doc_id, span_start, span_len) with 1-based token offsets —
    the cut-list a training pipeline feeds to the span-removal rewrite.

    Scale shape: identical to substring_dedup_report (8-byte hash keys
    shuffle, map-side-combined counts) plus one per-doc sort of its
    duplicated positions inside a groupBy aggregate — positions per doc
    are bounded by doc length, so the sort is row-local work, and the
    islands arithmetic is a JVM-side transform over the sorted array (no
    window function, no second shuffle)."""
    tokenized = df.select(
        F.col(id_col), tx.tokens(F.col(text_col)).alias("tk"))
    pos_hash = tokenized.filter(F.size("tk") >= window).select(
        id_col, token_hashes(F.col("tk")).alias("th"),
    ).select(
        id_col,
        F.posexplode(rolling_window_hashes(F.col("th"), window))
        .alias("pos", "wh"),
    ).withColumn("pos", F.col("pos") + 1)  # posexplode is 0-based
    counts = pos_hash.groupBy("wh").agg(F.count("*").alias("n_occ"))
    dup_pos = (
        pos_hash.join(counts.filter(F.col("n_occ") > 1), "wh")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
    )
    # islands: positions p with identical p - rank belong to one run; emit
    # (start, run_len) per island via a fold over the sorted array
    init = F.expr("named_struct('spans', array(named_struct('s', -1, 'e', -1)))")

    def step(acc: Column, p: Column) -> Column:
        last = F.element_at(acc["spans"], -1)
        extend = p == last["e"] + 1
        upd = F.when(
            extend,
            F.concat(F.slice(acc["spans"], 1, F.size(acc["spans"]) - 1),
                     F.array(F.struct(last["s"].alias("s"), p.alias("e")))),
        ).otherwise(
            F.concat(acc["spans"],
                     F.array(F.struct(p.alias("s"), p.alias("e")))))
        return F.struct(upd.alias("spans"))

    spans = dup_pos.select(
        id_col,
        F.explode(
            F.slice(  # drop the (-1,-1) sentinel head
                F.aggregate(F.col("ps"), init, step)["spans"],
                2, F.size("ps"),  # ≤ len(ps) islands
            )
        ).alias("sp"),
    )
    return spans.select(
        id_col,
        F.col("sp.s").cast("bigint").alias("span_start"),
        (F.col("sp.e") - F.col("sp.s") + window).cast("bigint")
        .alias("span_len"),
    )


# ------------------------------------------------------------- C4 line rules

# Line- and page-level cleaning heuristics from C4 (Raffel et al. 2020,
# "Exploring the Limits of Transfer Learning...", §2.2 — the rules behind
# the Colossal Clean Crawled Corpus).  Reference scope: the reference
# benchmarks engines on curated corpora but ships no cleaning stage; this
# is the builder's-brief training-pipeline surface, like pii_scrub above.
C4_MIN_WORDS_PER_LINE = 5     # "only retained lines that contained at
                              #  least 5 words"
C4_MIN_LINES = 3              # "discarded any page with fewer than 3
                              #  sentences" (line = sentence here)
C4_TERMINAL_RE = r'[.!?"]$'   # "lines that ended in a terminal
                              #  punctuation mark"
_C4_LINE_WORD = "javascript"  # "removed any line with the word Javascript"
_C4_PAGE_PHRASE = "lorem ipsum"
_C4_PAGE_CHAR = "{"


def _c4_kept_lines(lines: Column) -> Column:
    """The per-line C4 keep predicate over an ARRAY<STRING> of lines: ends
    in terminal punctuation, has >= C4_MIN_WORDS_PER_LINE whitespace words,
    and does not mention javascript (case-insensitive).  Pure row-local
    codegen (regexp + split + filter inside one transform) — the 100 TB
    scan shape."""
    def keep(ln: Column) -> Column:
        words = F.filter(F.split(ln, " "), lambda w: w != "")
        return (
            ln.rlike(C4_TERMINAL_RE)
            & (F.size(words) >= C4_MIN_WORDS_PER_LINE)
            & ~F.lower(ln).contains(_C4_LINE_WORD)
        )
    return F.filter(lines, keep)


def c4_clean(df: DataFrame, *, id_col: str = "doc_id",
             text_col: str = "text", line_sep: str = "\n",
             extra_cols: Sequence[str] = ()) -> DataFrame:
    """Apply the C4 cleaning rules to a line-structured corpus: filter
    lines (terminal punctuation, >=5 words, no 'javascript'), then drop
    whole pages ('lorem ipsum' anywhere, a '{' anywhere, or fewer than
    C4_MIN_LINES surviving lines).  Emits one row per input document:

      (doc_id, [extra_cols...], n_lines, n_kept_lines, status, text_clean)

    where status in ('kept', 'lorem_ipsum', 'brace', 'too_few_lines') —
    page-drop reasons checked in that order (first match wins, so counts
    partition the corpus) — and text_clean is the kept lines re-joined
    (NULL for dropped pages).  ``extra_cols`` pass through row-locally so
    reports never need a join back to the corpus.

    Scale shape: entirely row-local (split / rlike / higher-order filter
    in whole-stage codegen); ZERO shuffles — the ideal 100 TB map-only
    stage.  Reports aggregate on top (c4_line_filter_report)."""
    lines = F.split(F.col(text_col), line_sep)
    kept = _c4_kept_lines(lines)
    low = F.lower(F.col(text_col))
    status = (
        F.when(low.contains(_C4_PAGE_PHRASE), F.lit("lorem_ipsum"))
        .when(F.col(text_col).contains(_C4_PAGE_CHAR), F.lit("brace"))
        .when(F.size(kept) < C4_MIN_LINES, F.lit("too_few_lines"))
        .otherwise(F.lit("kept"))
    )
    return df.withColumn("_lines", lines).withColumn("_kept", kept).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.size("_lines").cast("bigint").alias("n_lines"),
        F.size("_kept").cast("bigint").alias("n_kept_lines"),
        status.alias("status"),
        F.when(status == "kept", F.array_join(F.col("_kept"), line_sep))
        .alias("text_clean"),
    )


def c4_line_filter_report(df: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text", group_col: str = "source",
                          line_sep: str = "\n") -> DataFrame:
    """Per-group C4 accounting: documents by disposition, line totals, and
    the character volume that survives.  One map-side-combined rollup on
    top of the shuffle-free c4_clean scan (group_col rides through the
    scan — no join back)."""
    cleaned = c4_clean(
        df, id_col=id_col, text_col=text_col, line_sep=line_sep,
        extra_cols=(group_col,),
    )
    return (
        cleaned.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("status") == "kept").cast("int")).cast("bigint")
            .alias("n_kept_docs"),
            F.sum((F.col("status") == "lorem_ipsum").cast("int"))
            .cast("bigint").alias("n_lorem_ipsum"),
            F.sum((F.col("status") == "brace").cast("int")).cast("bigint")
            .alias("n_brace"),
            F.sum((F.col("status") == "too_few_lines").cast("int"))
            .cast("bigint").alias("n_too_few_lines"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("status") == "kept", F.col("n_kept_lines"))
                  .otherwise(F.lit(0))).cast("bigint").alias("n_lines_kept"),
            F.sum(F.coalesce(F.length("text_clean"), F.lit(0)))
            .cast("bigint").alias("chars_kept"),
        )
    )


# ---------------------------------------------------------- paragraph dedup

def paragraph_dedup(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", sep: str = "\n",
                    extra_cols: Sequence[str] = ()) -> DataFrame:
    """Corpus-wide exact PARAGRAPH deduplication, keep-first (the
    MassiveText / RefinedWeb stage: every repeated paragraph keeps exactly
    one copy — its first occurrence in (doc_id, position) order — and all
    other occurrences are removed, including repeats inside one document).

    Emits one row per input document:

      (doc_id, n_paras, n_dup_removed, chars_removed, text_clean)

    text_clean = surviving paragraphs re-joined in original order ('' when
    every paragraph was a later duplicate).

    Scale shape: paragraphs are keyed by portable_hash60, so the shuffle
    carries (8-byte hash, packed 8-byte occurrence key, 4-byte length) per
    paragraph — NEVER paragraph text; the keep decision is min(key) per
    hash with map-side partial min, the cut-set joins back on doc_id, and
    the rewrite is a row-local indexed filter over the re-split document
    (the substring_rewrite pattern one level up).  A 60-bit hash collision
    merges two distinct paragraphs (expectation <1 below ~10^8 paragraphs);
    the DuckDB oracle groups by the same md5-derived hash, so even a
    collision is mirrored."""
    paras = df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                      F.split(F.col(text_col), sep).alias("ps"))
    key = F.col(id_col).cast("bigint") * _POS_PACK + F.col("pos")
    occ = paras.select(
        id_col,
        F.posexplode(F.transform(
            F.col("ps"),
            lambda p: F.struct(tx.portable_hash60(p).alias("h"),
                               F.length(p).alias("len")),
        )).alias("pos", "s"),
    ).withColumn("pos", F.col("pos") + 1).select(
        id_col, "pos", F.col("s.h").alias("h"), F.col("s.len").alias("len"),
    ).withColumn("key", key)
    first = occ.groupBy("h").agg(F.min("key").alias("min_key"))
    cuts = (
        occ.join(first, "h")
        .filter(F.col("key") != F.col("min_key"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("cps"),
             F.sum("len").cast("bigint").alias("chars_removed"))
    )
    joined = paras.join(cuts, id_col, "left").select(
        id_col, *extra_cols, "ps",
        F.coalesce(F.col("cps"), F.lit([]).cast("array<int>")).alias("cps"),
        F.coalesce(F.col("chars_removed"), F.lit(0).cast("bigint"))
        .alias("chars_removed"),
    )
    indexed = F.transform(
        F.col("ps"), lambda p, i: F.struct(p.alias("p"), (i + 1).alias("i")))
    kept = F.filter(indexed,
                    lambda s: ~F.array_contains(F.col("cps"), s["i"]))
    return joined.select(
        id_col, *extra_cols,
        F.size("ps").cast("bigint").alias("n_paras"),
        F.size("cps").cast("bigint").alias("n_dup_removed"),
        "chars_removed",
        F.array_join(F.transform(kept, lambda s: s["p"]), sep)
        .alias("text_clean"),
    )


def paragraph_dedup_report(df: DataFrame, *, id_col: str = "doc_id",
                           text_col: str = "text",
                           group_col: str = "source",
                           sep: str = "\n") -> DataFrame:
    """Per-group paragraph-dedup accounting: paragraph totals, duplicates
    removed, affected documents, characters removed.  One rollup over the
    per-document dedup (hash-keyed shuffles only; text never moves)."""
    per_doc = paragraph_dedup(
        df, id_col=id_col, text_col=text_col, sep=sep,
        extra_cols=(group_col,),
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_paras").cast("bigint").alias("n_paras"),
            F.sum("n_dup_removed").cast("bigint").alias("n_dup_paras"),
            F.sum((F.col("n_dup_removed") > 0).cast("int")).cast("bigint")
            .alias("n_docs_affected"),
            F.sum("chars_removed").cast("bigint").alias("chars_removed"),
        )
    )
