"""Bigram language-model fluency scoring for corpus curation (the CCNet /
Wikipedia-LM perplexity-filter stage of LLM training pipelines, re-expressed
Spark-first): fit a bigram LM on a reference slice of the corpus, score
every document's bigrams against it, and emit per-document fluency
statistics a pipeline bins on (CCNet keeps the low-perplexity "head" of
each language bucket).

Every emitted number is exact integer arithmetic or a single
correctly-rounded double division — out-of-vocabulary bigram counts, LM
hit-rate, and the mean conditional MLE likelihood ``c(w1 w2)/c(w1 ·)``
accumulated in DECIMAL after one deterministic 6-dp round per term.  No
transcendental functions (a log-perplexity would need ``ln``, which is not
IEEE-exactly-rounded), so DuckDB reproduces every value bit-for-bit.

Scale design (the shuffle account at 100 TB):

- **LM fit**: explode train-slice bigrams → map-side-combined count.  The
  shuffle moves (bigram, partial count) — bounded by DISTINCT bigrams per
  partition, not token volume.  Context totals come from a second tiny
  aggregation over the already-compact distinct-bigram table, not the
  token stream.
- **Scoring join**: doc bigrams hash-join the LM table on (w1, w2).  The
  LM table is distinct-bigram-bounded (≪ corpus tokens; for a 50k-word
  vocabulary it caps at V² and in practice at the Heaps-law bigram count),
  so Spark picks broadcast when it fits and a shuffle hash join keyed by
  the bigram when it does not — either way the 100 TB document TEXT never
  moves, only (doc_id, w1, w2) triples.
- **Per-doc rollup**: groupBy(doc_id) with partial aggregation; exploded
  bigram rows of one document are partition-contiguous, so the map-side
  combine collapses them to ~one row per doc before the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from bigvectorbench_spark.functions import text as tx

__all__ = ["doc_bigrams", "fit_bigram_lm", "lm_score_report"]


def doc_bigrams(df: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair, tokenizer contract
    shared with the rest of the text stack (lowercase, whitespace).  The
    tokens column is materialized before the pair transform so the
    tokenizer runs once per document (see shingles_from_tokens)."""
    tk = df.select(F.col(id_col).alias("_id"),
                   tx.tokens(F.col(text_col)).alias("tk"))
    pairs = tk.select(
        "_id",
        F.explode(
            F.transform(
                tx._index_range(F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tk"), i).alias("w1"),
                    F.element_at(F.col("tk"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    )
    return pairs.select(F.col("_id").alias(id_col),
                        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def fit_bigram_lm(train: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Bigram LM table (w1, w2, c_bg, c_ctx): corpus count of the pair and
    of its context ``w1`` as a pair-start.  ``c_ctx`` is derived from the
    compact distinct-bigram table (sum of counts per w1), never from the
    raw token stream — the second aggregation is distinct-vocabulary-sized."""
    bg = (doc_bigrams(train, id_col=id_col, text_col=text_col)
          .groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c_bg")))
    ctx = bg.groupBy("w1").agg(F.sum("c_bg").cast("bigint").alias("c_ctx"))
    return bg.join(ctx, "w1")


def lm_score_report(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_filter: Column | None = None,
    train_mod: int = 7,
) -> DataFrame:
    """Per-document LM fluency report.  The LM trains on the reference
    slice selected by ``train_filter`` (default: ``id % train_mod == 0``,
    the held-out-slice convention the decontamination stage also uses);
    every document — train slice included, as in CCNet — is scored.

    Output per doc: ``n_bigrams``, ``n_oov`` (pairs unseen in the LM),
    ``hit_rate`` (seen fraction; NULL for docs with no pairs), and
    ``mean_cond_lik`` — the mean MLE conditional likelihood of the SEEN
    pairs (NULL when none), each term rounded to 6 dp then accumulated in
    DECIMAL so the sum is order-independent and engine-exact.  High
    mean_cond_lik + low OOV = predictable, reference-like text; the
    filtering signal perplexity binning thresholds on, in exact arithmetic."""
    sid = F.col(id_col)
    cond = train_filter if train_filter is not None else (sid % train_mod == 0)
    lm = fit_bigram_lm(df.filter(cond), id_col=id_col, text_col=text_col)

    pairs = doc_bigrams(df, id_col=id_col, text_col=text_col)
    scored = pairs.join(lm, ["w1", "w2"], "left")

    seen = F.col("c_bg").isNotNull()
    lik = F.round(F.col("c_bg") / F.col("c_ctx"), 6).cast("decimal(18,6)")
    n_seen = F.col("n_bigrams") - F.col("n_oov")
    base = scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum(F.when(seen, 0).otherwise(1)).cast("bigint").alias("n_oov"),
        F.sum(F.when(seen, lik)).alias("_lik_sum"),
    )
    out = base.select(
        id_col, "n_bigrams", "n_oov",
        F.when(F.col("n_bigrams") > 0,
               F.round(n_seen / F.col("n_bigrams"), 6))
        .cast("double").alias("hit_rate"),
        F.when(n_seen > 0,
               F.round(F.col("_lik_sum").cast("double") / n_seen, 6))
        .cast("double").alias("mean_cond_lik"),
    )
    # Docs with <2 tokens produce no pair rows at all — restore them with
    # zero counts so the report covers the whole corpus (a loader must see
    # every doc's disposition, not just multi-token ones).
    empties = (
        df.select(sid.alias(id_col),
                  tx.token_count(F.col(text_col)).alias("_n"))
        .filter(F.col("_n") < 2)
        .select(
            id_col,
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(0).cast("bigint").alias("n_oov"),
            F.lit(None).cast("double").alias("hit_rate"),
            F.lit(None).cast("double").alias("mean_cond_lik"),
        )
    )
    return out.unionByName(empties)


def ccnet_bins_report(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_filter: Column | None = None,
    train_mod: int = 7,
    n_bins: int = 3,
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's final step (Wenzek et al. 2020): split each LANGUAGE bucket
    into head/middle/tail by LM score, so a pipeline can keep the
    most-reference-like slice per language instead of biasing the corpus
    toward high-resource languages.  Buckets by ``lang_col`` and composes
    lm_score_report; one row per (lang, bin):

      (lang, bin, n_docs, n_tokens, mean_lik)

    bin in ('head', 'middle', 'tail'[, 'bin3'...], 'unscored') — scored
    docs are ranked per language by (mean_cond_lik desc, id asc — the
    deterministic tie-break that makes bin assignment engine-portable)
    and cut into n_bins equal-count bins by exact integer arithmetic
    (bin = (rank-1)*n_bins div count); docs with no in-vocabulary bigram
    land in 'unscored' so the report partitions the corpus.  mean_lik
    accumulates the 6-dp scores in DECIMAL (order-independent, exact).

    The rank is one window per language — one task per language at report
    granularity (fine for a report; a language is at most the corpus)."""
    from pyspark.sql import Window

    from bigvectorbench_spark.functions import text as tx2

    sid = F.col(id_col)
    # language per doc: a pre-classified column (CCNet buckets on its
    # fastText classifier's output, which in a warehouse IS a column)
    langs = df.select(
        sid.alias(id_col), F.col(lang_col).alias("lang"),
        tx2.token_count(F.col(text_col)).cast("bigint").alias("n_tok"))
    scores = lm_score_report(df, id_col=id_col, text_col=text_col,
                             train_filter=train_filter, train_mod=train_mod)
    j = langs.join(scores.select(id_col, "mean_cond_lik"), id_col)
    scored = j.filter(F.col("mean_cond_lik").isNotNull())
    names = (["head", "middle", "tail"] if n_bins == 3
             else [f"bin{i}" for i in range(n_bins)])
    w = Window.partitionBy("lang").orderBy(F.col("mean_cond_lik").desc(), sid)
    ranked = scored.select(
        "lang", "n_tok", "mean_cond_lik",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("lang")).alias("cnt"),
    ).withColumn("_b", F.expr(f"((rk - 1) * {int(n_bins)}) DIV cnt"))
    bin_name = F.element_at(
        F.array(*[F.lit(n) for n in names]), F.col("_b").cast("int") + 1)
    binned = ranked.groupBy("lang", bin_name.alias("bin")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum(F.col("mean_cond_lik").cast("decimal(18,6)"))
            .cast("double") / F.count("*"), 6).alias("mean_lik"),
    )
    unscored = (
        j.filter(F.col("mean_cond_lik").isNull())
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("n_tokens"))
        .select("lang", F.lit("unscored").alias("bin"), "n_docs",
                "n_tokens", F.lit(None).cast("double").alias("mean_lik"))
    )
    return binned.unionByName(unscored)
