"""DSIR-style data selection via hashed n-gram importance weights (Xie et
al. 2023, "Data Selection for Language Models via Importance Resampling"),
re-expressed Spark-first: estimate target and raw unigram/bigram
distributions over HASHED feature buckets, weight every document by how
target-like its n-gram profile is, and keep / rank documents by that
importance weight.  The stage LLM pipelines run between raw-crawl cleaning
and training-set assembly when a small high-quality target corpus (e.g.
Wikipedia+books) should steer selection from a huge raw pool.

Reference scope: the reference benchmarks engines on already-curated
corpora and ships no selection stage; this module is the builder's-brief
training-pipeline surface (like curation.pii_scrub / lm.lm_score_report).

Exact-arithmetic oracle form (the lm.py pattern): DSIR proper weights
documents by sum of log probability ratios.  ``log`` is transcendental and
not bit-reproducible across engines, so the value-oracled form uses the
RATIO itself: each hashed bucket's smoothed probability ratio

    r(b) = ((tgt_c + 1) / (T_tgt + B)) / ((raw_c + 1) / (T_raw + B))

is computed with the identical IEEE double op sequence in Spark and the
oracle, rounded once to 6 dp, cast to DECIMAL(18,6), and per-document
accumulated EXACTLY in decimal.  A document's ``mean_weight`` (mean ratio
over its bigram occurrences) is monotone in "target-likeness" exactly as
the log-weight mean is for single-bucket comparisons, and the keep rule
``weight_sum >= n_bigrams`` (mean ratio >= 1: more target-like than the
raw pool) is an exact decimal-vs-integer comparison — no float boundary
can flip a document's disposition between engines.

Scale design (the shuffle account at 100 TB):

- **Feature hashing**: bigram identity is the curation-stack rolling hash
  of two adjacent 40-bit token hashes, masked to ``num_buckets`` (a power
  of two).  Row-local, whole-stage codegen, and mirrored bit-for-bit by
  the DuckDB oracle (same fold the Gopher windows use).
- **Distribution fit**: explode bigram buckets -> groupBy(bucket) with two
  conditional counts.  Map-side combine caps the shuffle at ``num_buckets``
  rows PER PARTITION — a few KB regardless of corpus size.  Totals come
  from the B-row table, never the token stream.
- **Weight join**: the B-row ratio table broadcasts; per-document rollup
  is map-side combined (a document's exploded rows are
  partition-contiguous), so the only corpus-sized shuffle carries ~one
  row per document.  Document TEXT never moves.
- **Selection**: the keep flag is row-local — no sort shuffle of the
  corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import curation as cur

__all__ = ["bigram_buckets", "dsir_weights", "dsir_report"]

DEFAULT_BUCKETS = 4096  # power of two: bucket = rolling_hash & (B-1)


def bigram_buckets(df: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text",
                   num_buckets: int = DEFAULT_BUCKETS,
                   extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, [extra...], b) — one row per adjacent-token-pair OCCURRENCE,
    b = the pair's hashed feature bucket.  Tokenizer and hash contract
    shared with the curation stack: lowercase whitespace tokens ->
    portable_hash60 & (2^40-1) -> 2-token rolling fold mod 2^41 ->
    & (num_buckets-1).  Docs with <2 tokens emit no rows."""
    if num_buckets & (num_buckets - 1):
        raise ValueError("num_buckets must be a power of two")
    tk = df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                   tx.tokens(F.col(text_col)).alias("tk"))
    # materialize token hashes before the window fold (HOF re-evaluation)
    th = tk.select(id_col, *extra_cols,
                   cur.token_hashes(F.col("tk")).alias("th"))
    whs = th.select(id_col, *extra_cols,
                    cur.rolling_window_hashes(F.col("th"), 2).alias("whs"))
    return whs.select(
        id_col, *extra_cols,
        F.explode("whs").alias("_wh"),
    ).select(id_col, *extra_cols,
             F.col("_wh").bitwiseAND(F.lit(num_buckets - 1))
             .cast("int").alias("b"))


def _ratio_table(occ: DataFrame, is_target: Column,
                 num_buckets: int) -> DataFrame:
    """(b, term): the 6-dp-rounded DECIMAL importance ratio per occupied
    bucket.  At most ``num_buckets`` rows — always broadcastable."""
    b_int = F.lit(num_buckets).cast("bigint")
    dist = occ.groupBy("b").agg(
        F.count("*").cast("bigint").alias("raw_c"),
        F.sum(is_target.cast("int")).cast("bigint").alias("tgt_c"),
    )
    totals = dist.agg(F.sum("raw_c").alias("t_raw"),
                      F.sum("tgt_c").alias("t_tgt"))
    # identical IEEE double op sequence to the oracle SQL: two adds, four
    # casts, three divisions — each correctly rounded, composed in the
    # same order, so the double is bit-identical before the single round
    num = (F.col("tgt_c") + 1).cast("double") / (F.col("t_tgt") + b_int).cast("double")
    den = (F.col("raw_c") + 1).cast("double") / (F.col("t_raw") + b_int).cast("double")
    return dist.crossJoin(F.broadcast(totals)).select(
        "b", F.round(num / den, 6).cast("decimal(18,6)").alias("term"))


def dsir_weights(df: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text",
                 target_filter: Column | None = None, target_mod: int = 17,
                 num_buckets: int = DEFAULT_BUCKETS,
                 extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document importance weights against the target slice selected
    by ``target_filter`` (default ``id % target_mod == 0`` — the planted
    high-quality-reference convention the LM/decontamination stages use).
    The raw distribution is the WHOLE corpus, target slice included, as in
    the paper (target is a separate small corpus; here a planted subset).

    Output per doc: ``n_bigrams``, ``weight_sum`` (DECIMAL(28,6), exact),
    ``mean_weight`` (round(weight_sum/n, 6) double; NULL when no bigrams),
    ``keep`` (weight_sum >= n_bigrams — mean ratio >= 1, exact compare;
    false for unscoreable docs)."""
    sid = F.col(id_col)
    is_t = target_filter if target_filter is not None else (
        sid % target_mod == 0)
    occ = bigram_buckets(df, id_col=id_col, text_col=text_col,
                         num_buckets=num_buckets, extra_cols=extra_cols)
    ratios = _ratio_table(occ, is_t, num_buckets)
    per_doc = (occ.join(F.broadcast(ratios), "b")
               .groupBy(id_col, *extra_cols).agg(
                   F.count("*").cast("bigint").alias("n_bigrams"),
                   F.sum("term").cast("decimal(28,6)").alias("weight_sum")))
    scored = per_doc.select(
        id_col, *extra_cols, "n_bigrams", "weight_sum",
        F.round(F.col("weight_sum").cast("double") / F.col("n_bigrams"), 6)
        .alias("mean_weight"),
        (F.col("weight_sum") >= F.col("n_bigrams")).alias("keep"),
    )
    # <2-token docs emit no pair rows — restore them unscored so a loader
    # sees every document's disposition (the lm.py empties pattern)
    empties = (
        df.select(sid.alias(id_col), *[F.col(c) for c in extra_cols],
                  tx.token_count(F.col(text_col)).alias("_n"))
        .filter(F.col("_n") < 2)
        .select(
            id_col, *extra_cols,
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(None).cast("decimal(28,6)").alias("weight_sum"),
            F.lit(None).cast("double").alias("mean_weight"),
            F.lit(False).alias("keep"),
        )
    )
    return scored.unionByName(empties)


def dsir_report(df: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text", group_col: str = "source",
                target_filter: Column | None = None, target_mod: int = 17,
                num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Per-group selection accounting: documents scored / kept, bigram
    volume, and the bigram-weighted mean importance ratio (exact decimal
    sum, one final double division + 6-dp round).  One map-side-combined
    rollup over the per-doc weights — group_col rides through row-locally,
    no join back to the corpus."""
    w = dsir_weights(df, id_col=id_col, text_col=text_col,
                     target_filter=target_filter, target_mod=target_mod,
                     num_buckets=num_buckets, extra_cols=(group_col,))
    return (
        w.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("n_bigrams") > 0).cast("int")).cast("bigint")
            .alias("n_scored"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum("weight_sum").cast("double") / F.sum("n_bigrams"), 6)
            .alias("mean_weight"),
        )
    )
