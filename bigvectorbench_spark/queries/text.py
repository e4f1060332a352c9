"""Per-document text and media features: token statistics, quality and
language scores, PII scrubbing, Gopher and C4 rules, BPE, LM fluency,
the quality classifier and the audio/video feature pipelines."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import (
    bpe, curation as cur, lm, multimodal as mmx)
from bigvectorbench_spark.operators.classifier import (
    fit_logistic_numpy, QualityClassifier)
from bigvectorbench_spark.operators.curation import (
    GOPHER_DUP_NGRAM_MAX, GOPHER_TOP_NGRAM_MAX)
from bigvectorbench_spark.sources.tables import load_table

from bigvectorbench_spark.queries._common import (
    _docs_lines, _docs_wide, _hashed_sql, _ORACLE_SF_DIR, _PAGES_SQL,
    _QUALITY_FEATS, _rwh, _TH, _TOKENS)


def q_token_stats(spark, sf):
    """Token counting + ratios per document.  Two-phase projection: ``tk``
    is referenced four times downstream, which keeps CollapseProject from
    re-inlining the tokenizer (one tokenize per doc, not four)."""
    tokenized = _docs_wide(spark, sf).select(
        "doc_id", F.col("text"), tx.tokens(F.col("text")).alias("tk"))
    return tokenized.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        tx.char_count(F.col("text")).cast("bigint").alias("n_chars"),
        F.round(tx.avg_token_len_from_tokens(F.col("tk")), 6).alias("avg_token_len"),
        F.round(tx.stopword_ratio_from_tokens(F.col("tk")), 6).alias("stop_ratio"),
    )


def q_quality_scores(spark, sf):
    """Quality scoring.  Tokens materialized once (see q_token_stats)."""
    tokenized = _docs_wide(spark, sf).select(
        "doc_id", F.col("text"), tx.tokens(F.col("text")).alias("tk"))
    return tokenized.select(
        "doc_id",
        F.round(tx.quality_score_from_tokens(F.col("tk"), F.col("text")), 6).alias("quality"))


def q_lang_id(spark, sf):
    """Language-ID heuristic (marker n-grams)."""
    tokenized = _docs_wide(spark, sf).select(
        "doc_id", tx.tokens(F.col("text")).alias("tk"))
    with_joined = tokenized.withColumn("joined", F.concat_ws("", "tk"))
    return with_joined.select(
        "doc_id",
        tx.lang_id_from_tokens(F.col("tk"), F.col("joined")).alias("pred_lang"))


def q_media_pipeline(spark, sf):
    """Multimodal column pipeline on a deterministic media table derived
    from documents: opaque BINARY payloads + typed metadata.  The declared
    outputs are the oracle-able stages — payload plumbing (byte length,
    md5 over the binary column) and the metadata-only planners
    (aspect-preserving resize plan, every-nth frame sampling work-list).
    The decode/feature kernels are oracled by q_audio_features and
    q_video_features."""
    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            (F.col("n_chars") % 512 + 64).cast("int").alias("width"),
            (F.col("n_chars") % 256 + 48).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") % 100 + 1).cast("int").alias("n_frames"),
            F.lit(1.0).cast("float").alias("duration_s"),
        ).alias("meta"),
    )
    planned = mmx.resize_meta(media, max_side=256)
    frames = (
        mmx.sample_frames(media.filter(F.col("kind") == "video"), every_n=10)
        .groupBy("media_id").agg(F.count("*").alias("n_sampled"))
    )
    return (
        planned.join(frames, "media_id", "left")
        .select(
            "media_id", "kind",
            F.length("content").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("payload_md5"),
            F.col("target_width").cast("bigint").alias("target_width"),
            F.col("target_height").cast("bigint").alias("target_height"),
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


def q_audio_features(spark, sf):
    """Audio tier of the multimodal pipeline, VALUE-oracled end-to-end
    through the real pure-Python WAV codec: synthesize integer-sawtooth
    PCM clips keyed by doc_id →
    ``wav_encode`` → real RIFF/WAVE bytes → ``audio_features`` (an
    undecodable payload raises, so a codec regression fails loudly) →
    energy features.  The waveform is
    pure integer arithmetic (multimodal.sawtooth_pcm), so DuckDB
    recomputes the exact samples closed-form and the rms/zcr/peak values
    match bit-for-bit — the encode→decode→feature path has a genuine
    value oracle, not a roundtrip self-check.  dominant_freq_hz (the one
    float-order-dependent feature) is pinned in test_multimodal instead."""
    docs = load_table(spark, sf, "documents").filter("doc_id % 5 = 0").select("doc_id")

    def _synth(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, contents, metas = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 1600 + (d % 4) * 400
                contents.append(mmx.wav_encode(
                    mmx.sawtooth_pcm(50 + (d % 40) * 10, 8000, n,
                                     8192 + (d % 8) * 1024), 8000))
                metas.append({"mime": "audio/wav", "width": None,
                              "height": None, "sample_rate": 8000,
                              "n_frames": None, "duration_s": n / 8000.0})
                ids.append(d)
            yield pd.DataFrame({"media_id": ids,
                                "kind": ["audio"] * len(ids),
                                "content": contents, "meta": metas})

    media = docs.mapInPandas(_synth, schema=mmx.MEDIA_SCHEMA)
    feats = mmx.audio_features(media)
    return feats.select(
        "media_id",
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.round("rms", 6).alias("rms"),
        F.col("zero_crossings").cast("bigint").alias("zero_crossings"),
        F.round("peak", 6).alias("peak"),
    )


def q_video_features(spark, sf):
    """Video tier of the multimodal pipeline, VALUE-oracled end-to-end
    through the real pure-Python uncompressed-AVI codec (the RIFF/DIB
    twin of ``q_audio_features``): synthesize integer-gradient frames
    keyed by doc_id → ``avi_encode`` → real AVI bytes →
    ``video_features`` (an undecodable payload raises) →
    clip features.  Frames are pure integer arithmetic
    (multimodal.gradient_frames: pixel = (3x+5y+7f) mod 256), so DuckDB
    recomputes the exact stored bytes closed-form and mean_luma8/motion
    match bit-for-bit — the encode→decode→feature path has a genuine
    value oracle covering DIB row order, padding, and BGR layout (any
    byte misplaced shifts the sums)."""
    docs = load_table(spark, sf, "documents").filter("doc_id % 10 = 0").select("doc_id")

    def _synth(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, contents, metas = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n, h, w = 4 + d % 4, 8 + (d % 3) * 4, 12 + (d % 4) * 4
                contents.append(mmx.avi_encode(mmx.gradient_frames(n, h, w),
                                               fps=10))
                metas.append({"mime": "video/x-msvideo", "width": w,
                              "height": h, "sample_rate": None,
                              "n_frames": n, "duration_s": n / 10.0})
                ids.append(d)
            yield pd.DataFrame({"media_id": ids,
                                "kind": ["video"] * len(ids),
                                "content": contents, "meta": metas})

    media = docs.mapInPandas(_synth, schema=mmx.MEDIA_SCHEMA)
    feats = mmx.video_features(media)
    return feats.select(
        "media_id",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("height").cast("bigint").alias("height"),
        F.col("width").cast("bigint").alias("width"),
        F.round("fps", 6).alias("fps"),
        F.round("mean_luma8", 6).alias("mean_luma8"),
        F.round("motion", 6).alias("motion"),
    )


def _docs_pii(spark, sf):
    """documents with deterministic PII planted in-query: a corpus-derived
    email / phone / IPv4 appended to the docs where doc_id hits the 7/11/13
    residue classes.  The fixture construction is explicit and mirrored
    verbatim in the oracle SQL — the operator under test is the detection/
    redaction pipeline (curation.pii_scrub_report), not the planting."""
    d = _docs_wide(spark, sf)
    email = F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com now"))
    phone = F.concat(F.lit(" call +1-555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                     F.lit(" today"))
    ip = F.concat(F.lit(" from 192.168."),
                  (F.col("doc_id") % 256).cast("string"), F.lit("."),
                  ((F.col("doc_id") * 7) % 256).cast("string"))
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, email).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, phone).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, ip).otherwise(F.lit("")),
        ),
    )


def q_pii_scrub(spark, sf):
    """PII detection + redaction accounting per source (curation stage:
    scrub before training).  Stateless regexp scan in whole-stage codegen;
    the only shuffle is the per-source rollup.  Regexes are Java-regex/RE2
    portable, so DuckDB reproduces the exact matches."""
    return cur.pii_scrub_report(_docs_pii(spark, sf)).orderBy("source")


def q_gopher_quality(spark, sf):
    """Gopher-style quality-filter breakdown per source: token-count
    bounds, mean-word-length bounds, stopword presence, and the
    max-token-frequency repetition rule — shuffle-free up to the rollup.
    Runs the default Arrow-batched kernel (5.5× the codegen-fold form at
    500k docs, flags pinned identical by
    test_gopher_quality_arrow_matches_expr); the expression form
    (sorted-array run-length folds, curation.max_token_run) remains the
    declared engine-portable shape."""
    return cur.gopher_quality_report(_docs_wide(spark, sf)).orderBy("source")


def q_gopher_repetition(spark, sf):
    """The FULL Gopher repetition rule family (Rae et al. 2021 Table A1):
    top-2/3/4-gram and duplicate-5..10-gram character fractions, nine
    rules per doc, zero shuffles before the per-source rollup.  Runs the
    default Arrow-batched numpy kernel (9× the codegen fold form at 500k
    docs; bit-identical flags, pinned by test_gopher_arrow_matches_expr —
    the expression fold remains the declared engine-portable shape).
    Fractions are exact integer char masses over one double division,
    compared unrounded to the published thresholds; the oracle regenerates
    every n-gram statistic via unnest + groupBy."""
    return cur.gopher_repetition_report(_docs_wide(spark, sf)).orderBy("source")


def q_c4_line_filter(spark, sf):
    """C4 cleaning rules (Raffel et al. 2020 §2.2 — the Colossal Clean
    Crawled Corpus recipe) over a line-structured corpus: keep lines that
    end in terminal punctuation, have >= 5 words, and don't mention
    javascript; drop pages with 'lorem ipsum', a '{', or < 3 surviving
    lines.  Per-source disposition + line + character accounting.  The
    rule evaluation is entirely row-local (split / rlike / higher-order
    filter inside whole-stage codegen) — ZERO data-dependent shuffles
    before the final per-source rollup, the ideal 100 TB map-only shape."""
    return cur.c4_line_filter_report(_docs_lines(spark, sf)).orderBy("source")


_MORPH_SFX = ["", "ing", "ed", "ly", "er", "est", "s", "ness"]


def _docs_morph(spark, sf):
    """documents with deterministic MORPHOLOGICAL structure planted
    in-query: every token gets a cycling suffix from _MORPH_SFX keyed by
    (doc_id + position) % 8, turning the generator vocabulary into
    stem x suffix families — exactly the structure BPE exists to exploit
    (merges learn the stems and the suffixes).  Mirrored verbatim in the
    oracle (the _docs_pii / _docs_lines pattern)."""
    d = _docs_wide(spark, sf).select(
        "doc_id", "source", tx.tokens(F.col("text")).alias("tk"))
    sfx = F.array(*[F.lit(s) for s in _MORPH_SFX])
    aug = F.transform(
        F.col("tk"),
        lambda w, i: F.concat(
            w, F.element_at(
                sfx, (F.pmod(F.col("doc_id") + i, 8) + 1).cast("int"))))
    return d.select("doc_id", "source",
                    F.array_join(aug, " ").alias("text"))


def q_bpe_train(spark, sf):
    """BPE vocabulary training + application over the morph-planted
    corpus: learn 100 merges from the distributed word histogram
    (driver-side fit on the vocabulary-bounded counts — the PQ/IVF
    bounded-fit convention), segment the vocabulary distributedly, and
    account pieces-per-token per source through a broadcast join.  The
    oracle learns the SAME merge table with an independent
    implementation (Sennrich apply-in-order segmentation vs the GPT-2
    lowest-rank-first loop) and embeds its word -> piece-count map as
    SQL literals — hash equality proves histogram, merge order, and
    segmentation all agree."""
    return (bpe.bpe_train_report(_docs_morph(spark, sf), num_merges=100)
            .orderBy("source"))


def q_ccnet_bins(spark, sf):
    """CCNet's per-language head/middle/tail split (Wenzek et al. 2020):
    lang_id buckets x bigram-LM fluency terciles, exact-rank form with
    the deterministic (score desc, doc_id) tie-break; 'unscored' bin for
    docs with no in-vocabulary bigram so the report partitions the
    corpus.  Buckets use the
    corpus's pre-classified lang column (CCNet buckets on its fastText
    output, which in a warehouse IS a column)."""
    return (lm.ccnet_bins_report(_docs_wide(spark, sf), lang_col="lang")
            .orderBy("lang", "bin"))


def q_bpe_token_stats(spark, sf):
    """Token accounting with a BPE-ish regex pre-tokenizer (GPT-2 pattern
    family, ASCII-portable subset — functions/text.py::BPE_RE) next to the
    whitespace count: the LLM-cost estimate a training pipeline budgets
    with.  Runs over the PII-augmented corpus so emails/phones/IPs give
    the two counters genuinely different answers (punctuation runs split
    into their own pre-tokens).  Whole pipeline is one codegen scan."""
    d = _docs_pii(spark, sf)
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        tx.bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
    )


def q_lm_fluency(spark, sf):
    """Bigram-LM fluency scoring (the CCNet perplexity-filter stage in its
    exact-arithmetic form): LM fit on the doc_id % 7 = 0 reference slice,
    every doc scored — OOV-pair count, LM hit-rate, and the mean MLE
    conditional likelihood of seen pairs (6-dp-rounded terms accumulated
    in DECIMAL, so both engines sum identical exact values)."""
    return lm.lm_score_report(_docs_wide(spark, sf))


def q_quality_classifier(spark, sf):
    """Weak-supervision quality classifier (the CCNet/fastText pattern):
    quality_score ≥ 0.8 (the corpus_curation gate) labels the doc_id%3!=0
    training slice, a deterministic full-batch logistic fit runs on the
    driver over EXACT-INTEGER hashed_embedding features, and the fitted
    literal weights score every document with one Column dot fold + one
    sigmoid (6-dp round).  Fully value-oracled: oracle generation derives
    the identical feature/label matrix from the parquet via DuckDB (the
    hashed_embed/quality SQL twins), runs the SAME numpy fit
    (fit_logistic_numpy, shared code), and embeds the resulting weights
    into the scoring SQL — weights, probabilities and decisions all
    hash-match."""
    docs = _docs_wide(spark, sf)
    clf = QualityClassifier.fit(docs, dim=64, quality_threshold=0.8,
                                train_filter="_id % 3 != 0")
    return clf.score(docs)


# The PII-planting fixture (mirrors _docs_pii verbatim), shared by the
# pii_scrub and bpe_token_stats oracles.
_PII_AUG = """text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || doc_id::VARCHAR || '@example.com now' ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today' ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' from 192.168.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR
          ELSE '' END"""


# The bigram LM (lm.py) over ``tk``: MLE conditionals fit on the
# doc_id % 7 = 0 slice, and per doc r(doc_id, n_bigrams, n_oov, lik_sum)
# with 6-dp conditionals summed in DECIMAL.
_BIGRAM_LM_SQL = """pr AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
           i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u FROM tk),
p AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM pr),
bg AS (SELECT w1, w2, count(*)::BIGINT AS c_bg FROM p
       WHERE doc_id % 7 = 0 GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c_bg)::BIGINT AS c_ctx FROM bg GROUP BY w1),
s AS (SELECT p.doc_id, l.c_bg, l.c_ctx FROM p LEFT JOIN
        (SELECT w1, w2, c_bg, c_ctx FROM bg JOIN ctx USING (w1)) l
        USING (w1, w2)),
r AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        sum(CASE WHEN c_bg IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        sum(CASE WHEN c_bg IS NOT NULL
                 THEN round(c_bg::DOUBLE / c_ctx, 6)::DECIMAL(18,6) END)
            AS lik_sum
      FROM s GROUP BY doc_id)"""


def _gopher_repetition_sql() -> str:
    """Oracle for the nine Gopher repetition rules: one unnest+groupBy CTE
    per n regenerating the per-doc character masses the Spark folds
    compute, thresholds emitted from the SAME constants (repr gives both
    engines the identical double literal)."""
    ctes, joins, flag_cols, all_flags = [], [], [], []

    def gram_cte(n: int, stat: str) -> str:
        # Windows are identified by the SAME packed (rolling hash << 22 |
        # char mass) bigint the Spark folds group on (window_stat_packed),
        # so even a hash collision is mirrored.  range() is empty when the
        # doc has fewer than n tokens.
        win = f"{_rwh(n)} * 4194304 + list_sum(lens[i:i+{n - 1}])"
        per_win = (f"SELECT doc_id, unnest(list_transform("
                   f"range(1, len(th) - {n - 2}), i -> {win})) AS pw "
                   f"FROM tkh")
        grouped = (f"SELECT doc_id, pw, count(*) AS cnt FROM ({per_win}) "
                   f"GROUP BY doc_id, pw")
        chars = "(pw % 4194304)"
        agg = (f"max(cnt * {chars})" if stat == "top"
               else f"sum(CASE WHEN cnt >= 2 THEN cnt * {chars} ELSE 0 END)")
        return (f"a{stat}{n} AS (SELECT doc_id, {agg} AS v "
                f"FROM ({grouped}) GROUP BY doc_id)")

    for stat, rules in (("top", GOPHER_TOP_NGRAM_MAX),
                        ("dup", GOPHER_DUP_NGRAM_MAX)):
        for n, thr in rules.items():
            ctes.append(gram_cte(n, stat))
            joins.append(
                f"LEFT JOIN a{stat}{n} ON a{stat}{n}.doc_id = base.doc_id")
            flag_cols.append(
                f"CASE WHEN tot > 0 AND "
                f"coalesce(a{stat}{n}.v, 0)::DOUBLE / tot > {thr!r} "
                f"THEN 1 ELSE 0 END AS fail_{stat}{n}")
            all_flags.append(f"fail_{stat}{n}")

    nl = ",\n"
    cte_block = nl.join(ctes)
    flag_block = (nl + "  ").join(flag_cols)
    join_block = " ".join(joins)
    any_fail = " + ".join(all_flags)
    sum_cols = (nl + "  ").join(
        f"sum({fl})::BIGINT AS n_{fl}" for fl in all_flags)
    return f"""
WITH tk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM documents),
tkh AS (SELECT doc_id, source, {_TH} AS th,
        list_transform(tk, w -> length(w)) AS lens FROM tk),
base AS (SELECT doc_id, source,
         coalesce(list_sum(lens), 0) AS tot FROM tkh),
{cte_block},
f AS (SELECT source,
  {flag_block}
  FROM base {join_block})
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN {any_fail} = 0 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
  {sum_cols}
FROM f GROUP BY source
"""


def _bpe_oracle() -> dict[str, str]:
    """Independent BPE oracle: recompute the morph-augmented word
    histogram in DuckDB, learn the merge table with a SECOND
    implementation (naive recount + Sennrich-style apply-merges-in-order
    segmentation, vs the module's GPT-2-style lowest-rank loop), and
    embed the (word, n_pieces) map as SQL literals.  The SQL then
    re-derives the augmented token stream and joins — so the distributed
    histogram, the deterministic merge order, AND the segmentation
    equivalence are all hash-checked."""
    path = f"{_ORACLE_SF_DIR}/documents.parquet"
    if not os.path.exists(path):
        print(f"[oracle] {path} missing: bpe_train degrades to rows-only",
              file=sys.stderr, flush=True)
        return {}

    sfx = "(['', 'ing', 'ed', 'ly', 'er', 'est', 's', 'ness'])"
    aug = (f"list_transform(range(1, len(tk) + 1), i -> "
           f"tk[CAST(i AS INT)] || {sfx}[CAST((doc_id + i - 1) % 8 AS INT) + 1])")
    con = duckdb.connect()
    hist = con.execute(f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM read_parquet('{path}')),
a AS (SELECT unnest({aug}) AS w FROM tk)
SELECT w, count(*) FROM a GROUP BY w ORDER BY w""").fetchall()
    con.close()

    def apply_merge(seq, pair):
        a, b = pair
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    vocab = {}
    for w, c in hist:
        s = tuple(w) + ("</w>",)
        vocab[s] = vocab.get(s, 0) + c
    merges = []
    for _ in range(100):
        cnt = {}
        for s, c in vocab.items():
            for j in range(len(s) - 1):
                p = (s[j], s[j + 1])
                cnt[p] = cnt.get(p, 0) + c
        if not cnt:
            break
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        merges.append(best)
        nv = {}
        for s, c in vocab.items():
            t = tuple(apply_merge(list(s), best))
            nv[t] = nv.get(t, 0) + c
        vocab = nv

    def segment(w):
        seq = list(w) + ["</w>"]
        for m in merges:
            seq = apply_merge(seq, m)
        return seq

    vals = ", ".join(
        "('" + w.replace("'", "''") + "', " + str(len(segment(w))) + ")"
        for w, _c in hist)
    return {"bpe_train": f"""
WITH wmap(word, n_pieces) AS (VALUES {vals}),
tk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM documents),
a AS (SELECT doc_id, source, unnest({aug}) AS word FROM tk),
j AS (SELECT source, n_pieces FROM a JOIN wmap USING (word))
SELECT source, count(*)::BIGINT AS n_tokens,
  sum(n_pieces)::BIGINT AS n_pieces,
  round(sum(n_pieces)::DOUBLE / count(*), 6) AS pieces_per_token
FROM j GROUP BY source ORDER BY source
"""}


def _classifier_oracle() -> dict[str, str]:
    """Full value oracle for the weak-supervision quality classifier: the
    feature/label matrix is re-derived from the parquet via DuckDB (the
    hashed_embedding and quality_score SQL twins — exact integers and the
    unrounded 0.8 comparison), the SAME numpy fit runs on it
    (classifier.fit_logistic_numpy, shared code), and the resulting
    weights embed into the scoring SQL as literals."""
    path = f"{_ORACLE_SF_DIR}/documents.parquet"
    if not os.path.exists(path):
        return {}

    feats = f"""
WITH tk AS (SELECT doc_id, text, {_TOKENS} AS tk
            FROM read_parquet('{path}')),
{_hashed_sql("tk", keep="text, tk, ", base=False)},
q AS (SELECT doc_id, v,
             len(tk)::DOUBLE AS ntok,
             {_QUALITY_FEATS}
      FROM v)
SELECT doc_id, v,
       CASE WHEN 0.3 * least(ntok / 64.0, 1.0)
           + 0.2 * (CASE WHEN awl >= 3.0 AND awl <= 10.0 THEN 1.0 ELSE 0.3 END)
           + 0.2 * least(swr * 4.0, 1.0)
           + 0.3 * greatest(1.0 - (pr + dr) * 2.0, 0.0) >= 0.8
       THEN 1 ELSE 0 END AS y
FROM q WHERE doc_id % 3 != 0 ORDER BY doc_id
"""
    rows = duckdb.connect().execute(feats).fetchall()
    X = np.array([r[1] for r in rows], dtype=np.int64)
    y = np.array([r[2] for r in rows], dtype=np.int64)
    w, b = fit_logistic_numpy(X, y)
    w_lit = "[" + ", ".join(repr(float(x)) for x in w) + "]"
    score_sql = f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
{_hashed_sql("tk", base=False)},
z AS (SELECT doc_id,
             {b!r} + list_sum(list_transform(list_zip(v, {w_lit}),
                 p -> p[1] * p[2])) AS z FROM v),
p AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob FROM z)
SELECT doc_id, quality_prob,
       CASE WHEN quality_prob >= 0.5 THEN 1 ELSE 0 END AS predicted
FROM p
"""
    return {"quality_classifier": score_sql}


def oracles() -> dict[str, str]:
    return (_bpe_oracle() | _classifier_oracle()) | {
        "media_pipeline": """
WITH m AS (SELECT doc_id AS media_id,
                  ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS kind,
                  text,
                  (n_chars % 512 + 64)::INT AS w,
                  (n_chars % 256 + 48)::INT AS h,
                  (n_chars % 100 + 1)::INT AS n_frames
           FROM documents),
s AS (SELECT *, least(1.0, 256 / greatest(w, h)::DOUBLE) AS scale FROM m)
SELECT media_id, kind,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5,
       ceil(w * scale)::BIGINT AS target_width,
       ceil(h * scale)::BIGINT AS target_height,
       CASE WHEN kind = 'video' THEN ((n_frames - 1) // 10 + 1)::BIGINT
            ELSE 0 END AS n_sampled
FROM s
""",
        # Audio: recompute the integer sawtooth samples closed-form (the
        # exact int16 values wav_encode wrote and wav_decode recovered —
        # pure integer arithmetic, engine-identical), then the same exact
        # dyadic-rational feature arithmetic as audio_features: squares
        # ≤30 bits accumulated in double are exact, sqrt is IEEE
        # correctly-rounded, so rms/zcr/peak match bit-for-bit.
        "audio_features": """
WITH ids AS (SELECT doc_id, 50 + (doc_id % 40) * 10 AS f,
                    1600 + (doc_id % 4) * 400 AS n,
                    8192 + (doc_id % 8) * 1024 AS a
             FROM documents WHERE doc_id % 5 = 0),
s AS (SELECT doc_id, n,
             list_transform(range(0, n),
                            t -> ((t * f) % 8000) * (2 * a) // 8000 - a) AS smp
      FROM ids)
SELECT doc_id AS media_id, n::BIGINT AS n_samples, 8000::BIGINT AS sample_rate,
       round(sqrt(list_sum(list_transform(smp,
             v -> (v / 32768.0) * (v / 32768.0))) / n), 6) AS rms,
       list_sum(list_transform(range(2, n + 1),
             i -> CASE WHEN smp[i-1] * smp[i] < 0 THEN 1 ELSE 0 END))::BIGINT
           AS zero_crossings,
       round(list_max(list_transform(smp, v -> abs(v))) / 32768.0, 6) AS peak
FROM s
""",
        # Video: recompute the integer gradient frames closed-form (the
        # exact bytes avi_encode wrote into the DIB rows and avi_decode
        # recovered), then the same exact integer-sum feature arithmetic
        # as video_features.  Byte sums are invariant to the BGR
        # triplication (3 identical channels), so summing the formula
        # values matches summing the stored bytes.
        "video_features": """
WITH ids AS (SELECT doc_id, 4 + doc_id % 4 AS n, 8 + (doc_id % 3) * 4 AS h,
                    12 + (doc_id % 4) * 4 AS w
             FROM documents WHERE doc_id % 10 = 0)
SELECT doc_id AS media_id, n::BIGINT AS n_frames, h::BIGINT AS height,
       w::BIGINT AS width, CAST(10.0 AS DOUBLE) AS fps,
       round(list_sum(list_transform(range(0, n * h * w), i ->
             ((i % w) * 3 + ((i // w) % h) * 5 + (i // (w * h)) * 7) % 256))
             / (n * h * w) / 255.0, 6) AS mean_luma8,
       round(list_sum(list_transform(range(0, (n - 1) * h * w), i ->
             abs((((i % w) * 3 + ((i // w) % h) * 5 + (i // (w * h) + 1) * 7) % 256)
               - (((i % w) * 3 + ((i // w) % h) * 5 + (i // (w * h)) * 7) % 256))))
             / ((n - 1) * h * w) / 255.0, 6) AS motion
FROM ids
""",
        "token_stats": f"""
WITH tk AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents)
SELECT doc_id, len(tk) AS n_tokens, length(text) AS n_chars,
       round(CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE list_sum(list_transform(tk, w -> length(w)))::DOUBLE / len(tk) END, 6)
           AS avg_token_len,
       round(CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE len(list_filter(tk, w -> list_contains(
                       ['the','and','of','to','is','a','in','that'], w)))::DOUBLE / len(tk) END, 6)
           AS stop_ratio
FROM tk
""",
        # quality/lang-id: the documents corpus is lowercase word soup (no
        # punctuation/digits/CJK), so the engine-specific regex character
        # classes agree exactly and the heuristics are SQL-expressible.
        "quality_scores": f"""
WITH tk AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
s AS (SELECT doc_id,
             len(tk)::DOUBLE AS ntok,
             {_QUALITY_FEATS}
      FROM tk)
SELECT doc_id,
       round(0.3 * least(ntok / 64.0, 1.0)
           + 0.2 * (CASE WHEN awl >= 3.0 AND awl <= 10.0 THEN 1.0 ELSE 0.3 END)
           + 0.2 * least(swr * 4.0, 1.0)
           + 0.3 * greatest(1.0 - (pr + dr) * 2.0, 0.0), 6) AS quality
FROM s
""",
        "lang_id": f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
j AS (SELECT doc_id, tk, list_aggregate(tk, 'string_agg', '') AS joined FROM tk),
h AS (SELECT doc_id,
  len(list_filter(tk, w -> list_contains(['der','die','und','das','ist','ein','nicht','mit'], w))) AS h_de,
  len(list_filter(tk, w -> list_contains(['the','and','of','to','is','a','in','that'], w))) AS h_en,
  len(list_filter(tk, w -> list_contains(['el','los','las','es','una','que','por','con'], w))) AS h_es,
  len(list_filter(tk, w -> list_contains(['le','la','et','les','des','est','une','dans'], w))) AS h_fr,
  coalesce((SELECT sum(length(joined) - length(replace(joined, m, '')))
   FROM unnest(['的','是','了','在','和','有','我','不']) AS t(m)), 0) AS h_zh
  FROM j),
b AS (SELECT doc_id, list_sort([
        {{'n': -h_de, 'l': 'de'}}, {{'n': -h_en, 'l': 'en'}}, {{'n': -h_es, 'l': 'es'}},
        {{'n': -h_fr, 'l': 'fr'}}, {{'n': -h_zh::BIGINT, 'l': 'zh'}}])[1] AS best
      FROM h)
SELECT doc_id, CASE WHEN best.n < 0 THEN best.l ELSE 'en' END AS pred_lang FROM b
""",
        # --- curation family.  The PII fixture construction is
        # mirrored verbatim from _docs_pii; regexes are Java-regex/RE2
        # portable (no lookaround/backrefs) and DuckDB's regexp_replace
        # needs the 'g' flag to match Spark's replace-all semantics.
        # NOT an f-string: the regex quantifiers {2,}/{4}/{1,3} would be
        # eaten as format fields — the fixture expression is spliced in
        # with .replace instead.
        "pii_scrub": """
WITH aug AS (SELECT source, @PII_AUG@ AS text FROM documents),
s AS (SELECT source,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text, '\\+1-555-[0-9]{4}')) AS n_phone,
  len(regexp_extract_all(text, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS n_ip,
  length(text) - length(
    regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\\+1-555-[0-9]{4}', '[PHONE]', 'g'),
      '([0-9]{1,3}\\.){3}[0-9]{1,3}', '[IP]', 'g')) AS delta
  FROM aug)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_email)::BIGINT AS n_emails,
       sum(n_phone)::BIGINT AS n_phones,
       sum(n_ip)::BIGINT AS n_ips,
       sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_with_pii,
       sum(delta)::BIGINT AS chars_redacted
FROM s GROUP BY source
""".replace("@PII_AUG@", _PII_AUG),
        "gopher_quality": f"""
WITH tk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM documents),
mf AS (SELECT doc_id, max(c) AS maxrun FROM (
         SELECT doc_id, count(*) AS c FROM (
           SELECT doc_id, unnest(tk) AS w FROM tk) GROUP BY doc_id, w)
       GROUP BY doc_id),
s AS (SELECT t.doc_id, source, len(tk) AS n,
  CASE WHEN len(tk) = 0 THEN 0.0
       ELSE list_sum(list_transform(tk, w -> length(w)))::DOUBLE / len(tk) END AS awl,
  len(list_intersect(list_distinct(tk),
      ['the','and','of','to','is','a','in','that'])) AS nstop,
  CASE WHEN len(tk) = 0 THEN 1.0
       ELSE coalesce(maxrun, 0)::DOUBLE / len(tk) END AS rep
  FROM tk t LEFT JOIN mf USING (doc_id)),
f AS (SELECT source,
  CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END AS fail_len,
  CASE WHEN awl < 3.0 OR awl > 10.0 THEN 1 ELSE 0 END AS fail_wordlen,
  CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS fail_stop,
  CASE WHEN rep > 0.2 THEN 1 ELSE 0 END AS fail_rep
  FROM s)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN fail_len + fail_wordlen + fail_stop + fail_rep = 0
                THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       sum(fail_len)::BIGINT AS n_fail_len,
       sum(fail_wordlen)::BIGINT AS n_fail_wordlen,
       sum(fail_stop)::BIGINT AS n_fail_stop,
       sum(fail_rep)::BIGINT AS n_fail_rep
FROM f GROUP BY source
""",
        "bpe_token_stats": f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS text FROM documents)
SELECT doc_id, len({_TOKENS}) AS n_ws_tokens,
       len(list_filter(regexp_extract_all(text, '{tx.BPE_RE.replace(chr(39), chr(39) * 2)}'),
           t -> trim(t) != '')) AS n_bpe_tokens
FROM aug
""",
        "lm_fluency": f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
{_BIGRAM_LM_SQL}
SELECT doc_id, n_bigrams, n_oov,
   CASE WHEN n_bigrams > 0
        THEN round((n_bigrams - n_oov)::DOUBLE / n_bigrams, 6) END AS hit_rate,
   CASE WHEN n_bigrams - n_oov > 0
        THEN round(lik_sum::DOUBLE / (n_bigrams - n_oov), 6) END
       AS mean_cond_lik
FROM r
UNION ALL
SELECT doc_id, 0::BIGINT, 0::BIGINT, NULL::DOUBLE, NULL::DOUBLE
FROM tk WHERE len(tk) < 2
""",
        "gopher_repetition": _gopher_repetition_sql(),
        # the line/page construction mirrors _docs_lines verbatim; the
        # C4 rules themselves are re-derived with DuckDB list/regexp ops
        "c4_line_filter": f"""
WITH {_PAGES_SQL},
kept AS (SELECT doc_id, source, text,
  string_split(text, chr(10)) AS lns,
  list_filter(string_split(text, chr(10)), ln ->
    regexp_matches(ln, '[.!?"]$')
    AND len(list_filter(string_split(ln, ' '), w -> w != '')) >= 5
    AND NOT contains(lower(ln), 'javascript')) AS kl FROM pages),
stat AS (SELECT source, len(lns) AS n_lines, len(kl) AS n_kept_lines,
  CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
       WHEN contains(text, '{{') THEN 'brace'
       WHEN len(kl) < 3 THEN 'too_few_lines' ELSE 'kept' END AS status,
  length(array_to_string(kl, chr(10))) AS clean_len FROM kept)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)::BIGINT AS n_kept_docs,
  sum(CASE WHEN status = 'lorem_ipsum' THEN 1 ELSE 0 END)::BIGINT
      AS n_lorem_ipsum,
  sum(CASE WHEN status = 'brace' THEN 1 ELSE 0 END)::BIGINT AS n_brace,
  sum(CASE WHEN status = 'too_few_lines' THEN 1 ELSE 0 END)::BIGINT
      AS n_too_few_lines,
  sum(n_lines)::BIGINT AS n_lines,
  sum(CASE WHEN status = 'kept' THEN n_kept_lines ELSE 0 END)::BIGINT
      AS n_lines_kept,
  sum(CASE WHEN status = 'kept' THEN clean_len ELSE 0 END)::BIGINT
      AS chars_kept
FROM stat GROUP BY source ORDER BY source
""",
        # CCNet binning: the corpus lang column x the lm_fluency oracle
        # CTEs, then the same deterministic rank -> integer-division cut
        "ccnet_bins": f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
langs AS (SELECT d.doc_id, d.lang, len(t.tk)::BIGINT AS n_tok
          FROM documents d JOIN tk t USING (doc_id)),
{_BIGRAM_LM_SQL},
mcl AS (SELECT doc_id,
   CASE WHEN n_bigrams - n_oov > 0
        THEN round(lik_sum::DOUBLE / (n_bigrams - n_oov), 6) END AS mcl
   FROM r
   UNION ALL
   SELECT doc_id, NULL::DOUBLE FROM tk WHERE len(tk) < 2),
jj AS (SELECT l.doc_id, l.lang, l.n_tok, m.mcl
       FROM langs l JOIN mcl m USING (doc_id)),
ranked AS (SELECT doc_id, lang, n_tok, mcl,
   row_number() OVER (PARTITION BY lang ORDER BY mcl DESC, doc_id) AS rk,
   count(*) OVER (PARTITION BY lang) AS cnt
   FROM jj WHERE mcl IS NOT NULL),
agg AS (
  SELECT lang,
    (['head','middle','tail'])[CAST((rk - 1) * 3 // cnt AS INT) + 1] AS bin,
    count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
    round(sum(mcl::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_lik
  FROM ranked GROUP BY lang, bin
  UNION ALL
  SELECT lang, 'unscored', count(*)::BIGINT, sum(n_tok)::BIGINT,
         NULL::DOUBLE
  FROM jj WHERE mcl IS NULL GROUP BY lang)
SELECT lang, bin, n_docs, n_tokens, mean_lik FROM agg ORDER BY lang, bin
""",
    }
