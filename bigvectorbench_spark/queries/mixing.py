"""Training-mix assembly: sampling, domain and temperature mixing, DSIR
selection, sequence packing, chunking and shard scatter."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import (
    curation as cur, dedup as dd, dsir, packing as pk, sampling as smp)
from bigvectorbench_spark.sources.tables import load_table

from bigvectorbench_spark.queries._common import (
    _docs_lines, _docs_wide, _PAGES_SQL, _PHASH, _rwh, _TH, _TOKENS)


def q_doc_chunks(spark, sf):
    """Sliding-window document chunking (RAG / embedding-model context
    preparation): 32-token windows, stride 24 (8-token overlap), short
    tail chunk kept so every token is covered; per-source chunk
    accounting.  Entirely row-local — one tokenizer pass, one transform,
    one explode, the map-only 100 TB scan shape (c4_clean family)."""
    return (pk.chunk_report(_docs_wide(spark, sf), size=32, stride=24)
            .orderBy("source"))


def q_temperature_sample(spark, sf):
    """Temperature-scaled mixture sampling (mT5/Gopher domain weighting,
    alpha = 0.5): per-source keep rates proportional to sqrt(n_s),
    targeting half the corpus; deterministic ppm-resolution hash keep.
    Exact integer arithmetic after one correctly-rounded IEEE sqrt per
    source — every emitted value hash-identical across engines.  The
    corpus never shuffles: one count agg, a 20-row broadcast, a
    partition-local filter."""
    return (cur.temperature_sample_report(load_table(spark, sf, "documents"))
            .orderBy("source"))


def q_llm_data_mix(spark, sf):
    """End-to-end RefinedWeb-style training-mix assembly, composed from
    the curation stages and value-oracled through ALL of them: C4
    line/page cleaning -> corpus-wide keep-first exact LINE dedup (the
    paragraph_dedup operator at line granularity, RefinedWeb's exact
    line dedup) -> DSIR importance selection over the REWRITTEN text ->
    per-source accounting (docs surviving each stage, duplicate lines
    cut, tokens entering the final mix, mean importance ratio).

    Composition stays cheap because each stage's expensive decision
    travels as fixed-width keys: the C4 stage is a zero-shuffle scan,
    the line-dedup stage shuffles (hash, packed key, length) triples,
    DSIR broadcasts a 4096-row ratio table, and the three per-source
    rollups join on the 20-row source dimension.  tokens_kept falls out
    of the DSIR bigram count (tokens = bigrams + 1 for scored docs) —
    no extra tokenize-and-join pass over the corpus."""
    # Stage boundaries are MATERIALIZATION points: each intermediate
    # corpus is consumed by more than one downstream pass (the C4 output
    # by the stage-1 rollup and the dedup; the rewritten corpus by the
    # DSIR distribution fit, the weight join, and the empties sweep).
    # At 100 TB these would be parquet checkpoints between jobs; locally
    # a lazy localCheckpoint plays that role: the first job that reads a
    # stage computes it once, the later ones read its blocks.  The
    # boundaries are load-bearing: executing this plan with them stripped
    # re-runs every upstream stage once per downstream reference — the
    # planted-lines construction alone is recomputed ~10x — measured
    # 241s vs 22s at 500k Zipf docs.
    #
    # Lazy localCheckpoint against persist() at both boundaries, 12 cold
    # runs each way through bench.run_query at sf0.1 (4 cores), the two
    # interleaved in two sets: cold_s median 2.15 s against 2.58 s and
    # 2.37 s against 2.75 s, faster in every adjacent pair; 24 jobs
    # against 35 per run, same 20 rows.  Its build_s is longer (0.9-1.2 s
    # against 0.6-0.95 s: each boundary plans its input where it is
    # declared) and its exec_s shorter (1.0-1.5 s against 1.8-2.9 s).
    lines = _docs_lines(spark, sf)
    c4 = cur.c4_clean(lines, extra_cols=("source",)).localCheckpoint(eager=False)
    s1 = c4.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("status") == "kept").cast("int")).cast("bigint")
        .alias("n_c4_kept"))
    kept = (c4.filter(F.col("status") == "kept")
            .select("doc_id", "source",
                    F.col("text_clean").alias("text")))
    dd = cur.paragraph_dedup(kept, extra_cols=("source",))
    s2 = dd.groupBy("source").agg(
        F.sum("n_dup_removed").cast("bigint").alias("n_line_dups_removed"))
    final = dd.select("doc_id", "source",
                      F.col("text_clean").alias("text")).localCheckpoint(eager=False)
    w = dsir.dsir_weights(final, extra_cols=("source",))
    s3 = w.groupBy("source").agg(
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_dsir_kept"),
        F.sum(F.when(F.col("keep"), F.col("n_bigrams") + 1)
              .otherwise(F.lit(0))).cast("bigint").alias("tokens_kept"),
        F.round(F.sum("weight_sum").cast("double") / F.sum("n_bigrams"), 6)
        .alias("mean_weight"))
    return (s1.join(s2, "source", "left").join(s3, "source", "left")
            .select(
                "source", "n_docs", "n_c4_kept",
                F.coalesce("n_line_dups_removed", F.lit(0)).cast("bigint")
                .alias("n_line_dups_removed"),
                F.coalesce("n_dsir_kept", F.lit(0)).cast("bigint")
                .alias("n_dsir_kept"),
                F.coalesce("tokens_kept", F.lit(0)).cast("bigint")
                .alias("tokens_kept"),
                "mean_weight")
            .orderBy("source"))


def q_dsir_select(spark, sf):
    """DSIR-style data selection (Xie et al. 2023): hashed-bigram
    importance ratios of a planted target slice (doc_id % 17 = 0) vs the
    raw pool, per-source disposition accounting.  Exact-arithmetic oracle
    form: each of the 4096 bucket ratios is one identically-ordered IEEE
    double expression rounded once to 6 dp, per-doc sums accumulate in
    DECIMAL, and the keep rule (mean ratio >= 1) is a decimal-vs-integer
    compare — no float boundary can flip a disposition between engines.
    Scale shape: the distribution fit shuffles <= 4096 rows per
    partition, the ratio table broadcasts, the per-doc rollup is
    map-side combined; document text never moves."""
    return dsir.dsir_report(_docs_wide(spark, sf)).orderBy("source")


def q_weighted_sample(spark, sf):
    """Exact-size weighted sampling without replacement (Efraimidis-
    Spirakis exponential keys): 100 documents drawn ∝ token count.  The
    Bernoulli mixers (domain_mix, temperature_sample) only hit their size
    in expectation; a training-data budget wants exactly n.  Plans as
    TakeOrderedAndProject — per-partition top-n heaps, no global sort
    materialization (test_sampling pins the plan).  Fully value-oracled:
    u = portable md5 hash on a 2⁴⁰ grid, keys rounded 9 dp pre-rank."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.size(tx.tokens(F.col("text"))).cast("double").alias("w"))
    return smp.weighted_sample(docs, n=100, weight_col="w").select(
        "doc_id", "skey")


def q_stratified_sample(spark, sf):
    """Exact per-group quotas: 5 uniformly-chosen docs per source (seeded
    portable hash — same sample on any engine/partitioning).
    WindowGroupLimit bounds each group's shipped rows pre-exchange
    (test_sampling pins the plan)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    return smp.stratified_sample(docs, group_col="source", quota=5).select(
        "doc_id", "source", "srank")


def q_domain_mix(spark, sf):
    """Deterministic stratified domain mixing: multiplicative-hash
    Bernoulli keep decision per doc against a per-source target rate.
    Zero-shuffle filter; only the acceptance report aggregates."""
    return cur.domain_mix_report(load_table(spark, sf, "documents")).orderBy("source")


def q_pack_blocks(spark, sf):
    """Concat-and-split sequence packing (GPT-style pretraining loader
    prep): every doc gets its token span in the virtual corpus
    concatenation, cut into 512-token training blocks.  The global prefix
    sum runs as a distributed two-pass (range buckets → per-bucket window
    cumsum → broadcast bucket offsets) instead of the single-task
    ORDER-BY-all window — the oracle IS that single window, so the
    equivalence is hash-checked row by row (exact integer arithmetic)."""
    return pk.pack_blocks(_docs_wide(spark, sf), block_size=512)


def q_block_manifest(spark, sf):
    """Per-training-block composition from the packing spans: docs
    contributing to each 512-token block and the slots they fill (every
    non-final block exactly full — the loader invariant).  Explode is
    bounded (docs touch ⌈n/512⌉+1 blocks); one map-side-combined groupBy."""
    packed = pk.pack_blocks(_docs_wide(spark, sf), block_size=512)
    return pk.block_manifest(packed, block_size=512)


def q_epoch_mix(spark, sf):
    """Fractional-epoch oversampling audit — the UPsampling complement of
    domain_mix: each source runs 1.0/1.5/2.0/2.5 epochs (ppm factor from
    its numeric suffix), a doc's extra copy decided by the deterministic
    mix-hash Bernoulli, and the report returns exact integer counts
    (n_docs, n_emitted, n_extra) per source.  The replication itself is a
    map-only bounded explode (pytest pins the row stream); this audit
    aggregates the pre-explode scan, so the oracle checks the copy-count
    arithmetic bit-for-bit without materializing copies."""
    return cur.epoch_mix_report(_docs_wide(spark, sf))


def q_mix_shards(spark, sf):
    """Composed mixture-to-loader step: fractional-epoch oversampling
    materialized as a copy stream, each (doc, copy) scattered to a shard
    by the seeded hash on the COMBINED key — so the extra copies of an
    upweighted document land in different shards (a loader never sees
    the same doc twice in one shard pass), which is the property that
    distinguishes this from sharding then replicating.  Per-shard
    manifest: emitted rows, distinct docs, token mass.  Tokens are
    counted once per document BEFORE the explode (the copy stream
    carries a precomputed n_tok long, not re-tokenized text).  Plan:
    map-only explode -> one shard-keyed rollup; the distinct-doc count
    is the only two-phase aggregate."""
    docs = _docs_wide(spark, sf).select(
        "doc_id", "source",
        tx.token_count(F.col("text")).cast("bigint").alias("n_tok"))
    over = cur.epoch_oversample(docs)
    keyed = over.withColumn(
        "_sid", F.concat(F.col("doc_id").cast("string"), F.lit("#"),
                         F.col("copy_id").cast("string")))
    a = pk.shard_assign(keyed, n_shards=16, seed=42, id_col="_sid")
    return (
        a.groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("n_rows"),
             F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )


def q_training_shards(spark, sf):
    """Deterministic training-shard scatter + per-shard balance manifest —
    the last mile of the curation pipeline (WebDataset-style shard prep).
    Assignment is a seeded md5-prefix hash-mod (a pure column function:
    task retries and job re-runs land every doc in the SAME shard, which
    rand() cannot guarantee), so the oracle recomputes it bit-for-bit.
    Map-only assignment + one map-side-combined groupBy; ≤ n_shards rows
    out regardless of corpus size."""
    return pk.shard_manifest(_docs_wide(spark, sf), n_shards=32, seed=42)


def oracles() -> dict[str, str]:
    return {
        # weighted_sample / stratified_sample: the sampling pipelines
        # replayed end-to-end — portable md5 u on the 2^40 grid, A-ES key
        # -ln(u)/w rounded 9 dp, (key, id) / (u, id) ranking.
        "weighted_sample": f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
w AS (SELECT doc_id, len(tk)::DOUBLE AS w FROM tk WHERE len(tk) > 0),
u AS (SELECT doc_id, w,
             (({_PHASH.format(x="doc_id::VARCHAR || ':1'")}) % 1099511627776
              + 1)::DOUBLE / 1099511627776.0::DOUBLE AS u
      FROM w)
SELECT doc_id, round(-ln(u) / w, 9) AS skey
FROM u ORDER BY skey, doc_id LIMIT 100
""",
        "stratified_sample": f"""
WITH u AS (SELECT doc_id, source,
                  (({_PHASH.format(x="doc_id::VARCHAR || ':1'")})
                   % 1099511627776 + 1)::DOUBLE
                  / 1099511627776.0::DOUBLE AS u
           FROM documents),
r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY u, doc_id)
             AS srank
      FROM u)
SELECT doc_id, source, srank FROM r WHERE srank <= 5
""",
        # The oracle for pack_blocks is the SINGLE global window the Spark
        # side deliberately avoids (one task at scale) — hash equality
        # proves the two-pass distributed prefix sum computes the same
        # stream offsets for every document.
        "pack_blocks": f"""
WITH tk AS (SELECT doc_id, len({_TOKENS}) AS n FROM documents),
c AS (SELECT doc_id, n, (sum(n) OVER (ORDER BY doc_id) - n)::BIGINT AS s FROM tk)
SELECT doc_id, n::BIGINT AS n_tokens, s AS start_off, (s + n)::BIGINT AS end_off,
       (s // 512)::BIGINT AS first_block,
       (CASE WHEN n > 0 THEN (s + n - 1) // 512 - s // 512 + 1
             ELSE 0 END)::BIGINT AS n_blocks
FROM c
""",
        # epoch_mix recomputes the ppm epoch factor and the Knuth-hash
        # Bernoulli in exact integer arithmetic — the same machinery the
        # domain_mix oracle already mirrors, extended with the
        # full-copies + fractional-extra split.
        "epoch_mix": """
WITH a AS (
  SELECT source,
         1000000 + (regexp_extract(source, '([0-9]+)$', 1)::BIGINT % 4)
                   * 500000 AS epochs_ppm,
         CASE WHEN ((doc_id * 2654435761) % 4294967296) % 1000000 <
                   (1000000 + (regexp_extract(source, '([0-9]+)$', 1)::BIGINT
                    % 4) * 500000) % 1000000
              THEN 1 ELSE 0 END AS x
  FROM documents)
SELECT source, epochs_ppm::BIGINT AS epochs_ppm, count(*)::BIGINT AS n_docs,
       sum(epochs_ppm // 1000000 + x)::BIGINT AS n_emitted,
       sum(x)::BIGINT AS n_extra
FROM a GROUP BY source, epochs_ppm
""",
        # mix_shards materializes the oversampled copy stream (unnest ==
        # explode) and recomputes the combined-key shard hash, so the
        # hash check proves copy-level scatter parity end to end.
        "mix_shards": f"""
WITH t AS (SELECT doc_id, source, len({_TOKENS}) AS n FROM documents),
e AS (SELECT doc_id, n,
        1000000 + (regexp_extract(source, '([0-9]+)$', 1)::BIGINT % 4)
                  * 500000 AS ep,
        ((doc_id * 2654435761) % 4294967296) % 1000000 AS h
      FROM t),
c AS (SELECT doc_id, n,
        ep // 1000000 + CASE WHEN h < ep % 1000000 THEN 1 ELSE 0 END AS nc
      FROM e),
x AS (SELECT doc_id, n, unnest(range(0, nc)) AS copy_id FROM c),
s AS (SELECT doc_id, n,
        (('0x' || substring(md5('42|' || doc_id::VARCHAR || '#'
                                 || copy_id::VARCHAR), 1, 8))::BIGINT
         % 16)::INT AS shard
      FROM x)
SELECT shard, count(*)::BIGINT AS n_rows,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       sum(n)::BIGINT AS n_tokens
FROM s GROUP BY shard
""",
        # training_shards recomputes the seeded md5-prefix shard hash
        # bit-for-bit (32-bit hex prefix → bigint, mod 32), so the hash
        # check proves assignment parity, not just aggregate shape.
        "training_shards": f"""
WITH a AS (
  SELECT doc_id, text, len({_TOKENS}) AS n,
         (('0x' || substring(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT
          % 32)::INT AS shard
  FROM documents)
SELECT shard, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
       sum(length(text))::BIGINT AS n_chars
FROM a GROUP BY shard
""",
        "block_manifest": f"""
WITH tk AS (SELECT doc_id, len({_TOKENS}) AS n FROM documents),
c AS (SELECT doc_id, n, (sum(n) OVER (ORDER BY doc_id) - n)::BIGINT AS s FROM tk),
d AS (SELECT doc_id, s, s + n AS e, s // 512 AS fb, (s + n - 1) // 512 AS lb
      FROM c WHERE n > 0),
x AS (SELECT doc_id, s, e, unnest(range(fb, lb + 1)) AS block_id FROM d)
SELECT block_id::BIGINT AS block_id, count(*)::BIGINT AS n_docs,
       sum(least(e, (block_id + 1) * 512) - greatest(s, block_id * 512))::BIGINT
           AS n_tokens
FROM x GROUP BY block_id
""",
        "domain_mix": """
SELECT source,
       ((regexp_extract(source, '([0-9]+)$', 1)::BIGINT % 4) + 1) * 250 AS target_permille,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN ((doc_id * 2654435761) % 4294967296) % 1000 <
                     ((regexp_extract(source, '([0-9]+)$', 1)::BIGINT % 4) + 1) * 250
                THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents GROUP BY source
""",
        # the full composed pipeline: C4 CTEs as in c4_line_filter, line
        # dedup as in paragraph_dedup (min packed key per md5-60bit line
        # hash, rewrite via indexed list_filter), DSIR as in dsir_select
        # but over the REWRITTEN text — every stage's values flow into
        # the next, so a mismatch anywhere surfaces in the final hash
        "llm_data_mix": f"""
WITH {_PAGES_SQL},
keptl AS (SELECT doc_id, source, text,
  list_filter(string_split(text, chr(10)), ln ->
    regexp_matches(ln, '[.!?"]$')
    AND len(list_filter(string_split(ln, ' '), w -> w != '')) >= 5
    AND NOT contains(lower(ln), 'javascript')) AS kl FROM pages),
s1 AS (SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{{')
            AND len(kl) >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_c4_kept
  FROM keptl GROUP BY source),
c4docs AS (SELECT doc_id, source, kl FROM keptl
  WHERE NOT contains(lower(text), 'lorem ipsum')
    AND NOT contains(text, '{{')
    AND len(kl) >= 3),
occ1 AS (SELECT doc_id, source, u.i AS pos, u.p AS ln FROM
  (SELECT doc_id, source, unnest(list_transform(range(1, len(kl) + 1),
     i -> {{'i': i, 'p': kl[CAST(i AS INT)]}})) AS u FROM c4docs)),
hashed AS (SELECT doc_id, pos, {_PHASH.format(x='ln')} AS h,
  doc_id * 1048576 + pos AS key FROM occ1),
firsts AS (SELECT h, min(key) AS mk FROM hashed GROUP BY h),
cuts AS (SELECT doc_id, list(pos) AS cps, count(*)::BIGINT AS ncut
  FROM hashed JOIN firsts USING (h) WHERE key != mk GROUP BY doc_id),
dedup AS (SELECT c.doc_id, c.source,
  array_to_string(list_transform(
    list_filter(range(1, len(c.kl) + 1),
      i -> NOT coalesce(list_contains(u.cps, i), false)),
    i -> c.kl[CAST(i AS INT)]), chr(10)) AS dtext,
  coalesce(u.ncut, 0)::BIGINT AS ncut
  FROM c4docs c LEFT JOIN cuts u ON c.doc_id = u.doc_id),
s2 AS (SELECT source, sum(ncut)::BIGINT AS n_line_dups_removed
  FROM dedup GROUP BY source),
dre AS (SELECT doc_id, source, dtext AS text FROM dedup),
dtk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM dre),
dth AS (SELECT doc_id, source, {_TH} AS th FROM dtk),
occ2 AS (SELECT doc_id,
  unnest(list_transform(range(1, len(th)), i -> {_rwh(2)} % 4096)) AS b
  FROM dth),
dist AS (SELECT b, count(*)::BIGINT AS raw_c,
  sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)::BIGINT AS tgt_c
  FROM occ2 GROUP BY b),
tot AS (SELECT sum(raw_c)::BIGINT AS t_raw, sum(tgt_c)::BIGINT AS t_tgt
  FROM dist),
terms AS (SELECT b,
  round(((tgt_c + 1)::DOUBLE / (t_tgt + 4096)::DOUBLE)
      / ((raw_c + 1)::DOUBLE / (t_raw + 4096)::DOUBLE), 6)::DECIMAL(18,6)
      AS term
  FROM dist, tot),
perdoc AS (SELECT o.doc_id, count(*)::BIGINT AS n, sum(term) AS ws
  FROM occ2 o JOIN terms USING (b) GROUP BY o.doc_id),
s3 AS (SELECT d.source,
  sum(CASE WHEN p.ws >= p.n THEN 1 ELSE 0 END)::BIGINT AS n_dsir_kept,
  sum(CASE WHEN p.ws >= p.n THEN p.n + 1 ELSE 0 END)::BIGINT AS tokens_kept,
  round(sum(p.ws)::DOUBLE / sum(p.n), 6) AS mean_weight
  FROM dth d LEFT JOIN perdoc p ON d.doc_id = p.doc_id GROUP BY d.source)
SELECT s1.source, s1.n_docs, s1.n_c4_kept,
  coalesce(s2.n_line_dups_removed, 0)::BIGINT AS n_line_dups_removed,
  coalesce(s3.n_dsir_kept, 0)::BIGINT AS n_dsir_kept,
  coalesce(s3.tokens_kept, 0)::BIGINT AS tokens_kept,
  s3.mean_weight
FROM s1 LEFT JOIN s2 USING (source) LEFT JOIN s3 USING (source)
ORDER BY source
""",
        # sliding-window chunking: same ceil/slice arithmetic, chunk text
        # re-joined and length-accounted so the window content is checked
        "doc_chunks": f"""
WITH tk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM documents),
c AS (SELECT doc_id, source, tk,
  CASE WHEN len(tk) <= 0 THEN 0
       ELSE 1 + CAST(ceil(greatest(len(tk) - 32, 0) / 24.0) AS BIGINT)
  END AS nc FROM tk),
ch AS (SELECT doc_id, source,
  unnest(list_transform(range(0, nc), i -> {{
     'nt': len(tk[CAST(i*24 + 1 AS INT) : CAST(i*24 + 32 AS INT)]),
     'nchars': length(array_to_string(
         tk[CAST(i*24 + 1 AS INT) : CAST(i*24 + 32 AS INT)], ' '))}})) AS u
  FROM c)
SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs_chunked,
  count(*)::BIGINT AS n_chunks,
  sum(u.nt)::BIGINT AS n_chunk_tokens,
  sum(CASE WHEN u.nt < 32 THEN 1 ELSE 0 END)::BIGINT AS n_short_chunks,
  sum(u.nchars)::BIGINT AS chunk_chars
FROM ch GROUP BY source ORDER BY source
""",
        # alpha=0.5 temperature sampling: one IEEE sqrt per source, then
        # pure int64 arithmetic — floor/DIV/Knuth-hash identical in both
        # engines by construction
        "temperature_sample": """
WITH counts AS (SELECT source, count(*)::BIGINT AS n_docs
  FROM documents GROUP BY source),
w AS (SELECT source, n_docs,
  floor(sqrt(n_docs::DOUBLE) * 1000)::BIGINT AS wu FROM counts),
tot AS (SELECT sum(wu)::BIGINT AS t_wu, sum(n_docs)::BIGINT AS t_n FROM w),
rates AS (SELECT source, n_docs, wu,
  least(1000000,
        (((t_n * 500) // 1000) * wu * 1000000) // (t_wu * n_docs))::BIGINT
      AS p_ppm
  FROM w, tot),
keeps AS (SELECT d.source,
  sum(CASE WHEN ((d.doc_id * 2654435761) % 4294967296) % 1000000 < r.p_ppm
           THEN 1 ELSE 0 END)::BIGINT AS n_kept
  FROM documents d JOIN rates r USING (source) GROUP BY d.source)
SELECT r.source, r.n_docs, r.wu, r.p_ppm, k.n_kept
FROM rates r JOIN keeps k USING (source) ORDER BY source
""",
        # hashed-bigram DSIR: buckets via the SAME token-hash + 2-window
        # rolling fold the Spark side uses; each bucket ratio is the
        # identical IEEE double op sequence rounded once to 6 dp, per-doc
        # sums exact in DECIMAL, keep = decimal >= integer
        "dsir_select": f"""
WITH tk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM documents),
tkh AS (SELECT doc_id, source, {_TH} AS th FROM tk),
occ AS (SELECT doc_id, source,
  unnest(list_transform(range(1, len(th)), i -> {_rwh(2)} % 4096)) AS b
  FROM tkh),
dist AS (SELECT b, count(*)::BIGINT AS raw_c,
  sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)::BIGINT AS tgt_c
  FROM occ GROUP BY b),
tot AS (SELECT sum(raw_c)::BIGINT AS t_raw, sum(tgt_c)::BIGINT AS t_tgt
  FROM dist),
terms AS (SELECT b,
  round(((tgt_c + 1)::DOUBLE / (t_tgt + 4096)::DOUBLE)
      / ((raw_c + 1)::DOUBLE / (t_raw + 4096)::DOUBLE), 6)::DECIMAL(18,6)
      AS term
  FROM dist, tot),
perdoc AS (SELECT doc_id, any_value(source) AS source,
  count(*)::BIGINT AS n, sum(term) AS ws
  FROM occ JOIN terms USING (b) GROUP BY doc_id),
alldocs AS (
  SELECT source, n, ws, CASE WHEN ws >= n THEN 1 ELSE 0 END AS kept,
         1 AS scored FROM perdoc
  UNION ALL
  SELECT source, 0, NULL, 0, 0 FROM tkh WHERE len(th) < 2)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(scored)::BIGINT AS n_scored,
  sum(kept)::BIGINT AS n_kept,
  sum(n)::BIGINT AS n_bigrams,
  round(sum(ws)::DOUBLE / sum(n), 6) AS mean_weight
FROM alldocs GROUP BY source ORDER BY source
""",
    }
