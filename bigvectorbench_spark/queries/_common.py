"""Helpers shared by more than one query family: the fixture frames, the
recall gate, and the SQL fragments several oracles splice in."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import dedup as dd
from bigvectorbench_spark.operators import metrics as mx
from bigvectorbench_spark.sources.tables import load_table

# The driver's oracle harness runs at sf0.01 (TESTDATA.md contract); the
# quality-gate thresholds are calibrated there (scripts/calibrate_gates.py).
# At any other sf dir the recall distributions shift (nlist=8/nprobe=4
# partitions different data), so the gates relax to defect-only floors
# rather than fail spuriously.
_ORACLE_SF = "sf0.01"

# The driver evaluates oracles at sf0.01 (TESTDATA.md contract); the oracles
# that embed index builds recompute them on that table.  The directory is
# env-overridable so an evaluation at another sf can point the embedded
# literals at the right table instead of failing spuriously.
_ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _gate(sf: str, tight: tuple[float, float], floor: tuple[float, float]) -> tuple[float, float]:
    return tight if _ORACLE_SF in str(sf) else floor


def _recall_gate(approx: DataFrame, exact: DataFrame, mean_thr: float,
                 min_thr: float, *extra, lead=(), col: str = "id") -> DataFrame:
    """The one-row recall gate: per-query recall@k of ``approx`` against
    ``exact`` (both (qid, ``col``) top-k rows), aggregated to n_queries,
    the ``lead`` columns, the mean/min threshold booleans the oracle
    asserts TRUE, and the ``extra`` columns."""
    def neighbors(df):
        return df.groupBy("qid").agg(F.collect_list(col).alias("neighbors"))

    per_q = mx.recall_per_query(neighbors(approx), neighbors(exact))
    return per_q.agg(
        F.count("*").alias("n_queries"), *lead,
        (F.avg("recall") >= mean_thr).alias("mean_recall_ok"),
        (F.min("recall") >= min_thr).alias("min_recall_ok"), *extra)


def _train(spark, sf):
    return load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )


def _queries_mod(spark, sf, mod=0):
    return load_table(spark, sf, "embeddings").filter(f"vec_id % 50 = {mod}").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"), "label"
    )


def _r(col):
    return F.round(col, 4)


def _docs_wide(spark, sf):
    """documents, spread across cores: the table arrives as ONE parquet file
    (one scan partition), which would run every per-doc text pipeline on a
    single thread.  The shuffle moves only the raw text once — cheap — and
    every downstream stage then uses the full cluster, as wide as the
    session's ``defaultParallelism``.  (At 100 TB the source would already
    be many files and this becomes a no-op.)"""
    return dd._widen(load_table(spark, sf, "documents"))


def _docs_lines(spark, sf):
    """documents with deterministic LINE structure planted in-query (the
    corpus text has no newlines): tokens chunk into 6-word lines, each
    line gets a cycling terminal-or-missing punctuation mark, the
    (doc_id + line) % 13 == 7 residue injects 'javascript', and the
    doc_id % 89 / % 97 residue classes append page-level 'lorem ipsum' /
    curly-brace footers.  The construction is explicit and mirrored
    verbatim in the oracle SQL (the _docs_pii pattern) — the operator
    under test is the C4 rule evaluation, not the planting."""
    d = _docs_wide(spark, sf).select(
        "doc_id", "source", tx.tokens(F.col("text")).alias("tk"))
    nl = F.ceil(F.size("tk") / F.lit(6.0)).cast("int")
    idx = F.when(nl >= 1, F.sequence(F.lit(0), nl - 1)
                 ).otherwise(F.lit([]).cast("array<int>"))
    punct = F.array(F.lit("."), F.lit(""), F.lit("!"), F.lit("?"), F.lit(""))

    def mk(i):
        base = F.concat_ws(" ", F.slice(F.col("tk"), i * 6 + 1, 6))
        js = F.when(F.pmod(F.col("doc_id") + i, 13) == 7,
                    F.lit(" javascript embedded here")).otherwise(F.lit(""))
        p = F.element_at(punct, (F.pmod(F.col("doc_id") + i, 5) + 1).cast("int"))
        return F.concat(base, js, p)

    lorem = F.when(F.col("doc_id") % 89 == 0,
                   F.lit("\nthis page quotes lorem ipsum boilerplate.")
                   ).otherwise(F.lit(""))
    brace = F.when(F.col("doc_id") % 97 == 0,
                   F.lit("\nfunction f() { return 1; }")).otherwise(F.lit(""))
    return d.select(
        "doc_id", "source",
        F.concat(F.array_join(F.transform(idx, mk), "\n"), lorem, brace)
        .alias("text"))


# ------------------------------------------------------------ SQL fragments

_TOKENS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"
_L2 = ("sqrt(list_sum(list_transform(list_zip({a}, {b}), "
       "x -> (x[1]-x[2])*(x[1]-x[2]))))")
_PHASH = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# Rolling window hashes (curation.py token_hashes/rolling_window_hashes,
# constants mirrored verbatim): per-token 40-bit md5-derived hashes, window
# hash = seeded fold acc·4093 + x (mod 2^41) — list_reduce seeds with the
# first element, exactly the Spark aggregate's seed.
_TH = ("list_transform(tk, w -> "
       "('0x' || substr(md5(w), 1, 15))::BIGINT % 1099511627776)")


# The quality_score_from_tokens features (functions/text.py) of a row's
# ``tk`` and ``text``: mean word length, stopword ratio, punctuation and
# digit ratios.
_QUALITY_FEATS = """CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE list_sum(list_transform(tk, w -> length(w)))::DOUBLE / len(tk) END AS awl,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE len(list_filter(tk, w -> list_contains(
                       ['the','and','of','to','is','a','in','that'], w)))::DOUBLE / len(tk) END AS swr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END AS pr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text) END AS dr"""


# ``_docs_lines`` in SQL: pages(doc_id, source, text) of the planted
# 6-word lines, punctuation, 'javascript', lorem-ipsum and brace footers.
_PAGES_SQL = f"""tk AS (SELECT doc_id, source, {_TOKENS} AS tk FROM documents),
lines AS (SELECT doc_id, source,
  list_transform(range(0, CAST(ceil(len(tk) / 6.0) AS BIGINT)), i ->
    array_to_string(tk[CAST(i*6+1 AS INT) : CAST(i*6+6 AS INT)], ' ')
    || CASE WHEN (doc_id + i) % 13 = 7 THEN ' javascript embedded here'
            ELSE '' END
    || (['.', '', '!', '?', ''])[CAST((doc_id + i) % 5 AS INT) + 1]) AS ls
  FROM tk),
pages AS (SELECT doc_id, source,
  array_to_string(ls, chr(10))
  || CASE WHEN doc_id % 89 = 0
          THEN chr(10) || 'this page quotes lorem ipsum boilerplate.'
          ELSE '' END
  || CASE WHEN doc_id % 97 = 0
          THEN chr(10) || 'function f() {{ return 1; }}'
          ELSE '' END AS text FROM lines)"""


def _rwh(n: int) -> str:
    """The rolling hash of the ``n``-token window starting at token ``i``."""
    return (f"list_reduce(th[i:i+{n - 1}], "
            f"(a, b) -> (a * 4093 + b) % 2199023255552)")


def _knn_oracle(*, where_q: str = "vec_id % 50 = 0",
                dist: str = _L2.format(a="t.v", b="q.v"),
                join: str = "CROSS JOIN", cond: str = "", round_n: int = 4,
                cols: str = "qid, id, dist, rank") -> str:
    """Exact top-10 kNN of the ``where_q`` embeddings, ranked by (d, id)."""
    # ``+ 0.0`` normalizes IEEE -0.0 to +0.0: Spark's round() goes through
    # BigDecimal (never signs zero) while DuckDB's keeps the sign, and the
    # driver's value hash distinguishes the two bit patterns.
    return f"""
WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v, label FROM embeddings WHERE {where_q}),
s AS (SELECT q.qid, t.id, {dist} AS d FROM q {join} t {cond}),
r AS (SELECT qid, id, round(d, {round_n}) + 0.0 AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank
      FROM s)
SELECT {cols} FROM r WHERE rank <= 10
"""


def _hashed_sql(src: str, p: str = "", keep: str = "", base: bool = True) -> str:
    """The 64-d signed feature-hashing embedding (functions/embed.py
    hashed_embedding: bucket h % 64, sign from bit 6) as CTEs over ``src``'s
    ``tk`` column: ``{p}th`` and ``{p}v``; with ``base`` also the squared
    norm ``{p}n``, the nonzero corpus ``{p}base`` and the ``doc_id % 250``
    query block ``{p}q``.  ``keep`` lists columns carried along."""
    sql = (f"{p}th AS (SELECT doc_id, {keep}{_TH} AS th FROM {src}),\n"
           f"{p}v AS (SELECT doc_id, {keep}list_transform(range(0, 64), j ->\n"
           "   coalesce(list_sum(list_transform(th, h -> CASE WHEN h % 64 = j\n"
           "      THEN CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END\n"
           f"      ELSE 0 END)), 0)) AS v FROM {p}th)")
    if not base:
        return sql
    return sql + (
        f",\n{p}n AS (SELECT doc_id, v, list_sum(list_transform(v, x -> x * x)) AS nsq FROM {p}v),\n"
        f"{p}base AS (SELECT doc_id, v, nsq FROM {p}n WHERE nsq > 0),\n"
        f"{p}q AS (SELECT doc_id AS qid, v AS qv, nsq AS qn FROM {p}base WHERE doc_id % 250 = 0)")


def _bm25_sql(mod: int) -> str:
    """BM25 (k1 = 1.2, b = 0.75) of the ``doc_id % mod`` queries' 3
    alphabetically-first terms, as CTEs ending in ``agg(qid, doc_id,
    score)``: per-term scores rounded to 9 dp and summed in DECIMAL, the
    retrieval.bm25_topk ladder."""
    return f"""tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
d AS (SELECT doc_id, tk, len(tk) AS dl FROM tk),
stats AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM d),
q AS (SELECT doc_id AS qid, list_sort(list_distinct(tk))[1:3] AS terms FROM tk
      WHERE doc_id % {mod} = 0),
qt AS (SELECT DISTINCT qid, unnest(terms) AS term FROM q),
post AS (SELECT doc_id, dl, unnest(tk) AS term FROM d),
tfs AS (SELECT term, doc_id, dl, count(*) AS tf FROM post GROUP BY term, doc_id, dl),
hits AS (SELECT t.* FROM tfs t WHERE term IN (SELECT term FROM qt)),
dfr AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
sc AS (SELECT qt.qid, h.doc_id,
              round(ln(1.0 + (s.n - dfr.df + 0.5) / (dfr.df + 0.5)) *
                    (h.tf::DOUBLE * (1.2 + 1.0)) /
                    (h.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * h.dl::DOUBLE / s.avgdl)),
                    9)::DECIMAL(28,10) AS term_score
       FROM hits h JOIN qt ON h.term = qt.term
       JOIN dfr ON h.term = dfr.term CROSS JOIN stats s),
agg AS (SELECT qid, doc_id, CAST(round(sum(term_score), 6) AS DOUBLE) AS score
        FROM sc GROUP BY qid, doc_id)"""
