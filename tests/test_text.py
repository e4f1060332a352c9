"""Text-analysis function tests (tokenize/quality/lang-id/fingerprint)."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx


def _eval(spark, col, text):
    return spark.createDataFrame([(text,)], "t string").select(col.alias("v")).collect()[0]["v"]


def test_tokens_and_counts(spark):
    assert _eval(spark, tx.tokens(F.col("t")), "  Hello   World  ") == ["hello", "world"]
    assert _eval(spark, tx.tokens(F.col("t")), "") == []
    assert _eval(spark, tx.token_count(F.col("t")), "a b  c") == 3
    assert _eval(spark, tx.char_count(F.col("t")), "abc") == 3
    assert _eval(spark, tx.avg_token_len_from_tokens(tx.tokens(F.col("t"))),
                 "ab abcd") == pytest.approx(3.0)
    assert _eval(spark, tx.avg_token_len_from_tokens(tx.tokens(F.col("t"))),
                 "") == 0.0


def test_word_shingles(spark):
    got = _eval(spark, tx.shingles_from_tokens(tx.tokens(F.col("t")), 2), "a b c a b")
    assert sorted(got) == ["a b", "b c", "c a"]  # distinct
    assert _eval(spark, tx.shingles_from_tokens(tx.tokens(F.col("t")), 3), "a b") == []


def test_ratios(spark):
    assert _eval(spark, tx.stopword_ratio_from_tokens(tx.tokens(F.col("t"))),
                 "the cat and dog") == pytest.approx(0.5)
    assert _eval(spark, tx.punct_ratio(F.col("t")), "ab,.") == pytest.approx(0.5)
    assert _eval(spark, tx.digit_ratio(F.col("t")), "a1b2") == pytest.approx(0.5)
    assert _eval(spark, tx.punct_ratio(F.col("t")), "") == 0.0


def test_quality_score_ordering(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away to the hills"
    bad = "@@@@ #### 1234 !!!! %%%%"
    q = tx.quality_score_from_tokens(tx.tokens(F.col("t")), F.col("t"))
    qg = _eval(spark, q, good)
    qb = _eval(spark, q, bad)
    assert 0.0 <= qb < qg <= 1.0


def test_lang_id(spark):
    tk = tx.tokens(F.col("t"))
    lang = tx.lang_id_from_tokens(tk, F.concat_ws("", tk))
    assert _eval(spark, lang, "the cat is on the mat") == "en"
    assert _eval(spark, lang, "der hund und die katze ist") == "de"
    assert _eval(spark, lang, "le chat est dans la maison et") == "fr"
    assert _eval(spark, lang, "el gato es una mascota que") == "es"
    assert _eval(spark, lang, "我是的了") == "zh"
    assert _eval(spark, lang, "xyzzy plugh") == "en"  # fallback


def test_doc_fingerprint_similarity(spark):
    a = "one two three four five six seven eight nine ten"
    fp = tx.fingerprint_from_tokens(tx.tokens(F.col("t")))
    fa = _eval(spark, fp, a)
    fb = _eval(spark, fp, a + " eleven")
    fc = _eval(spark, fp, "totally different words entirely here now")
    assert fa == sorted(fa)
    overlap_ab = len(set(fa) & set(fb))
    overlap_ac = len(set(fa) & set(fc))
    assert overlap_ab > overlap_ac


def test_bpe_tokens_match_python_re(spark):
    """The BPE-ish pre-tokenizer (GPT-2 pattern family, portable subset)
    must produce the same token stream in Spark's Java regex as Python's
    re (and, by the same leftmost-first semantics, DuckDB's RE2 — the
    oracle relies on this three-way agreement)."""
    import re

    samples = [
        "the quick brown fox",
        "contact user70@example.com now",
        "call +1-555-0042 today",
        "it's o'clock we'll they've 192.168.4.28",
        "",
        "  double  spaces  and CamelCase42x",
    ]
    for s in samples:
        got = _eval(spark, tx.bpe_tokens(F.col("t")), s)
        want = [m.group(0) for m in re.finditer(tx.BPE_RE, s)]
        assert got == want, s


def test_bpe_token_count_splits_punctuation(spark):
    # whitespace sees 2 tokens; BPE splits the email into name/@/host parts
    s = "email user70@example.com"
    assert _eval(spark, tx.token_count(F.col("t")), s) == 2
    assert _eval(spark, tx.bpe_token_count(F.col("t")), s) > 4
    # pure word soup: the two counters agree
    w = "plain words only here"
    assert (_eval(spark, tx.bpe_token_count(F.col("t")), w)
            == _eval(spark, tx.token_count(F.col("t")), w))


# ------------------------------------------------------ feature-hash embedding


def test_hashed_embedding_matches_python(spark):
    import hashlib

    from pyspark.sql import functions as F
    from bigvectorbench_spark.functions import embed as em
    from bigvectorbench_spark.functions import text as tx

    texts = ["the quick brown fox", "a a a b", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["v"] for r in df.select(
        "doc_id", em.token_hashes(tx.tokens(F.col("text"))).alias("th"),
    ).select(
        "doc_id",
        em.hashed_embedding(F.col("th"), dim=16).alias("v"),
    ).collect()}

    def py(text, d=16):
        v = [0] * d
        for w in text.lower().split():
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            v[h % d] += 1 if (h // d) % 2 == 0 else -1
        return v

    for i, t in enumerate(texts):
        assert got[i] == py(t), i


def test_hashed_embedding_power_of_two_guard(spark):
    from pyspark.sql import functions as F
    from bigvectorbench_spark.functions import embed as em

    with pytest.raises(ValueError):
        em.hashed_embedding(F.col("x"), dim=48)
