"""Curation-family operators: PII scrub, Gopher quality, decontamination,
substring-level dedup, domain mixing (operators/curation.py)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import curation as cur


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ------------------------------------------------------------------ PII scrub


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "s", "reach me at jo.doe+x@mail-host.org or jo@b.co thanks"),
            (2, "s", "call +1-555-0042 from 10.0.200.3 now"),
            (3, "s", "clean text with no identifiers at all"),
        ],
        "id long, source string, text string",
    )
    rows = {r["id"]: r for r in df.select(
        "id",
        *[v.alias(k) for k, v in cur.pii_counts(F.col("text")).items()],
        cur.pii_redact(F.col("text")).alias("red"),
    ).collect()}
    assert (rows[1]["email"], rows[1]["phone"], rows[1]["ip"]) == (2, 0, 0)
    assert rows[1]["red"] == "reach me at [EMAIL] or [EMAIL] thanks"
    assert (rows[2]["email"], rows[2]["phone"], rows[2]["ip"]) == (0, 1, 1)
    assert rows[2]["red"] == "call [PHONE] from [IP] now"
    assert rows[3]["red"] == rows[3]["red"] and rows[3]["email"] == 0


def test_pii_scrub_report_totals(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "x ann@b.io y"),
            (2, "a", "no pii here"),
            (3, "b", "two emails a@b.cd e@f.gh and +1-555-9999"),
        ],
        "id long, source string, text string",
    )
    out = {r["source"]: r for r in cur.pii_scrub_report(df).collect()}
    assert out["a"]["n_docs"] == 2
    assert out["a"]["n_emails"] == 1
    assert out["a"]["n_docs_with_pii"] == 1
    # "x ann@b.io y" -> "x [EMAIL] y": 8 chars removed, 7 added
    assert out["a"]["chars_redacted"] == len("ann@b.io") - len("[EMAIL]")
    assert out["b"]["n_emails"] == 2 and out["b"]["n_phones"] == 1
    assert out["b"]["n_docs_with_pii"] == 1


# ------------------------------------------------------------- Gopher quality


def test_max_token_run(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "a", "c", "a"]), (2, ["x"]), (3, [])],
        "id long, tk array<string>",
    )
    got = {r["id"]: r["m"] for r in df.select(
        "id", cur.max_token_run(F.col("tk")).alias("m")).collect()}
    assert got == {1: 3, 2: 1, 3: 0}


def test_gopher_flags_each_rule(spark):
    stop_rich = " ".join(["the", "and", "of", "to"] * 15)  # 60 tokens, 4 stops
    short = "the and word"  # fails length only... and wordlen (mean 3.33 ok)
    repeaty = " ".join(["the", "and"] + ["spam"] * 58)  # spam occupies 58/60
    longwords = " ".join(["the", "and"] + ["arglebargleglyph"] * 58)
    df = spark.createDataFrame(
        [(1, stop_rich), (2, short), (3, repeaty), (4, longwords)],
        "id long, text string",
    )
    from bigvectorbench_spark.functions import text as tx
    flags = df.select("id", tx.tokens(F.col("text")).alias("tk")).select(
        "id", *[v.alias(k) for k, v in cur.gopher_flags(F.col("tk")).items()])
    got = {r["id"]: r for r in flags.collect()}
    # stop_rich: 60 tokens, mean len 2.83 < 3 -> fails wordlen; 'the' run 15/60=0.25 -> fails rep
    assert not got[1]["fail_len"] and not got[1]["fail_stop"]
    assert got[2]["fail_len"]  # 3 tokens < 50
    assert got[3]["fail_rep"] and not got[3]["fail_len"]
    assert got[4]["fail_wordlen"]  # mean word length >> 10


def test_gopher_report_partitions_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = cur.gopher_quality_report(docs).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    for r in out:
        assert 0 <= r["n_pass"] <= r["n_docs"]
        for c in ("n_fail_len", "n_fail_wordlen", "n_fail_stop", "n_fail_rep"):
            assert 0 <= r[c] <= r["n_docs"]


# ------------------------------------------------------------ window hashing


# ------------------------------------------------------------ decontamination


def test_decontaminate_planted_overlap(spark):
    shared = " ".join("tok%d" % i for i in range(8))
    rows = [
        (0, "s0", shared + " evaltail one two"),          # eval doc (0 % 97 == 0)
        (1, "s0", "prefix words " + shared),              # contaminated
        (2, "s0", " ".join("other%d" % i for i in range(12))),  # clean
        (3, "s1", shared),                                # contaminated
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in cur.decontaminate_report(df).collect()}
    assert out["s0"]["n_train"] == 2 and out["s0"]["n_contaminated"] == 1
    assert out["s1"]["n_train"] == 1 and out["s1"]["n_contaminated"] == 1


# -------------------------------------------------------------- substring dedup


def test_substring_dedup_planted_repeat(spark):
    span = " ".join("s%d" % i for i in range(15))
    rows = [
        (1, "a", span + " unique tail of doc one"),
        (2, "a", "doc two starts here then " + span),
        (3, "b", " ".join("z%d" % i for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in cur.substring_dedup_report(df).collect()}
    # the planted span occurs in docs 1 and 2 (one occurrence each)
    assert out["a"]["n_dup_docs"] == 2
    assert out["a"]["n_dup_occurrences"] == 2
    assert out["b"]["n_dup_docs"] == 0 and out["b"]["n_dup_occurrences"] == 0


def test_substring_dedup_within_doc_repeat(spark):
    # the same 15-token window occurring TWICE in one doc is a duplicate too
    span = " ".join("r%d" % i for i in range(15))
    df = spark.createDataFrame(
        [(1, "a", span + " mid " + span)],
        "doc_id long, source string, text string")
    out = cur.substring_dedup_report(df).collect()[0]
    assert out["n_dup_docs"] == 1 and out["n_dup_occurrences"] >= 2


# --------------------------------------------------------------- domain mixing


def test_mix_hash_matches_python(spark):
    ids = list(range(0, 2000, 7))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["h"] for r in df.select(
        "doc_id", cur.mix_hash(F.col("doc_id")).alias("h")).collect()}
    for i in ids:
        assert got[i] == (i * 2654435761) % 4294967296 % 1000


def test_domain_mix_report_targets_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {r["source"]: r for r in cur.domain_mix_report(docs).collect()}
    for src, r in out.items():
        n = int(src.replace("src", ""))
        assert r["target_permille"] == (n % 4 + 1) * 250
        assert 0 <= r["n_kept"] <= r["n_docs"]
        if r["target_permille"] == 1000:
            assert r["n_kept"] == r["n_docs"]
    # deterministic: a second run keeps the identical documents
    again = {r["source"]: r for r in cur.domain_mix_report(docs).collect()}
    assert {s: r["n_kept"] for s, r in out.items()} == \
           {s: r["n_kept"] for s, r in again.items()}


# ------------------------------------------------------------ substring spans


def test_substring_spans_merges_consecutive_windows(spark):
    # duplicated 20-token run -> positions 1..6 (window 15) merge to one
    # span of length 20 in each doc
    run = " ".join("q%d" % i for i in range(20))
    df = spark.createDataFrame(
        [(1, "a", run + " tail one extra words here"),
         (2, "a", "prefix z " + run)],
        "doc_id long, source string, text string")
    spans = {(r["doc_id"]): (r["span_start"], r["span_len"])
             for r in cur.substring_spans(df).collect()}
    assert spans[1] == (1, 20)
    assert spans[2] == (3, 20)  # after 2-token prefix


def test_substring_spans_separate_islands(spark):
    span_a = " ".join("a%d" % i for i in range(15))
    span_b = " ".join("b%d" % i for i in range(15))
    gap = " ".join("g%d" % i for i in range(5))
    df = spark.createDataFrame(
        [(1, "s", span_a + " " + gap + " " + span_b),
         (2, "s", span_a), (3, "s", span_b)],
        "doc_id long, source string, text string")
    got = sorted((r["doc_id"], r["span_start"], r["span_len"])
                 for r in cur.substring_spans(df).collect())
    # doc 1: two islands (pos 1 and pos 21), each exactly 15 tokens
    assert got == [(1, 1, 15), (1, 21, 15), (2, 1, 15), (3, 1, 15)]


# ------------------------------------------- Gopher repetition n-gram rules


def _py_ngrams(tk, n):
    return [" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)]


def _py_top(tk, n):
    from collections import Counter
    c = Counter(_py_ngrams(tk, n))
    return max((v * (len(g) - (n - 1)) for g, v in c.items()), default=0)


def _py_dup(tk, n):
    from collections import Counter
    c = Counter(_py_ngrams(tk, n))
    return sum(v * (len(g) - (n - 1)) for g, v in c.items() if v >= 2)


REP_TEXTS = [
    (0, "s", "the cat sat on the cat sat again and the cat sat"),
    (1, "s", "one two three four five six seven eight nine ten"),
    (2, "s", "ha ha ha ha ha ha ha ha"),
    (3, "s", ""),
    (4, "s", "word"),
    (5, "t", "alpha beta alpha beta alpha beta gamma delta epsilon zeta eta"),
]


def test_ngram_char_folds_match_python(spark):
    df = spark.createDataFrame(REP_TEXTS, "doc_id long, source string, text string")
    from bigvectorbench_spark.functions import text as tx
    import pyspark.sql.functions as F

    work = df.select("doc_id", tx.tokens(F.col("text")).alias("tk")).select(
        "doc_id",
        cur.token_hashes(F.col("tk")).alias("th"),
        F.transform(F.col("tk"), lambda w: F.length(w)).alias("lens"),
    )
    for n in (2, 3, 5, 10):
        got = {r["doc_id"]: (r["top"], r["dup"]) for r in work.select(
            "doc_id",
            cur.top_ngram_chars(F.col("th"), F.col("lens"), n).alias("top"),
            cur.dup_ngram_chars(F.col("th"), F.col("lens"), n).alias("dup"),
        ).collect()}
        for i, _, t in REP_TEXTS:
            tk = [w for w in t.lower().split() if w]
            assert got[i] == (_py_top(tk, n), _py_dup(tk, n)), (i, n)


def test_gopher_repetition_report(spark):
    df = spark.createDataFrame(REP_TEXTS, "doc_id long, source string, text string")
    rows = {r["source"]: r for r in
            cur.gopher_repetition_report(df).collect()}
    # doc 2 ("ha" x8): every rule fires (all char mass is repeated);
    # doc 1 (all distinct): no rule fires; docs 3/4 (no n-grams): pass.
    s = rows["s"]
    assert s["n_docs"] == 5
    assert s["n_fail_top2"] >= 1 and s["n_fail_dup5"] >= 1
    # doc 1, 3, 4 pass every rule; doc 2 fails all; doc 0 fails some
    assert 2 <= s["n_pass"] <= 4
    t = rows["t"]
    # "alpha beta" x3: top-2-gram mass 30 chars of 51 -> fail_top2
    assert t["n_fail_top2"] == 1
    # verify one exact counter against python thresholds end-to-end
    tk = [w for w in REP_TEXTS[5][2].split() if w]
    tot = sum(len(w) for w in tk)
    assert (_py_top(tk, 2) / tot > 0.20) == bool(t["n_fail_top2"])


def test_gopher_arrow_matches_expr(spark):
    """The vectorized numpy kernel (default) and the whole-stage-codegen
    fold form (the declared oracle shape) emit bit-identical per-group
    counts — including the edge shapes that stress the kernel's flat-array
    bookkeeping: empty / whitespace-only / NULL text, single-token docs
    (no windows at any n), tab/newline separators (Java-\\s split), and
    multi-byte tokens (char length, not byte length)."""
    rows = REP_TEXTS + [
        (6, "u", None),
        (7, "u", "   "),
        (8, "u", "x\ty\nz  x y z x y z"),
        (9, "u", "Ω λ Ω λ Ω λ Ω λ"),
        (10, "u", "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = cur.gopher_repetition_report(df, method="arrow").orderBy("source")
    e = cur.gopher_repetition_report(df, method="expr").orderBy("source")
    assert a.columns == e.columns
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in e.collect()]


def test_gopher_quality_arrow_matches_expr(spark):
    """Kernel vs codegen-fold parity for the four base Gopher rules, on
    docs that straddle each threshold: under/over token bounds, avg word
    length at the boundary, stopword presence, repetition occupancy."""
    rows = [
        (0, "s", "the cat sat on the mat and then the cat sat again " * 6),
        (1, "s", "aa " * 60),                       # no stopwords, awl 2.0
        (2, "s", "ha ha ha ha ha ha ha ha"),        # rep 1.0, short
        (3, "s", ""),
        (4, "t", None),
        (5, "t", "supercalifragilistic " * 55),     # awl > 10
        (6, "t", " ".join(f"w{i}" for i in range(49)) + " the and"),  # 51 tk
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = cur.gopher_quality_report(df, method="arrow").orderBy("source")
    e = cur.gopher_quality_report(df, method="expr").orderBy("source")
    assert a.columns == e.columns
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in e.collect()]


def test_decontaminate_report_counts(spark):
    """Contaminated counts per group, including the no-contamination and
    the empty-eval-inventory (no id % 97 == 0 in range) cases."""
    run = " ".join(f"e{i}" for i in range(8))       # one 8-gram
    rows = [(0, "s", f"eval doc with marker {run} end"),       # eval (0%97)
            (1, "s", f"train sharing {run} yes"),              # contaminated
            (2, "s", "train clean text " + " ".join(f"c{i}" for i in range(9))),
            (3, "t", f"also has {run} inside padding words"),  # contaminated
            (4, "t", "short"),                                 # no 8-gram
            (5, "t", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = [tuple(r) for r in cur.decontaminate_report(df).orderBy("source").collect()]
    assert got == [("s", 2, 1), ("t", 3, 1)]
    # empty eval inventory: ids shifted so none hit id % 97 == 0
    df2 = df.withColumn("doc_id", F.col("doc_id") + 1)
    got2 = [tuple(r) for r in cur.decontaminate_report(df2).orderBy("source").collect()]
    assert got2 == [("s", 3, 0), ("t", 3, 0)]


# ------------------------------------------------- substring rewrite (apply)


def test_substring_rewrite_keeps_one_copy(spark):
    """Two docs share a 15-token run: the lowest-(doc_id, pos) occurrence
    survives, the other is cut; unrelated text is untouched."""
    run = " ".join(f"r{i}" for i in range(15))
    rows = [
        (0, f"intro words here {run} tail zero"),
        (1, f"other beginning {run} different ending"),
        (2, "completely unrelated document with no repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           cur.substring_rewrite(df, window=15).collect()}
    # doc 0 holds the canonical copy: nothing cut
    assert got[0]["n_cut"] == 0
    assert got[0]["text_clean"] == rows[0][1].lower()
    # doc 1 loses exactly the 15 shared tokens
    assert got[1]["n_cut"] == 15
    assert got[1]["text_clean"] == "other beginning different ending"
    assert got[2]["n_cut"] == 0
    assert got[2]["n_tokens"] == 8


def test_substring_rewrite_within_doc_repeat(spark):
    """A doc repeating its own 15-token run keeps the first occurrence."""
    run = " ".join(f"x{i}" for i in range(15))
    df = spark.createDataFrame(
        [(5, f"{run} middle {run}")], "doc_id long, text string")
    r = cur.substring_rewrite(df, window=15).collect()[0]
    assert r["n_tokens"] == 31
    assert r["n_cut"] == 15
    assert r["text_clean"] == f"{run} middle"


def test_substring_rewrite_overlapping_windows_merge(spark):
    """A 17-token repeated run produces 3 overlapping duplicated windows
    in the copy; their covered positions union to exactly 17 cut tokens."""
    run = " ".join(f"y{i}" for i in range(17))
    df = spark.createDataFrame(
        [(0, f"{run} uniquezero"), (1, f"prefixone {run}")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           cur.substring_rewrite(df, window=15).collect()}
    assert got[0]["n_cut"] == 0
    assert got[1]["n_cut"] == 17
    assert got[1]["text_clean"] == "prefixone"


def test_substring_rewrite_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(0, "short doc"), (1, "")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           cur.substring_rewrite(df, window=15).collect()}
    assert got[0] == got[0].__class__(doc_id=0, n_tokens=2, n_cut=0,
                                      text_clean="short doc")
    assert got[1]["n_tokens"] == 0 and got[1]["text_clean"] == ""


def test_rolling_window_hashes_match_python(spark):
    """The rolling fold (seeded with the first token hash, acc*P + x mod M)
    must reproduce an independent Python implementation bit-for-bit."""
    import pyspark.sql.functions as F
    from bigvectorbench_spark.functions import text as tx

    texts = ["the quick brown fox jumps over the lazy dog",
             "a b", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["whs"] for r in df.select(
        "doc_id", tx.tokens(F.col("text")).alias("tk")
    ).select(
        "doc_id", cur.token_hashes(F.col("tk")).alias("th")
    ).select(
        "doc_id", cur.rolling_window_hashes(F.col("th"), 4).alias("whs")
    ).collect()}

    def py(text, n):
        tk = [w for w in text.lower().split() if w]
        th = [_hash60(w) % (1 << 40) for w in tk]
        out = []
        for i in range(len(th) - n + 1):
            acc = th[i]
            for x in th[i + 1:i + n]:
                acc = (acc * 4093 + x) % (1 << 41)
            out.append(acc)
        return out

    for i, t in enumerate(texts):
        assert got[i] == py(t, 4), i


# --------------------------------------------------------------- C4 cleaning


def test_c4_clean_line_rules(spark):
    """Each per-line rule in isolation: terminal punctuation, >=5 words,
    no 'javascript' (case-insensitive)."""
    text = "\n".join([
        "this line has exactly five words.",     # kept
        "this line has no terminal punctuation", # dropped: no [.!?"] end
        "too few words here!",                   # dropped: 4 words
        "this JavaScript line would otherwise be kept.",  # dropped: js
        'a quoted line with six words total"',   # kept: quote is terminal
        "another perfectly fine sentence ends right here?",  # kept
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = cur.c4_clean(df).collect()[0]
    assert r["n_lines"] == 6
    assert r["n_kept_lines"] == 3
    assert r["status"] == "kept"
    assert r["text_clean"].splitlines() == [
        "this line has exactly five words.",
        'a quoted line with six words total"',
        "another perfectly fine sentence ends right here?",
    ]


def test_c4_page_drop_reasons_first_match_wins(spark):
    """Page-level checks in order lorem_ipsum -> brace -> too_few_lines;
    counts partition the corpus because only the first reason is
    recorded.  The phrase/char checks scan the ORIGINAL page (C4 drops
    the page even when the offending line would itself be filtered)."""
    good = "\n".join(["a sentence long enough to keep around."] * 3)
    both = good + "\nsome Lorem Ipsum boilerplate { inside }"
    brace = good + "\nvar x = { a: 1 }"
    few = "one good sentence with enough words here.\nshort line."
    df = spark.createDataFrame(
        [(1, good), (2, both), (3, brace), (4, few), (5, "")],
        "doc_id long, text string")
    st = {r["doc_id"]: r["status"] for r in cur.c4_clean(df).collect()}
    assert st == {1: "kept", 2: "lorem_ipsum", 3: "brace",
                  4: "too_few_lines", 5: "too_few_lines"}
    out = cur.c4_clean(df).filter(F.col("status") != "kept").collect()
    assert all(r["text_clean"] is None for r in out)


def test_c4_report_totals(spark):
    good = "\n".join(["a sentence long enough to keep around."] * 3)
    df = spark.createDataFrame(
        [(1, "a", good), (2, "a", "tiny."), (3, "b", good + "\n{")],
        "doc_id long, source string, text string")
    out = {r["source"]: r for r in cur.c4_line_filter_report(df).collect()}
    assert out["a"]["n_docs"] == 2 and out["a"]["n_kept_docs"] == 1
    assert out["a"]["n_too_few_lines"] == 1
    assert out["a"]["n_lines"] == 4
    assert out["a"]["n_lines_kept"] == 3
    assert out["a"]["chars_kept"] == len(good)
    assert out["b"]["n_brace"] == 1 and out["b"]["n_kept_docs"] == 0


# ----------------------------------------------------------- paragraph dedup


def test_paragraph_dedup_keep_first_across_docs(spark):
    """Keep-first is global (doc_id, position) order regardless of
    DataFrame row order: the repeated paragraph survives only in the
    lowest-keyed occurrence."""
    df = spark.createDataFrame(
        [(7, "shared paragraph text\nunique to seven"),
         (3, "unique to three\nshared paragraph text")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in cur.paragraph_dedup(df).collect()}
    assert out[3]["n_dup_removed"] == 0
    assert out[3]["text_clean"] == "unique to three\nshared paragraph text"
    assert out[7]["n_dup_removed"] == 1
    assert out[7]["chars_removed"] == len("shared paragraph text")
    assert out[7]["text_clean"] == "unique to seven"


def test_paragraph_dedup_within_doc_repeats(spark):
    df = spark.createDataFrame(
        [(1, "same para\nsame para\nother para\nsame para")],
        "doc_id long, text string")
    r = cur.paragraph_dedup(df).collect()[0]
    assert (r["n_paras"], r["n_dup_removed"]) == (4, 2)
    assert r["text_clean"] == "same para\nother para"
    assert r["chars_removed"] == 2 * len("same para")


def test_paragraph_dedup_all_dups_yields_empty(spark):
    df = spark.createDataFrame(
        [(1, "only para"), (2, "only para")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in cur.paragraph_dedup(df).collect()}
    assert out[1]["text_clean"] == "only para"
    assert out[2]["text_clean"] == "" and out[2]["n_dup_removed"] == 1


def test_paragraph_dedup_report_totals(spark):
    df = spark.createDataFrame(
        [(1, "a", "p one\np two"), (2, "a", "p two\np three"),
         (3, "b", "p one\np one")],
        "doc_id long, source string, text string")
    out = {r["source"]: r
           for r in cur.paragraph_dedup_report(df).collect()}
    assert out["a"]["n_paras"] == 4 and out["a"]["n_dup_paras"] == 1
    assert out["a"]["n_docs_affected"] == 1
    # dedup is corpus-wide: doc 1 (source a) holds the first "p one", so
    # BOTH of doc 3's copies are later occurrences
    assert out["b"]["n_dup_paras"] == 2
    assert out["b"]["chars_removed"] == 2 * len("p one")
    assert out["b"]["n_docs_affected"] == 1


# ------------------------------------------------------- temperature sampling


def test_temperature_sample_exact_arithmetic(spark):
    """Rates reproduce the exact integer formula; the keep count matches
    a Python recomputation of the Knuth ppm hash."""
    import math

    groups = {"big": 400, "mid": 100, "tiny": 25}
    rows = []
    i = 0
    for g, n in groups.items():
        for _ in range(n):
            rows.append((i, g))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r
           for r in cur.temperature_sample_report(df).collect()}
    wu = {g: math.floor(math.sqrt(n) * 1000) for g, n in groups.items()}
    t_wu, t_n = sum(wu.values()), sum(groups.values())
    t_target = (t_n * 500) // 1000
    for g, n in groups.items():
        p = min(10**6, (t_target * wu[g] * 10**6) // (t_wu * n))
        assert out[g]["n_docs"] == n
        assert out[g]["wu"] == wu[g]
        assert out[g]["p_ppm"] == p, g
        kept = sum(1 for d, gg in rows
                   if gg == g and ((d * 2654435761) % 2**32) % 10**6 < p)
        assert out[g]["n_kept"] == kept, g
    # temperature flattens the mixture: the small domain keeps a larger
    # FRACTION than the big one
    assert (out["tiny"]["p_ppm"] > out["mid"]["p_ppm"]
            > out["big"]["p_ppm"])


def test_temperature_sample_stable_under_append(spark):
    """Hash determinism: documents kept from the original corpus remain
    kept when the corpus is re-sampled after appending a NEW group (their
    group's rate is unchanged if counts are unchanged)."""
    base = [(i, "a") for i in range(100)] + [(i + 100, "b") for i in range(100)]
    extra = [(i + 200, "c") for i in range(100)]
    df1 = spark.createDataFrame(base, "doc_id long, source string")
    df2 = spark.createDataFrame(base + extra, "doc_id long, source string")
    r1 = {r["source"]: r for r in cur.temperature_sample_report(df1).collect()}
    r2 = {r["source"]: r for r in cur.temperature_sample_report(df2).collect()}
    # equal-sized groups get equal rates; a/b rates identical in both runs
    # (t_target and t_wu scale together for identical group sizes)
    assert r1["a"]["p_ppm"] == r1["b"]["p_ppm"]
    assert r2["a"]["p_ppm"] == r2["b"]["p_ppm"] == r2["c"]["p_ppm"]
    assert r1["a"]["p_ppm"] == r2["a"]["p_ppm"]
    assert r1["a"]["n_kept"] == r2["a"]["n_kept"]


def test_epoch_oversample_row_stream(spark):
    """The exploded copy stream matches the integer arithmetic exactly:
    floor(e) copies per doc plus one more when the Knuth-hash ppm draw
    beats frac(e); copy_id is 0-based and dense."""
    from bigvectorbench_spark.operators.curation import epoch_oversample

    rows = [(i, f"src{s}", "t") for i in range(60) for s in (0, 1, 2, 3)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {}
    for r in epoch_oversample(df).collect():
        got.setdefault((r["doc_id"], r["source"]), []).append(r["copy_id"])
    for (i, src), copies in got.items():
        n = int(src[-1])
        e = 1_000_000 + (n % 4) * 500_000
        h = ((i * 2654435761) % 4294967296) % 1_000_000
        want = e // 1_000_000 + (1 if h < e % 1_000_000 else 0)
        assert sorted(copies) == list(range(want)), (i, src)
    # every (doc, source) with >= 1 copy appears; here e >= 1.0 for all
    assert len(got) == len(rows)


def test_epoch_oversample_zero_copy_docs_drop(spark):
    """epochs < 1: losing docs emit no rows, winners exactly one."""
    from pyspark.sql import functions as F
    from bigvectorbench_spark.operators.curation import epoch_oversample

    df = spark.createDataFrame([(i, "s", "t") for i in range(1000)],
                               "doc_id long, source string, text string")
    out = epoch_oversample(df, epochs_ppm=F.lit(250_000)).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))  # at most one copy each
    assert all(r["copy_id"] == 0 for r in out)
    assert 0 < len(ids) < 1000  # a proper subset kept
    want = {i for i in range(1000)
            if ((i * 2654435761) % 4294967296) % 1_000_000 < 250_000}
    assert set(ids) == want


def test_epoch_mix_report_matches_stream(spark):
    """The pre-explode audit equals counts taken over the materialized
    copy stream — the report never replicates rows to count them."""
    from bigvectorbench_spark.operators.curation import (
        epoch_mix_report, epoch_oversample)

    rows = [(i, f"src{i % 4}", "t") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rep = {r["source"]: r for r in epoch_mix_report(df).collect()}
    stream = epoch_oversample(df).collect()
    for src, r in rep.items():
        emitted = [x for x in stream if x["source"] == src]
        assert r["n_emitted"] == len(emitted)
        assert r["n_docs"] == 50
        full = r["epochs_ppm"] // 1_000_000
        assert r["n_extra"] == sum(
            1 for x in emitted if x["copy_id"] == full)
