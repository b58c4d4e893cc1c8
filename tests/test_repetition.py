"""Gopher repetition signals + n-gram decontamination — closed-form
cases, a Python-reference differential, edge docs (empty / null /
single word), and the scale-shape plan guards (repetition: zero
shuffle zero Python; decontaminate: broadcast-only joins, no corpus
hash shuffle). The driver oracles (``repetition_stats_documents``,
``decontaminate_documents``) pin value parity with DuckDB at sf0.01.
"""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from json_schema_spark.operators.decontaminate import decontaminate
from json_schema_spark.operators.repetition import (
    GOPHER_THRESHOLDS,
    gopher_repetition_filter,
    repetition_features,
)


def _py_signals(text):
    lines = (text or "").split("\n")
    dl = set(lines)
    line_chars = sum(map(len, lines))
    dchars = sum(map(len, dl))
    norm = re.sub(r"\s+", " ", (text or "").lower()).strip()
    words = [w for w in norm.split(" ") if w]
    out = {
        "dup_line_frac": (len(lines) - len(dl)) / len(lines) if lines else 0.0,
        "dup_line_char_frac": (line_chars - dchars) / line_chars
        if line_chars else 0.0,
    }

    def grams(k):
        if len(words) < k:
            return []
        return [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]

    for k in (2, 3, 4):
        c = Counter(grams(k))
        top = max((cnt * len(g) for g, cnt in c.items()), default=0)
        out[f"top_{k}gram_char_frac"] = top / len(norm) if norm else 0.0
    for k in (5, 6, 7, 8, 9, 10):
        c = Counter(grams(k))
        dup = sum((cnt - 1) * len(g) for g, cnt in c.items() if cnt > 1)
        out[f"dup_{k}gram_char_frac"] = dup / len(norm) if norm else 0.0
    return out


CASES = [
    "a b c a b c a b c",
    "the quick brown fox jumps over the lazy dog",
    "x\nx\nx\ny",
    "",
    "word",
    None,
    "foo bar foo bar baz\nfoo bar foo bar baz",
    "one two three four five six seven eight nine ten " * 3,
    "same same same same same same",
    "Tabs\tand  runs   of spaces\nTabs\tand  runs   of spaces",
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(CASES)), "doc_id int, text string")


def test_signals_match_python_reference(docs):
    got = {r["doc_id"]: r.asDict() for r in repetition_features(docs).collect()}
    for i, text in enumerate(CASES):
        exp = _py_signals(text)
        for name, v in exp.items():
            assert got[i][name] == pytest.approx(v, abs=1e-12), (i, name, text)


def test_closed_form_pathological_doc(spark):
    # "a b c" repeated 3x: every distinct 3-gram of the 7 total occurs
    # >1 times except none — top 3-gram "a b c" (len 5) occurs 3x over
    # norm len 17
    df = spark.createDataFrame([(1, "a b c a b c a b c")],
                               "doc_id int, text string")
    r = repetition_features(df).collect()[0]
    assert r["top_3gram_char_frac"] == pytest.approx(3 * 5 / 17)
    # 5-grams: 5 total, "a b c a b"x2? occurrences: positions 0..4 →
    # [abcab, bcabc, cabca, abcab, bcabc] → two grams duplicated once
    # each → dup chars = 2 * 9
    assert r["dup_5gram_char_frac"] == pytest.approx(2 * 9 / 17)


def test_filter_drops_repetitive_keeps_clean(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         # long enough that a single n-gram occurrence is a small
         # char fraction (Gopher's thresholds assume web-length docs)
         (2, "a perfectly ordinary paragraph with varied words and no "
             "repeated phrasing anywhere in it at all because every clause "
             "introduces fresh vocabulary about weather gardening music "
             "history chemistry travel cooking carpentry astronomy and "
             "several other unrelated topics for good measure")],
        "doc_id int, text string")
    kept = [r.doc_id for r in gopher_repetition_filter(df).collect()]
    assert kept == [2]
    # schema preserved by default, signals kept on demand
    assert gopher_repetition_filter(df).columns == ["doc_id", "text"]
    assert "dup_line_frac" in gopher_repetition_filter(
        df, keep_signals=True).columns


def test_features_replace_existing_signal_columns(docs):
    # a keep_signals=True output fed back in: each signal stays one
    # column with the recomputed value, and a caller column named like
    # the temp struct survives untouched
    fed = gopher_repetition_filter(
        docs, thresholds=dict.fromkeys(GOPHER_THRESHOLDS, 1.0), keep_signals=True)
    fed = fed.withColumn("__jss_rep_sig", F.col("doc_id") * 10)
    out = repetition_features(fed)
    assert len(out.columns) == len(set(out.columns))
    assert set(out.columns) == set(fed.columns)
    for r in out.collect():
        assert r["__jss_rep_sig"] == r["doc_id"] * 10
        exp = _py_signals(CASES[r["doc_id"]])
        for name, v in exp.items():
            assert r[name] == pytest.approx(v, abs=1e-12), (r["doc_id"], name)


def test_filter_threshold_subset(spark):
    df = spark.createDataFrame([(1, "x\nx\nx\nx\ny z w v u t s")],
                               "doc_id int, text string")
    all_kept = gopher_repetition_filter(
        df, thresholds={"top_2gram_char_frac": 0.99})
    assert all_kept.count() == 1
    none_kept = gopher_repetition_filter(df, thresholds={"dup_line_frac": 0.1})
    assert none_kept.count() == 0


def test_repetition_plan_is_one_projection(docs):
    plan = repetition_features(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_decontaminate_flags_and_removes(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally clean document with other words"),
         (3, "prefix alpha beta gamma delta epsilon suffix"),
         (4, None),
         (5, "short")],
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [(9, "xx alpha beta gamma delta epsilon yy")], "qid int, text string")
    out = {r.doc_id: (r.contaminated, r.n_contaminated_grams)
           for r in decontaminate(docs, bench, n=5).collect()}
    assert out == {1: (True, 1), 2: (False, 0), 3: (True, 1),
                   4: (False, 0), 5: (False, 0)}
    kept = sorted(r.doc_id for r in
                  decontaminate(docs, bench, n=5, mode="remove").collect())
    assert kept == [2, 4, 5]


def test_decontaminate_counts_distinct_grams_once(spark):
    # the same benchmark gram appearing twice in one doc counts once
    docs = spark.createDataFrame(
        [(1, "a b c d e x a b c d e")], "doc_id int, text string")
    bench = spark.createDataFrame([(9, "a b c d e")], "qid int, text string")
    r = decontaminate(docs, bench, n=5).collect()[0]
    assert (r.contaminated, r.n_contaminated_grams) == (True, 1)


def test_decontaminate_normalizes_case_and_whitespace(spark):
    docs = spark.createDataFrame(
        [(1, "Alpha   BETA\tgamma\nDelta epsilon")], "doc_id int, text string")
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon")], "qid int, text string")
    assert decontaminate(docs, bench, n=5).collect()[0].contaminated is True


def test_decontaminate_plan_has_no_corpus_shuffle(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f") for i in range(50)],
        "doc_id int, text string")
    bench = spark.createDataFrame([(9, "a b c d e f")], "qid int, text string")
    out = decontaminate(docs, bench, n=5)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints final + initial plan; judge the final one only
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    # the only hash exchanges allowed are the benchmark gram distinct
    # and the matched-rows groupBy (both small by construction); the
    # corpus reaches every join via broadcast, never via shuffle
    assert plan.count("Exchange hashpartitioning(doc_id") == 0
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan
    with pytest.raises(ValueError):
        decontaminate(docs, bench, mode="purge")
