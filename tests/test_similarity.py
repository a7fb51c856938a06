"""Scalar similarity functions X1-X10 vs hand-computed values (SURVEY.md
§2.7), including the tokenizer's stopword/len<=1 rules, the date direction
gate, and the numeric bug-fix; plus the Spark column form (similarity_col)
and the canonicalization join end-to-end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.config import LITERAL, SimilarityGroup
from graph_embeddings_spark.functions.similarity import (
    date_similarity_py,
    jaro_winkler_py,
    make_metric,
    ngram_jaccard_py,
    normalized_levenshtein_py,
    numeric_similarity_py,
    similarity_col,
    token_cosine_py,
    token_jaccard_py,
    tokenize_py,
)
from graph_embeddings_spark.graph.canonicalize import _STRING_METRICS, similarity_pairs


# ---------------------------------------------------------------------------
# Tokenizer (TokenBased.java:13-18,43-48): space split, len<=1 and the
# 22-word stoplist dropped, case-SENSITIVE
# ---------------------------------------------------------------------------

def test_tokenizer_rules():
    assert tokenize_py("the quick brown fox") == ["quick", "brown", "fox"]
    assert tokenize_py("a I x yz") == ["yz"]  # len<=1 dropped
    assert tokenize_py("The THE the") == ["The", "THE"]  # case-sensitive stoplist
    assert tokenize_py("") == []


def test_token_jaccard_hand():
    # profiles {quick,fox} vs {quick,dog}: |∩|=1 |∪|=3
    assert token_jaccard_py("the quick fox", "quick dog") == pytest.approx(1 / 3)
    assert token_jaccard_py("same string", "same string") == 1.0
    assert token_jaccard_py("", "") == 1.0  # s1 == s2 short-circuit
    assert token_jaccard_py("a", "b") == 0.0  # both tokenize empty


def test_token_cosine_hand():
    # "dog dog cat" -> {dog:2, cat:1}; "dog cat" -> {dog:1, cat:1}
    # cos = (2+1)/(sqrt(5)*sqrt(2))
    assert token_cosine_py("dog dog cat", "dog cat") == pytest.approx(3 / (5**0.5 * 2**0.5))


def test_ngram_jaccard_hand():
    # 2-shingles: "abc" -> {ab, bc}; "abd" -> {ab, bd}: 1/3
    assert ngram_jaccard_py("abc", "abd", 2) == pytest.approx(1 / 3)
    # whitespace collapsed before shingling
    assert ngram_jaccard_py("a  b", "a b", 2) == 1.0


def test_levenshtein_hand():
    assert normalized_levenshtein_py("kitten", "sitting") == pytest.approx(1 - 3 / 7)
    assert normalized_levenshtein_py("", "") == 1.0
    assert normalized_levenshtein_py("abc", "") == 0.0


def test_jaro_winkler_hand():
    # classic value: JW(MARTHA, MARHTA) = 0.961111
    assert jaro_winkler_py("MARTHA", "MARHTA") == pytest.approx(0.961111, abs=1e-5)
    # below the 0.7 boost threshold -> plain jaro returned
    assert jaro_winkler_py("abc", "xyz") == 0.0


def test_numeric_similarity():
    """(||a-b|-distance|+1)^(smooth-1); datatype suffix stripped on BOTH
    sides (the reference's Numeric.java:30 strips s2 based on s1's index —
    a bug we deliberately fix, SURVEY.md §7)."""
    assert numeric_similarity_py("10", "13", smooth=0.5) == pytest.approx(4 ** -0.5)
    assert numeric_similarity_py("10^^xsd:int", "13^^http://x", smooth=0.5) == pytest.approx(4 ** -0.5)
    assert numeric_similarity_py("x", "3") == 0.0
    assert numeric_similarity_py("7", "7") == 1.0
    # distance shifts the optimum: |a-b|=5 with distance=5 -> sim 1
    assert numeric_similarity_py("10", "15", smooth=0.5, distance=5.0) == pytest.approx(1.0)
    # operands must fit int64, as the shipping try_cast('long') requires
    assert numeric_similarity_py(str(2**63 - 1), str(2**63 - 2)) == pytest.approx(2 ** -0.5)
    assert numeric_similarity_py(str(2**63), "1") == 0.0
    assert numeric_similarity_py("1", str(-(2**63) - 1)) == 0.0


def test_date_similarity_units_and_gate():
    # BASIC_ISO_DATE yyyyMMdd (Date.java:24); 3 days apart, smooth 0.5
    assert date_similarity_py("20200101", "20200104", "days", 0.5) == pytest.approx(4 ** -0.5)
    # months: Jan 15 -> Mar 14 is 1 whole month; Mar 15 is 2
    assert date_similarity_py("20200115", "20200314", "months", 0.5) == pytest.approx(2 ** -0.5)
    assert date_similarity_py("20200115", "20200315", "months", 0.5) == pytest.approx(3 ** -0.5)
    # direction gate (Date.java:52-59): backwards zeroes d1>d2
    assert date_similarity_py("20200104", "20200101", "days", 0.5, time_direction="backwards") == 0.0
    assert date_similarity_py("20200101", "20200104", "days", 0.5, time_direction="backwards") == pytest.approx(4 ** -0.5)
    # parse failure -> 0 (Date.java:62-64)
    assert date_similarity_py("not-a-date", "20200101", "days", 0.5) == 0.0


def test_make_metric_binding():
    m = make_metric("ngram_jaccard", ngram=2)
    assert m("abc", "abd") == pytest.approx(1 / 3)
    m2 = make_metric("date_years", smooth=0.5, pattern="iso", time="bidirectional")
    assert m2("20000601", "20030601") == pytest.approx(4 ** -0.5)


# ---------------------------------------------------------------------------
# similarity_col (the one column form) matches the Python scalars
# ---------------------------------------------------------------------------

_METRIC_STRINGS = [
    "International Business Machines",
    "Internat. Business Machines",
    "alpha beta beta gamma",      # repeated token -> count profile matters
    "alpha beta",
    "the of and a",               # all stopwords -> empty profile
    "xy",                         # short tokens dropped -> empty token set
    "",
    "same same same",
    "kitten",
    "sitting",
]


def test_column_forms_match_python(spark):
    """Every string metric's column form (codegen for levenshtein, the
    Arrow UDF for the rest) equals its scalar on count profiles, empty
    profiles, empty strings and equal pairs."""
    from itertools import combinations

    methods = sorted(_STRING_METRICS)
    pairs = list(combinations(_METRIC_STRINGS, 2)) + [(s, s) for s in _METRIC_STRINGS]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.select(
        "a", "b", *[similarity_col(m, F.col("a"), F.col("b")).alias(m) for m in methods]
    ).collect()
    for r in got:
        for m in methods:
            want = make_metric(m)(r["a"], r["b"])
            assert r[m] == pytest.approx(want, abs=1e-12), (m, r["a"], r["b"])


# ---------------------------------------------------------------------------
# Canonicalization end-to-end (J1): LSH/blocked candidates + exact rescore
# ---------------------------------------------------------------------------

def _lit_nodes(spark, labels, pred="p:name"):
    rows = [(i, lab, LITERAL, pred) for i, lab in enumerate(labels)]
    return spark.createDataFrame(
        rows, "node_id long, label string, node_type tinyint, pred_ctx string"
    )


def test_similarity_pairs_same_predicate(spark):
    labels = [
        "International Business Machines",
        "Internat. Business Machines",
        "Apple Computer Inc",
        "Aple Computer Inc",
        "totally unrelated thing",
    ]
    nodes = _lit_nodes(spark, labels)
    group = SimilarityGroup("p:name", "p:name", method="ngram_jaccard", threshold=0.5, ngram=3)
    got = {(r["a"], r["b"]) for r in similarity_pairs(nodes, group).collect()}
    assert (0, 1) in got
    assert (2, 3) in got
    assert all(4 not in p for p in got)


def test_similarity_pairs_threshold_respected(spark):
    labels = ["alpha beta gamma", "alpha beta delta", "epsilon zeta"]
    nodes = _lit_nodes(spark, labels)
    group = SimilarityGroup("p:name", "p:name", method="token_jaccard", threshold=0.49)
    got = {(r["a"], r["b"]): r["sim"] for r in similarity_pairs(nodes, group).collect()}
    assert got[(0, 1)] == pytest.approx(0.5)  # {alpha,beta} of 4 distinct
    assert (0, 2) not in got


def test_similarity_pairs_numeric_group(spark):
    labels = ["100", "103", "2000", "not-a-number"]
    nodes = _lit_nodes(spark, labels, pred="p:year")
    group = SimilarityGroup(
        "p:year", "p:year", method="numeric", threshold=0.4, smooth=0.5
    )
    got = {(r["a"], r["b"]): r["sim"] for r in similarity_pairs(nodes, group).collect()}
    # |100-103|: sim = 4^-0.5 = 0.5 >= 0.4 ✓; 100 vs 2000 way below
    assert got[(0, 1)] == pytest.approx(0.5)
    assert (0, 2) not in got


def test_similarity_edges_bidirectional(spark):
    from graph_embeddings_spark.graph.materialize import similarity_edges

    pairs = spark.createDataFrame([(1, 2, 0.9)], "a long, b long, sim double")
    got = similarity_edges(pairs).collect()
    assert len(got) == 2
    assert {(r["src"], r["dst"]) for r in got} == {(1, 2), (2, 1)}
    assert all(r["etype"] == 0 and abs(r["weight"] - 0.9) < 1e-6 for r in got)


# ---------------------------------------------------------------------------
# Cosine twins (X4/X6/X8) through similarity_col vs the scalars
# ---------------------------------------------------------------------------

def _metric_pairs():
    from itertools import combinations

    return list(combinations(_METRIC_STRINGS, 2)) + [(s, s) for s in _METRIC_STRINGS]


def test_token_cosine_col_matches_scalar(spark):
    df = spark.createDataFrame(_metric_pairs(), "a string, b string")
    got = df.select(
        "a", "b", similarity_col("token_cosine", F.col("a"), F.col("b")).alias("s")
    ).collect()
    for r in got:
        assert r["s"] == pytest.approx(token_cosine_py(r["a"], r["b"]), abs=1e-12), (r["a"], r["b"])


def test_ngram_cosine_col_matches_scalar(spark):
    """The ngram width reaches the column form: k=2 and k=3 each match
    the scalar at that width."""
    from graph_embeddings_spark.functions.similarity import ngram_cosine_py

    df = spark.createDataFrame(_metric_pairs(), "a string, b string")
    got = df.select(
        "a", "b",
        *[similarity_col("ngram_cosine", F.col("a"), F.col("b"), ngram=k).alias(f"s{k}")
          for k in (2, 3)],
    ).collect()
    for r in got:
        for k in (2, 3):
            want = ngram_cosine_py(r["a"], r["b"], k)
            assert r[f"s{k}"] == pytest.approx(want, abs=1e-12), (k, r["a"], r["b"])


# ---------------------------------------------------------------------------
# Date column form (X10) vs the scalar
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("unit", ["days", "months", "years"])
@pytest.mark.parametrize("direction", ["bidirectional", "backwards", "forwards"])
def test_date_similarity_col_matches_scalar(spark, unit, direction):
    """The date column form (similarity_col over yyyyMMdd labels) == the
    reference scalar (Date.java:31-66 semantics incl. ChronoUnit
    truncation-toward-zero and the equality-before-gate rule) on a spread
    of date pairs."""
    import random
    from datetime import date, timedelta

    rng = random.Random(7)
    base = date(1995, 6, 15)
    pairs = [(base, base)]  # equality -> 1.0 even when gated
    for _ in range(60):
        d1 = base + timedelta(days=rng.randint(-4000, 4000))
        d2 = base + timedelta(days=rng.randint(-4000, 4000))
        pairs.append((d1, d2))
    # month-boundary edge: day-of-month comparison drives the truncation
    pairs += [(date(2000, 1, 31), date(2000, 3, 1)), (date(2000, 3, 1), date(2000, 1, 31)),
              (date(2000, 1, 15), date(2001, 1, 14)), (date(2001, 1, 14), date(2000, 1, 15))]
    df = spark.createDataFrame(
        [(d1.strftime("%Y%m%d"), d2.strftime("%Y%m%d")) for d1, d2 in pairs],
        "a string, b string",
    )
    got = df.select(
        "a", "b",
        similarity_col(
            f"date_{unit}", F.col("a"), F.col("b"), smooth=0.5, distance=0.0,
            pattern="iso", time=direction,
        ).alias("s"),
    ).collect()
    for r in got:
        want = date_similarity_py(
            r["a"], r["b"], unit=unit, smooth=0.5, distance=0.0, pattern="iso",
            time_direction=direction,
        )
        assert r["s"] == pytest.approx(want, abs=1e-12), (r["a"], r["b"], unit, direction)


def test_token_blocking_recall_not_truncated(spark):
    """A pair whose 4 globally-rarest tokens are disjoint must still meet:
    token-metric blocking joins on ALL df-capped shared tokens, not a
    fixed rarest-K prefix (which silently dropped above-threshold pairs)."""
    shared = " ".join(f"common{i:02d}" for i in range(20))
    labels = [
        shared,                                                  # id 0
        shared + " rareaa rarebb rarecc raredd",                 # id 1: 4 unique rarer tokens
        "totally different thing",                               # id 2
    ]
    nodes = _lit_nodes(spark, labels)
    # jaccard(0,1) = 20/24 ≈ 0.833
    group = SimilarityGroup("p:name", "p:name", method="token_jaccard", threshold=0.8)
    got = {(r["a"], r["b"]): r["sim"] for r in similarity_pairs(nodes, group).collect()}
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(20 / 24)
    assert all(2 not in p for p in got)


def test_tokenizer_java_trim_parity():
    """Tokens carrying tabs/newlines are trimmed with Java String.trim
    semantics (strip <= U+0020), not Python's unicode str.strip."""
    a, b = "foo\tbar baz\n qux", "foo\tbar baz"
    assert tokenize_py(a) == ["foo\tbar", "baz", "qux"]
    assert token_jaccard_py(a, b) == pytest.approx(2 / 3)
    assert tokenize_py("\xa0x\xa0") == ["\xa0x\xa0"]  # NBSP is above U+0020


# ---------------------------------------------------------------------------
# _exact_rescore JVM dispatch (levenshtein/numeric/date) vs scalars
# ---------------------------------------------------------------------------

def _rescore_pairs(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long, label_a string, label_b string")


@pytest.mark.parametrize(
    "method,kw,cases",
    [
        (
            "levenshtein", {},
            [("kitten", "sitting"), ("same", "same"), ("", ""), ("", "abc"),
             ("a b\tc", "a b c")],
        ),
        (
            "numeric", {"smooth": 0.5, "threshold_distance": 2.0},
            [("100", "103"), ("5", "5"), ("5.5", "7"), ("", "9"),
             (" 42 ", "42"), ("007", "7"), ("100^^xsd:int", "103"),
             ("9999999999", "9999999998"), ("", "")],
        ),
        (
            "date_days", {"smooth": 0.5, "threshold_distance": 3.0},
            # ('20200101','2020-01-01'): second fails BASIC_ISO parse -> 0.0;
            # ('20200101','20200101'): string-equal -> 1.0 BEFORE the
            # distance formula even though distance=3 would score 2^-0.5
            [("20200101", "20200104"), ("20200101", "20200101"),
             ("20200101", "2020-01-01"), ("", "20200101"),
             ("20200301", "20200101"), ("20200101^^xsd:date", "20200401"),
             ("", "")],
        ),
        (
            "date_months", {"smooth": 0.5, "time": "backwards"},
            [("20200131", "20200301"), ("20200301", "20200131"),
             ("20200115", "20200214"), ("20200115", "20200115"), ("", "")],
        ),
        (
            "date_years", {"smooth": 0.5, "time": "forwards"},
            [("20000601", "20030601"), ("20030601", "20000601"),
             ("20000601", "20010531")],
        ),
    ],
)
def test_jvm_rescore_dispatch_matches_scalar(spark, method, kw, cases):
    """The codegen rescore (similarity_col, as _exact_rescore runs it) must
    reproduce the reference scalar clause-for-clause, including the empty
    operand -> 0.0 BEFORE string equality (so ('', '') scores 0.0,
    Date.java:38-39), string equality before parsing, unparseable -> 0.0,
    datatype-suffix stripping, and the date direction gates."""
    from graph_embeddings_spark.graph.canonicalize import _exact_rescore

    group = SimilarityGroup("p:x", "p:x", method=method, threshold=0.0, **kw)
    metric = make_metric(
        method, ngram=group.ngram, smooth=group.smooth,
        distance=group.threshold_distance, pattern=group.pattern, time=group.time,
    )
    labeled = _rescore_pairs(
        spark, [(i, i + 100, x, y) for i, (x, y) in enumerate(cases)]
    )
    scored = _exact_rescore(labeled, group)
    # dispatched plan is pure JVM: no Arrow/pandas evaluation node
    assert "ArrowEvalPython" not in scored._jdf.queryExecution().executedPlan().toString()
    for r in scored.collect():
        want = metric(r["label_a"], r["label_b"])
        assert r["sim"] == pytest.approx(want, abs=1e-9), (
            method, r["label_a"], r["label_b"], r["sim"], want)


def test_similarity_pairs_date_group_e2e(spark):
    """J1 e2e over a date group exercises value-bucket blocking + the JVM
    date rescore together (the numeric e2e twin exists above)."""
    labels = ["20200101", "20200104", "20240101", "not-a-date"]
    nodes = _lit_nodes(spark, labels, pred="p:when")
    group = SimilarityGroup(
        "p:when", "p:when", method="date_days", threshold=0.4, smooth=0.5
    )
    got = {(r["a"], r["b"]): r["sim"] for r in similarity_pairs(nodes, group).collect()}
    assert got[(0, 1)] == pytest.approx(4 ** -0.5)  # 3 days -> 4^-0.5 = 0.5
    assert all(2 not in p and 3 not in p for p in got)
