"""Property-based invariants (SURVEY.md §5.2), hypothesis-driven but batched:
each example is a whole table so Spark runs once per example, not per row."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from graph_embeddings_spark.bca.cooc import normalize_bcvs
from graph_embeddings_spark.graph.materialize import build_nodes
from graph_embeddings_spark.sources.ntriples import parse_ntriples

# each example is a Spark job: a twentieth of the profile's budget (5
# under the default ci profile)
_slow = settings(
    max_examples=max(5, settings.default.max_examples // 20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_uri = st.text(alphabet="abcdefgh/:.", min_size=1, max_size=12).map(lambda s: f"http://x/{s}")
_lit = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters='\n\r'),
    min_size=0, max_size=20,
)


_obj = st.one_of(
    st.tuples(st.just(False), _uri),
    st.tuples(st.just(True), _lit),
)


@_slow
@given(st.lists(st.tuples(_uri, _uri, _obj), min_size=1, max_size=60))
def test_ntriples_roundtrip(spark, rows):
    """format -> parse is the identity on (subj, pred, obj, kind)."""
    def fmt(s, p, obj):
        is_lit, o = obj
        if is_lit:
            esc = o.replace("\\", "\\\\").replace('"', '\\"')
            return f'<{s}> <{p}> "{esc}" .'
        return f"<{s}> <{p}> <{o}> ."

    lines = [(fmt(*r),) for r in rows]
    want = {(s, p, o, 2 if is_lit else 0) for s, p, (is_lit, o) in rows}
    got = {
        (r["subj"], r["pred"], r["obj"], r["obj_kind"])
        for r in parse_ntriples(spark.createDataFrame(lines, "value string")).collect()
    }
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(_uri, st.sampled_from(["p1", "p2", "p3"]), _lit),
        min_size=1, max_size=40,
    )
)
def test_node_id_bijective_and_consecutive(spark, rows):
    """A1: ids are a bijection onto [0, n); same (label, type, pred_ctx)
    never gets two ids; literals split per predicate."""
    triples = spark.createDataFrame(
        [(s, p, o, 2) for s, p, o in rows], "subj string, pred string, obj string, obj_kind int"
    )
    nodes = build_nodes(triples).collect()
    ids = sorted(r["node_id"] for r in nodes)
    assert ids == list(range(len(nodes)))
    keys = {(r["label"], r["node_type"], r["pred_ctx"]) for r in nodes}
    assert len(keys) == len(nodes)


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # root
            st.integers(0, 30),  # node
            st.floats(1e-4, 10.0, allow_nan=False, allow_subnormal=False),
        ),
        min_size=2, max_size=50, unique_by=lambda t: (t[0], t[1]),
    )
)
def test_unity_normalization_sums_to_one(spark, entries):
    """toUnity: per-root non-root entries sum to 1 - k*1e-6 (BCV.java:64-70)."""
    df = spark.createDataFrame(
        [(r, n, float(x)) for r, n, x in entries], "i long, j long, x double"
    )
    out = normalize_bcvs(df, "unity")
    sums = {
        r["i"]: (r["s"], r["k"])
        for r in out.groupBy("i").agg(F.sum("x").alias("s"), F.count("*").alias("k")).collect()
    }
    nonroot = {}
    for r, n, x in entries:
        if r != n:
            nonroot[r] = nonroot.get(r, 0) + 1
    for root, k in nonroot.items():
        s, kk = sums[root]
        assert kk == k
        assert abs(s - (1.0 - k * 1e-6)) < 1e-9


_esc_body = st.text(
    alphabet="ab\\tunUx0F9 ",  # backslashes forming valid AND invalid escapes
    min_size=0, max_size=12,
)
_line_kind = st.sampled_from(["lit", "iri", "dt_backslash", "garbage", "blank", "comment"])


@_slow
@given(st.lists(st.tuples(_line_kind, _esc_body), min_size=1, max_size=40))
def test_ntriples_errors_and_triples_partition_the_input(spark, specs):
    """No-silent-drops contract as a PARTITION property: every line is
    (a) ignorable (blank/comment), (b) emitted as exactly one triple, or
    (c) reported by parse_errors — never both (b) and (c), never neither.
    Exercises the shared suffix-stripped-lex predicate (_lex_of): raw
    backslash soup in the literal body must land in exactly one side, and
    a backslash confined to a datatype IRI must not shadow-report a
    clean lexical form."""
    from graph_embeddings_spark.sources.ntriples import parse_errors

    lines = []
    for i, (kind, body) in enumerate(specs):
        subj = f"http://x/s{i}"
        if kind == "lit":
            lines.append(f'<{subj}> <http://x/p> "{body}" .')
        elif kind == "iri":
            lines.append(f"<{subj}> <http://x/p> <http://x/o> .")
        elif kind == "dt_backslash":
            lines.append(f'<{subj}> <http://x/p> "v"^^<http://x/d\\broken> .')
        elif kind == "garbage":
            lines.append(f"<{subj}> not a triple")
        elif kind == "blank":
            lines.append("   ")
        else:
            lines.append(f"# comment {i}")
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    emitted = {r["subj"] for r in parse_ntriples(df).collect()}
    errs = [r["value"] for r in parse_errors(df).collect()]
    from collections import Counter
    err_counts = Counter(errs)
    for i, (kind, body) in enumerate(specs):
        line, subj = lines[i], f"http://x/s{i}"
        if kind in ("blank", "comment"):
            assert subj not in emitted and err_counts[line] == 0
            continue
        in_triples = subj in emitted
        in_errors = err_counts[line] > 0
        assert in_triples != in_errors, (line, in_triples, in_errors)
        if kind in ("iri", "dt_backslash"):
            assert in_triples, line
        if kind == "garbage":
            assert in_errors, line


_doc_text = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\r"),
    min_size=0, max_size=120,
)


@_slow
@given(st.lists(_doc_text, min_size=1, max_size=25))
def test_winnowing_np_col_parity_property(spark, texts):
    """Round-5 kernel swap invariant: the Arrow winnowing kernel is
    byte-identical to the column form on ARBITRARY ascii text (whitespace
    runs, punctuation, empty/short strings, md5-prefix ties) — the identity
    that keeps the DuckDB oracle valid."""
    from graph_embeddings_spark.datapipe.textstats import (
        winnowing_fingerprints_col,
        winnowing_fingerprints_np,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    col_rows = {(r["doc_id"], r["fp"]) for r in winnowing_fingerprints_col(docs).collect()}
    np_rows = {(r["doc_id"], r["fp"]) for r in winnowing_fingerprints_np(docs).collect()}
    assert col_rows == np_rows


@_slow
@given(st.lists(_doc_text, min_size=2, max_size=15), st.sampled_from([3, 5, 8]))
def test_hashed_shingle_jaccard_parity_property(spark, texts, k):
    """Round-5 kernel swap invariant: jaccard over numpy-hashed byte
    k-grams equals jaccard over the column form's char k-grams for any
    ascii text and any k <= 8 (the hash is a bijection of the gram)."""
    from pyspark.sql import functions as F2

    from graph_embeddings_spark.datapipe.dedup import char_ngrams_distinct, hashed_shingles

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    col_sets = {
        r["doc_id"]: frozenset(r["sh"])
        for r in docs.select("doc_id", char_ngrams_distinct(F2.col("text"), k).alias("sh")).collect()
    }
    hash_sets = {r["id"]: frozenset(r["_sh"]) for r in hashed_shingles(docs, k, 2).collect()}

    def jac(sets, i, j):
        u = sets[i] | sets[j]
        return len(sets[i] & sets[j]) / len(u) if u else 0.0

    ids = sorted(col_sets)
    for i in ids:
        assert len(col_sets[i]) == len(hash_sets[i])
        for j in ids:
            if i < j:
                assert jac(col_sets, i, j) == jac(hash_sets, i, j)


@_slow
@given(st.lists(_doc_text, min_size=1, max_size=15))
def test_simhash_np_col_parity_property(spark, texts):
    """simhash_df must stay byte-identical to the interpreted column form
    on ARBITRARY ascii text, including the control chars (\\x1c-\\x1f)
    that Python treats as whitespace but Java's \\s does not — the class
    of divergence hypothesis found in the shingle kernel."""
    from pyspark.sql import functions as F2

    from graph_embeddings_spark.datapipe.dedup import simhash_col, simhash_df

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ref = {
        r["doc_id"]: r["sim"]
        for r in docs.select("doc_id", simhash_col(F2.col("text")).alias("sim")).collect()
    }
    got = {r["id"]: r["sim"] for r in simhash_df(docs).collect()}
    assert got == ref


_num_label = st.one_of(
    st.integers(min_value=-10**12, max_value=10**12).map(str),
    # past int64: try_cast('long') is NULL there, and the scalar scores 0.0
    st.integers(min_value=-(2**64), max_value=2**64).map(str),
    st.integers(min_value=0, max_value=9999).map(lambda v: f"{v}^^xsd:int"),
    st.sampled_from(["", "5.5", "abc", " 42 ", "007", "1e3", "-0"]),
    _doc_text,
)


@_slow
@given(st.lists(st.tuples(_num_label, _num_label), min_size=1, max_size=40))
def test_numeric_rescore_dispatch_parity_property(spark, pairs):
    """The codegen numeric rescore must equal the reference scalar on
    arbitrary label strings (garbage, datatype suffixes, whitespace,
    decimals, ints past int64) — the J1 dispatch's standing parity
    contract."""
    from graph_embeddings_spark.config import SimilarityGroup
    from graph_embeddings_spark.functions.similarity import make_metric
    from graph_embeddings_spark.graph.canonicalize import _exact_rescore

    group = SimilarityGroup("p:x", "p:x", method="numeric", threshold=0.0,
                            smooth=0.5, threshold_distance=1.0)
    metric = make_metric("numeric", smooth=0.5, distance=1.0)
    labeled = spark.createDataFrame(
        [(i, i, a, b) for i, (a, b) in enumerate(pairs)],
        "a long, b long, label_a string, label_b string",
    )
    for r in _exact_rescore(labeled, group).collect():
        want = metric(r["label_a"], r["label_b"])
        assert abs(r["sim"] - want) < 1e-9, (r["label_a"], r["label_b"], r["sim"], want)


_date_label = st.one_of(
    st.integers(min_value=10000101, max_value=99991231).map(str),  # mostly-valid + impossible dates
    st.integers(min_value=10000101, max_value=99991231).map(lambda v: f"{v}^^xsd:date"),
    st.sampled_from(["", "2020-01-01", "20200230", "00000000", "abc"]),
)


@_slow
@given(
    st.lists(st.tuples(_date_label, _date_label), min_size=1, max_size=40),
    st.sampled_from(["date_days", "date_months", "date_years"]),
    st.sampled_from(["bidirectional", "backwards", "forwards"]),
)
def test_date_rescore_dispatch_parity_property(spark, pairs, method, direction):
    """The codegen date rescore must equal the reference scalar on
    arbitrary label strings: impossible calendar dates (20200230 -> parse
    failure -> 0.0 on both sides), datatype suffixes, wrong formats, the
    string-equality-before-parse rule, and every direction gate x unit."""
    from graph_embeddings_spark.config import SimilarityGroup
    from graph_embeddings_spark.functions.similarity import make_metric
    from graph_embeddings_spark.graph.canonicalize import _exact_rescore

    group = SimilarityGroup("p:x", "p:x", method=method, threshold=0.0,
                            smooth=0.5, threshold_distance=2.0, time=direction)
    metric = make_metric(method, smooth=0.5, distance=2.0,
                         pattern="iso", time=direction)
    labeled = spark.createDataFrame(
        [(i, i, a, b) for i, (a, b) in enumerate(pairs)],
        "a long, b long, label_a string, label_b string",
    )
    for r in _exact_rescore(labeled, group).collect():
        want = metric(r["label_a"], r["label_b"])
        assert abs(r["sim"] - want) < 1e-9, (
            method, direction, r["label_a"], r["label_b"], r["sim"], want)
