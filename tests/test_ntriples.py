"""N-Triples source parser (S1) — reference lexical-form semantics (F4)."""

from __future__ import annotations

import pytest

from graph_embeddings_spark.sources.ntriples import parse_errors, parse_ntriples

LINES = [
    '<http://ex/s1> <http://ex/p> <http://ex/o1> .',
    '_:b0 <http://ex/p> "plain literal" .',
    '<http://ex/s2> <http://ex/p2> "typed"^^<http://www.w3.org/2001/XMLSchema#string> .',
    '<http://ex/s3> <http://ex/p2> "tagged"@en .',
    '<http://ex/s4> <http://ex/p3> _:b1 .',
    '<http://ex/s5> <http://ex/p3> "esc \\"q\\" and \\\\ done" .',
    '# a comment line',
    '',
    'this is garbage',
]


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame([(l,) for l in LINES], "value string")
    return {
        (r["subj"], r["pred"]): (r["obj"], r["obj_kind"])
        for r in parse_ntriples(df).collect()
    }, df


def test_uri_and_blank_subjects(parsed):
    got, _ = parsed
    assert got[("http://ex/s1", "http://ex/p")] == ("http://ex/o1", 0)
    assert got[("_:b0", "http://ex/p")] == ("plain literal", 2)
    assert got[("http://ex/s4", "http://ex/p3")] == ("_:b1", 1)


def test_literal_lexical_form(parsed):
    """F4: quotes, @lang and ^^datatype stripped (n.toString(false))."""
    got, _ = parsed
    assert got[("http://ex/s2", "http://ex/p2")] == ("typed", 2)
    assert got[("http://ex/s3", "http://ex/p2")] == ("tagged", 2)
    assert got[("http://ex/s5", "http://ex/p3")] == ('esc "q" and \\ done', 2)


def test_garbage_reported_not_silently_dropped(parsed):
    _, df = parsed
    errs = [r["value"] for r in parse_errors(df).collect()]
    assert errs == ["this is garbage"]


def test_roundtrip_through_materialize(spark):
    """Parsed triples feed the graph stage unchanged (obj_kind int form)."""
    from graph_embeddings_spark.graph.materialize import materialize_graph

    df = spark.createDataFrame([(l,) for l in LINES], "value string")
    triples = parse_ntriples(df)
    nodes, edges, etypes = materialize_graph(
        triples, {"http://ex/p": 1.0, "http://ex/p2": 0.5, "http://ex/p3": 2.0}
    )
    assert edges.count() == 6
    # per-predicate literal identity: same literal under two predicates
    lits = nodes.filter("node_type = 2")
    assert lits.count() == 4  # plain/typed/tagged/escaped, each under one pred


def test_full_escape_decoding(spark):
    """ECHAR + numeric escapes decode to Jena-parity lexical forms:
    \\n/\\t become real control chars, \\uXXXX/\\UXXXXXXXX become the code
    point, '\\\\n' stays backslash+n, and a bad numeric escape drops the
    row instead of failing the job."""
    lines = [
        '<http://ex/a> <http://ex/p> "line1\\nline2" .',
        '<http://ex/b> <http://ex/p> "tab\\there" .',
        '<http://ex/c> <http://ex/p> "caf\\u00E9" .',
        '<http://ex/d> <http://ex/p> "big\\U0001F600" .',
        '<http://ex/e> <http://ex/p> "keep\\\\nliteral" .',
        '<http://ex/f> <http://ex/p> "bad\\uZZZZ escape" .',
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    got = {r["subj"]: r["obj"] for r in parse_ntriples(df).collect()}
    assert got["http://ex/a"] == "line1\nline2"
    assert got["http://ex/b"] == "tab\there"
    assert got["http://ex/c"] == "café"
    assert got["http://ex/d"] == "big\U0001F600"
    assert got["http://ex/e"] == "keep\\nliteral"  # escaped backslash + n
    assert "http://ex/f" not in got  # malformed \\u dropped, job survives


def test_bad_escape_rows_show_in_parse_errors(spark):
    """A literal with an invalid escape is dropped by parse_ntriples — and
    MUST therefore appear in parse_errors (no-silent-drops contract)."""
    lines = [
        '<http://ex/f> <http://ex/p> "bad\\uZZZZ escape" .',
        '<http://ex/g> <http://ex/p> "fine \\u00E9 and \\\\ and \\n" .',
        '<http://ex/h> <http://ex/p> "plain" .',
        # invalid single-char escape: must drop from the triples AND show
        # here — previously it was emitted raw while also flagged as an
        # error, so one line appeared in both outputs
        '<http://ex/i> <http://ex/p> "bad\\x escape" .',
        # backslash in the DATATYPE IRI, lexical form clean: the lexical
        # projection discards the datatype, so the triple is emitted —
        # parse_errors must judge the same suffix-stripped lex, not the
        # raw object, or this line double-reports
        '<http://ex/j> <http://ex/p> "v"^^<http://ex/d\\x> .',
        # TRUNCATED \\u escape: int('a',16) is a silent mis-decode ('\\n');
        # the strict hex check must drop it AND parse_errors must report it
        '<http://ex/k> <http://ex/p> "bad\\ua tail" .',
        # syntactically valid \\U past 0x10FFFF: chr() raises, the row is
        # dropped — parse_errors' range disjunct must report it
        '<http://ex/l> <http://ex/p> "bad\\U7FFFFFFF" .',
        # valid astral-plane \\U escape: emitted, not reported
        '<http://ex/m> <http://ex/p> "ok \\U0001F600" .',
        # ESCAPED BACKSLASH followed by literal U12345678: decodes to
        # literal text — must not be mistaken for an out-of-range UCHAR
        '<http://ex/n> <http://ex/p> "ok \\\\U12345678" .',
        # LONE SURROGATES (chr() accepts them; Arrow UTF-8 serialization
        # does not): _uchar raises, the rows drop, and the surrogate
        # disjunct must report them — in both \\u and \\U spellings
        '<http://ex/o> <http://ex/p> "bad\\uD800 surrogate" .',
        '<http://ex/q> <http://ex/p> "bad\\U0000DFFF surrogate" .',
        # escaped backslash + literal uD800 text: NOT a surrogate escape
        '<http://ex/r> <http://ex/p> "ok \\\\uD800" .',
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    errs = [r["value"] for r in parse_errors(df).collect()]
    assert len(errs) == 6 and all("bad" in e for e in errs)
    got = {r["subj"]: r["obj"] for r in parse_ntriples(df).collect()}
    assert set(got) == {"http://ex/g", "http://ex/h", "http://ex/j",
                        "http://ex/m", "http://ex/n", "http://ex/r"}
    assert got["http://ex/m"] == "ok \U0001F600"
    assert got["http://ex/n"] == "ok \\U12345678"
    assert got["http://ex/r"] == "ok \\uD800"
    # disjointness: no line appears in both the triples and error outputs
    emitted_lines = {l for l in lines if any(l.startswith(f"<{s}>") for s in got)}
    assert not set(errs) & emitted_lines


def test_nquads_graph_term_dropped(spark, tmp_path):
    """.nq files route to this parser; the graph term of a quad (IRI or
    blank node) is matched and dropped, and a default-graph line is a
    plain triple — none of the three is reported as a parse error."""
    from graph_embeddings_spark.sources.reader import read_rdf

    path = tmp_path / "quads.nq"
    path.write_text(
        '<http://ex/s1> <http://ex/p> <http://ex/o1> <http://ex/g1> .\n'
        '<http://ex/s2> <http://ex/p> "lit"@en _:g2 .\n'
        '<http://ex/s3> <http://ex/p> _:b3 .\n'
    )
    got = {tuple(r) for r in read_rdf(spark, str(path)).collect()}
    assert got == {
        ("http://ex/s1", "http://ex/p", "http://ex/o1", 0),
        ("http://ex/s2", "http://ex/p", "lit", 2),
        ("http://ex/s3", "http://ex/p", "_:b3", 1),
    }
    assert parse_errors(spark.read.text(str(path))).count() == 0


@pytest.mark.parametrize(
    "path,fmt,name",
    [
        ("graph.jsonld", None, "JSON-LD"),
        ("graph.n3", None, "N3"),
        ("graph.trix", None, "TriX"),
        ("graph.data", "jsonld", "JSON-LD"),
        ("graph.data", "n3", "N3"),
        ("graph.data", "trix", "TriX"),
    ],
)
def test_unsupported_rdf_format_named(spark, path, fmt, name):
    """JSON-LD, N3 and TriX (which Jena reads) fail loudly with the
    format's name and the supported list, by extension or by fmt=."""
    from graph_embeddings_spark.sources.reader import detect_format, read_rdf

    with pytest.raises(ValueError, match=name) as exc:
        read_rdf(spark, path, fmt=fmt)
    assert "ntriples/turtle/rdfxml/hdt" in str(exc.value)
    if fmt is None:
        with pytest.raises(ValueError, match=name):
            detect_format(path)
