"""Turtle/TriG source: parser unit tests + distributed round-trip.

Mirrors the reference's format coverage (util/read/JenaReader.java:28-34 —
Jena autodetects Turtle for the shipped .ttl configs, dblp.config.yml:1)
with the same (subj, pred, obj, obj_kind) contract as sources/ntriples.py.
"""

from __future__ import annotations

import pytest

from graph_embeddings_spark.sources.turtle import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    TurtleSyntaxError,
    parse_turtle_text,
    read_turtle,
)

EX = "http://example.org/"

DOC = """
@prefix ex: <http://example.org/> .
@prefix : <http://default.org/> .
@base <http://base.org/> .
# a comment
ex:alice a ex:Person ;
    ex:name "Alice \\"A\\"" ;
    ex:age 42 ;
    ex:height 1.75 ;
    ex:active true ;
    ex:knows ex:bob, :carol, _:dave .
<rel> ex:label "rel subject"@en .
ex:doc ex:created "2020-01-02"^^<http://www.w3.org/2001/XMLSchema#date> .
ex:typed ex:score "7"^^ex:custom .
"""


def _index(triples):
    out = {}
    for s, p, o, k in triples:
        out.setdefault((s, p), []).append((o, k))
    return out


def test_basic_constructs():
    got = _index(parse_turtle_text(DOC))
    alice = EX + "alice"
    assert got[(alice, RDF_TYPE)] == [(EX + "Person", 0)]
    assert got[(alice, EX + "name")] == [('Alice "A"', 2)]
    assert got[(alice, EX + "age")] == [("42", 2)]
    assert got[(alice, EX + "height")] == [("1.75", 2)]
    assert got[(alice, EX + "active")] == [("true", 2)]
    assert got[(alice, EX + "knows")] == [
        (EX + "bob", 0),
        ("http://default.org/carol", 0),
        ("_:dave", 1),
    ]
    # relative IRI resolved against @base; lang tag stripped (F4)
    assert got[("http://base.org/rel", EX + "label")] == [("rel subject", 2)]
    # datatype stripped, lexical form kept — both IRI and pname datatypes
    assert got[(EX + "doc", EX + "created")] == [("2020-01-02", 2)]
    assert got[(EX + "typed", EX + "score")] == [("7", 2)]


def test_long_strings_and_escapes():
    doc = (
        '@prefix ex: <http://example.org/> .\n'
        'ex:x ex:t """multi\nline "quoted" text""" .\n'
        "ex:y ex:t '''apostrophe form''' .\n"
        'ex:z ex:u "tab\\tnl\\nuni\\u00e9" .\n'
    )
    got = _index(parse_turtle_text(doc))
    assert got[(EX + "x", EX + "t")] == [('multi\nline "quoted" text', 2)]
    assert got[(EX + "y", EX + "t")] == [("apostrophe form", 2)]
    assert got[(EX + "z", EX + "u")] == [("tab\tnl\nunié", 2)]


def test_anon_bnodes_and_collections():
    doc = (
        "@prefix ex: <http://example.org/> .\n"
        'ex:a ex:friend [ ex:name "Anon" ; ex:age 7 ] .\n'
        'ex:l ex:items ( ex:one 2 "three" ) .\n'
        "ex:e ex:items ( ) .\n"
        '[ ex:standalone "yes" ] .\n'
    )
    triples = parse_turtle_text(doc, "t")
    got = _index(triples)
    (anon, kind), = got[(EX + "a", EX + "friend")]
    assert kind == 1 and anon.startswith("_:anon-t-")
    assert got[(anon, EX + "name")] == [("Anon", 2)]
    assert got[(anon, EX + "age")] == [("7", 2)]
    # collection -> rdf:first/rdf:rest chain ending in rdf:nil
    (head, hkind), = got[(EX + "l", EX + "items")]
    assert hkind == 1
    items, cur = [], head
    while cur != RDF_NIL:
        (first, fk), = got[(cur, RDF_FIRST)]
        items.append((first, fk))
        (cur, _), = got[(cur, RDF_REST)]
    assert items == [(EX + "one", 0), ("2", 2), ("three", 2)]
    assert got[(EX + "e", EX + "items")] == [(RDF_NIL, 0)]
    # standalone anon subject
    standalone = [s for (s, p) in got if p == EX + "standalone"]
    assert len(standalone) == 1 and standalone[0].startswith("_:anon-t-")


def test_trig_graph_blocks():
    doc = (
        "@prefix ex: <http://example.org/> .\n"
        "GRAPH ex:g1 { ex:a ex:p ex:b . ex:c ex:p ex:d }\n"
        "ex:g2 { ex:e ex:p ex:f . }\n"
        "{ ex:default ex:p ex:x . }\n"
    )
    got = {(s, p, o, k) for s, p, o, k in parse_turtle_text(doc)}
    assert (EX + "a", EX + "p", EX + "b", 0) in got
    assert (EX + "c", EX + "p", EX + "d", 0) in got
    assert (EX + "e", EX + "p", EX + "f", 0) in got
    assert (EX + "default", EX + "p", EX + "x", 0) in got
    # graph labels are NOT subjects
    assert not any(s == EX + "g1" or s == EX + "g2" for s, _, _, _ in got)


def test_sparql_style_directives():
    doc = (
        "PREFIX ex: <http://example.org/>\n"
        "BASE <http://b.org/>\n"
        "ex:s ex:p <o> .\n"
    )
    got = parse_turtle_text(doc)
    assert got == [(EX + "s", EX + "p", "http://b.org/o", 0)]


def test_syntax_errors_raise():
    for bad in ("ex:s ex:p", "@prefix ex <u> .", 'ex:s ex:p "unterminated .'):
        with pytest.raises((TurtleSyntaxError, Exception)):
            parse_turtle_text("@prefix ex: <http://e/> .\n" + bad)


def test_read_turtle_distributed(spark, tmp_path):
    """Multi-file read: per-file tasks, blank ids namespaced per file."""
    for i in range(3):
        (tmp_path / f"part{i}.ttl").write_text(
            "@prefix ex: <http://example.org/> .\n"
            f'ex:s{i} ex:p "v{i}" ; ex:anon [ ex:n {i} ] .\n'
        )
    df = read_turtle(spark, str(tmp_path))
    rows = df.collect()
    assert df.columns == ["subj", "pred", "obj", "obj_kind"]
    lits = {(r["subj"], r["obj"]) for r in rows if r["pred"] == EX + "p"}
    assert lits == {(EX + f"s{i}", f"v{i}") for i in range(3)}
    # anon ids unique across files
    anons = [r["obj"] for r in rows if r["pred"] == EX + "anon"]
    assert len(anons) == 3 and len(set(anons)) == 3
    # parity with the N-Triples reader on equivalent content
    from graph_embeddings_spark.sources.ntriples import parse_ntriples

    nt = "\n".join(
        f'<{EX}s{i}> <{EX}p> "v{i}" .' for i in range(3)
    )
    ntf = tmp_path / "same.nt"
    ntf.write_text(nt + "\n")
    nt_rows = {
        (r["subj"], r["pred"], r["obj"], r["obj_kind"])
        for r in parse_ntriples(spark.read.text(str(ntf))).collect()
    }
    tt_rows = {
        (r["subj"], r["pred"], r["obj"], r["obj_kind"])
        for r in rows
        if r["pred"] == EX + "p"
    }
    assert nt_rows == tt_rows


# ---------------------------------------------------------------------------
# RDF/XML + format dispatch
# ---------------------------------------------------------------------------

def test_rdfxml_basic():
    from graph_embeddings_spark.sources.rdfxml import parse_rdfxml_text

    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/" xml:base="http://base.org/">
  <ex:Person rdf:about="http://example.org/alice" ex:nick="al">
    <ex:name xml:lang="en">Alice</ex:name>
    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#int">42</ex:age>
    <ex:knows rdf:resource="http://example.org/bob"/>
    <ex:pet rdf:nodeID="b1"/>
    <ex:addr rdf:parseType="Resource">
      <ex:city>Utrecht</ex:city>
    </ex:addr>
    <ex:friend>
      <rdf:Description rdf:about="rel"/>
    </ex:friend>
  </ex:Person>
</rdf:RDF>"""
    got = {(s, p, o, k) for s, p, o, k in parse_rdfxml_text(doc, "t")}
    alice = EX + "alice"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert (alice, rdf_type, EX + "Person", 0) in got
    assert (alice, EX + "nick", "al", 2) in got
    assert (alice, EX + "name", "Alice", 2) in got
    assert (alice, EX + "age", "42", 2) in got
    assert (alice, EX + "knows", EX + "bob", 0) in got
    assert (alice, EX + "pet", "_:b1", 1) in got
    assert (alice, EX + "friend", "http://base.org/rel", 0) in got
    anon = [o for s, p, o, k in got if p == EX + "addr"]
    assert len(anon) == 1
    assert (anon[0], EX + "city", "Utrecht", 2) in got


def test_rdfxml_striped_constructs():
    """rdf:li containers, parseType=Collection/Literal, reification sugar."""
    from graph_embeddings_spark.sources.rdfxml import RDF_NS, parse_rdfxml_text

    EX = "http://example.org/"
    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/" xml:base="http://example.org/doc">
  <rdf:Seq rdf:about="http://example.org/seq">
    <rdf:li>one</rdf:li>
    <rdf:li rdf:resource="http://example.org/two"/>
  </rdf:Seq>
  <rdf:Description rdf:about="http://example.org/x">
    <ex:list rdf:parseType="Collection">
      <rdf:Description rdf:about="http://example.org/a"/>
      <rdf:Description rdf:about="http://example.org/b"/>
    </ex:list>
    <ex:empty rdf:parseType="Collection"/>
    <ex:xml rdf:parseType="Literal">t<ex:b>bold</ex:b></ex:xml>
    <ex:said rdf:ID="st1">hello</ex:said>
  </rdf:Description>
</rdf:RDF>"""
    got = parse_rdfxml_text(doc, "t")
    gset = {(s, p, o, k) for s, p, o, k in got}
    seq = EX + "seq"
    assert (seq, RDF_NS + "type", RDF_NS + "Seq", 0) in gset
    assert (seq, RDF_NS + "_1", "one", 2) in gset
    assert (seq, RDF_NS + "_2", EX + "two", 0) in gset
    # collection: x ex:list c1; c1 first a, rest c2; c2 first b, rest nil
    c1 = [o for s, p, o, k in got if p == EX + "list"][0]
    firsts = {s: (o, k) for s, p, o, k in got if p == RDF_NS + "first"}
    rests = {s: o for s, p, o, k in got if p == RDF_NS + "rest"}
    assert firsts[c1] == (EX + "a", 0)
    c2 = rests[c1]
    assert firsts[c2] == (EX + "b", 0) and rests[c2] == RDF_NS + "nil"
    assert (EX + "x", EX + "empty", RDF_NS + "nil", 0) in gset
    # stdlib serialization reassigns prefixes (ns0) — deterministic, documented
    assert (EX + "x", EX + "xml", 't<ns0:b xmlns:ns0="http://example.org/">bold</ns0:b>', 2) in gset
    # reification: base triple + four statement triples
    st = "http://example.org/doc#st1"
    assert (EX + "x", EX + "said", "hello", 2) in gset
    assert (st, RDF_NS + "type", RDF_NS + "Statement", 0) in gset
    assert (st, RDF_NS + "subject", EX + "x", 0) in gset
    assert (st, RDF_NS + "predicate", EX + "said", 0) in gset
    assert (st, RDF_NS + "object", "hello", 2) in gset


def test_rdfxml_unsupported_raises():
    from graph_embeddings_spark.sources.rdfxml import RdfXmlError, parse_rdfxml_text

    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/">
  <rdf:Description rdf:about="http://example.org/x">
    <rdf:subject rdf:resource="http://example.org/y"/>
  </rdf:Description>
</rdf:RDF>"""
    with pytest.raises(RdfXmlError):
        parse_rdfxml_text(doc)
    bogus = doc.replace(
        '<rdf:subject rdf:resource="http://example.org/y"/>',
        '<ex:p rdf:parseType="Bogus">x</ex:p>',
    )
    with pytest.raises(RdfXmlError):
        parse_rdfxml_text(bogus)


def test_read_rdf_dispatch(spark, tmp_path):
    from graph_embeddings_spark.sources.reader import detect_format, read_rdf

    assert detect_format("a/b.ttl") == "turtle"
    assert detect_format("a/b.trig") == "turtle"
    assert detect_format("a/b.nt") == "ntriples"
    assert detect_format("a/b.rdf") == "rdfxml"
    assert detect_format("a/b.hdt") == "hdt"
    with pytest.raises(ValueError):
        detect_format("a/b.unknown")
    (tmp_path / "g.ttl").write_text(
        '@prefix ex: <http://example.org/> .\nex:s ex:p "v" .\n'
    )
    rows = read_rdf(spark, str(tmp_path / "g.ttl")).collect()
    assert [(r["subj"], r["pred"], r["obj"], r["obj_kind"]) for r in rows] == [
        (EX + "s", EX + "p", "v", 2)
    ]


def test_review_fixes_decimals_dots_collections_iri():
    """Regression pack from the round-2 review: leading-dot decimals,
    blank label trailing dot, subject-position collections, RFC3986
    relative-IRI resolution (segment replacement, scheme'd IRIs)."""
    from graph_embeddings_spark.sources._distribute import resolve_iri

    doc = (
        "@prefix ex: <http://e/> .\n"
        "ex:s ex:p .5 .\n"
        "ex:s ex:q _:b1.\n"
        '( ex:a ) ex:label "listsubj" .\n'
    )
    got = _index(parse_turtle_text(doc, "t"))
    assert got[("http://e/s", "http://e/p")] == [(".5", 2)]
    assert got[("http://e/s", "http://e/q")] == [("_:b1", 1)]
    heads = [s for (s, p) in got if p == "http://e/label"]
    assert len(heads) == 1 and heads[0].startswith("_:anon-t-")
    assert got[(heads[0], RDF_FIRST)] == [("http://e/a", 0)]
    # base WITHOUT trailing slash: last segment replaced, not concatenated
    base_doc = "@base <http://base.org/dir/doc> .\n<rel> <http://e/p> <#frag> .\n"
    rows = parse_turtle_text(base_doc)
    assert rows == [("http://base.org/dir/rel", "http://e/p",
                     "http://base.org/dir/doc#frag", 0)]
    assert resolve_iri("tag:foo", "http://b/x") == "tag:foo"   # scheme'd
    assert resolve_iri("/abs", "http://b/x/y") == "http://b/abs"
    assert resolve_iri("//h/p", "https://b/x") == "https://h/p"


# ---------------------------------------------------------------------------
# Property: serialize -> parse round-trip (hypothesis)
# ---------------------------------------------------------------------------

import hypothesis.strategies as st
from hypothesis import given, settings

_IRI_CHARS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=12
)
_LITERALS = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),  # no lone surrogates
        blacklist_characters="\ud800",
    ),
    max_size=40,
)


def _esc_literal(s: str) -> str:
    out = s.replace("\\", "\\\\").replace('"', '\\"')
    out = out.replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    return f'"{out}"'


@settings(max_examples=max(60, settings.default.max_examples), deadline=None)
@given(
    st.lists(
        st.tuples(
            _IRI_CHARS,  # subject local name
            _IRI_CHARS,  # predicate local name
            st.one_of(
                _IRI_CHARS.map(lambda s: ("iri", s)),
                _LITERALS.map(lambda s: ("lit", s)),
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_turtle_roundtrip_property(triples):
    """Serialize arbitrary (subj, pred, obj) triples to Turtle text, parse
    them back, and demand exact multiset equality — exercises escaping,
    statement termination, and prefix expansion together."""
    E = "http://ex.org/"
    lines = ["@prefix ex: <http://ex.org/> ."]
    want = []
    for s, p, o in triples:
        okind, oval = o
        if okind == "iri":
            lines.append(f"ex:{s} ex:{p} ex:{oval} .")
            want.append((E + s, E + p, E + oval, 0))
        else:
            lines.append(f"ex:{s} ex:{p} {_esc_literal(oval)} .")
            want.append((E + s, E + p, oval, 2))
    got = parse_turtle_text("\n".join(lines) + "\n")
    assert sorted(got) == sorted(want)


def test_rdfxml_li_inside_parse_type_resource():
    """rdf:li items nested under parseType=Resource get rdf:_1, rdf:_2 —
    the recursive property-element call threads its own counter instead of
    collapsing every position into rdf:_0."""
    from graph_embeddings_spark.sources.rdfxml import RDF_NS, parse_rdfxml_text

    EX = "http://example.org/"
    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/">
  <rdf:Description rdf:about="http://example.org/e">
    <ex:p rdf:parseType="Resource">
      <rdf:li>a</rdf:li>
      <rdf:li>b</rdf:li>
    </ex:p>
  </rdf:Description>
</rdf:RDF>"""
    got = parse_rdfxml_text(doc, "t")
    anon = [o for s, p, o, k in got if p == EX + "p"][0]
    members = {(p, o) for s, p, o, k in got if s == anon}
    assert members == {(RDF_NS + "_1", "a"), (RDF_NS + "_2", "b")}


def test_resolve_iri_query_references():
    """RFC3986 §5.3: a query-only reference keeps the base PATH; a path
    reference drops the base's query/fragment (and a '/' inside the query
    must not be mistaken for a path slash)."""
    from graph_embeddings_spark.sources._distribute import resolve_iri

    assert resolve_iri("?q", "http://a/b/c") == "http://a/b/c?q"
    assert resolve_iri("?q=2", "http://a/b/c?q=1") == "http://a/b/c?q=2"
    assert resolve_iri("rel", "http://a/b/c?x=1") == "http://a/b/rel"
    assert resolve_iri("rel", "http://a/b?x=/y") == "http://a/rel"
    assert resolve_iri("rel", "http://a/b/c#frag") == "http://a/b/rel"


def test_resolve_iri_abs_path_strips_base_query():
    """Absolute-path reference against a query-bearing base: the '/' inside
    the query must not be mistaken for the path start."""
    from graph_embeddings_spark.sources._distribute import resolve_iri

    assert resolve_iri("/x", "http://a?q=/y") == "http://a/x"
    assert resolve_iri("/x", "http://a/b#f/g") == "http://a/x"
    assert resolve_iri("/abs", "http://b/x/y?k=1") == "http://b/abs"
