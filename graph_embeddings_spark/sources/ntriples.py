"""N-Triples source (S1, SURVEY.md §2.1): RDF lines -> triples DataFrame.

The reference loads any RDF serialization through Jena into an in-heap
Model (util/read/JenaReader.java:21-42). Spark-side we parse the *line-
oriented* N-Triples/N-Quads subset with pure column regexes — one
narrow map over `spark.read.text`, no Python, fully parallel over line
splits of arbitrarily large files. Richer serializations (Turtle, RDF/XML)
would use a mapInPandas rdflib parser per file — same output contract.

Output schema matches the engine's triple world (§1.1):
    triples(subj string, pred string, obj string, obj_kind tinyint)
    obj_kind: 0=URI, 1=BLANK, 2=LITERAL  (NodeInfo.java:8-34)

Semantics preserved:
  * URIs lose their angle brackets; blank nodes keep the `_:` prefix.
  * literal objects keep their LEXICAL FORM only — quotes, language tags
    and ^^datatype suffixes stripped (F4: the reference takes
    `n.toString(false)`, Rdf2GrphConverter.java:103,223; datatype-aware
    similarity metrics re-split on '^' downstream, Numeric.java:29-33).
  * comment/blank lines dropped; malformed lines dropped (Jena would raise
    — at corpus scale we drop-and-count instead; `parse_errors` exposes
    the rejects so callers can fail loudly if they want parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# subject, predicate, object (groups 1-3), then an optional N-Quads graph
# term that is matched and dropped, as turtle.py drops TriG graph labels
_TRIPLE_RE = (
    r"^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+"
    r"(<[^>]*>|_:\S+|\"(?:[^\"\\]|\\.)*\"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)"
    r"(?:\s+(?:<[^>]*>|_:\S+))?\s*\.\s*$"
)


def _strip_uri(c):
    return F.regexp_replace(c, r"^<|>$", "")


_SIMPLE_ESCAPES = (
    ("\\t", "\t"), ("\\b", "\b"), ("\\n", "\n"), ("\\r", "\r"),
    ("\\f", "\f"), ('\\"', '"'), ("\\'", "'"),
)


def _decode_simple_escapes(lex):
    """ECHAR decode in pure column ops. Only called on literals with NO
    escaped backslash and NO numeric escape (those take the Python branch),
    so every remaining backslash unambiguously leads a single-char escape
    and plain left-to-right literal replaces are order-safe."""
    x = lex
    for esc, ch in _SIMPLE_ESCAPES:
        x = F.replace(x, F.lit(esc), F.lit(ch))
    return x


def parse_ntriples(lines: DataFrame, col: str = "value") -> DataFrame:
    """lines (one N-Triples statement per row) -> triples DF.

    Literal escapes are decoded to Jena-parity lexical forms: the common
    path (ECHAR escapes only) stays pure-column; rows containing \\uXXXX /
    \\UXXXXXXXX numeric escapes (rare) take a vectorized Python branch that
    reuses the Turtle parser's _unescape — a bad numeric escape drops the
    row (the module's drop-and-count contract) instead of failing the job."""
    line = F.col(col)
    subj_raw = F.regexp_extract(line, _TRIPLE_RE, 1)
    pred = F.regexp_extract(line, _TRIPLE_RE, 2)
    obj_raw = F.regexp_extract(line, _TRIPLE_RE, 3)
    ok = subj_raw != ""

    obj_kind = (
        F.when(obj_raw.startswith("<"), F.lit(0))
        .when(obj_raw.startswith("_:"), F.lit(1))
        .otherwise(F.lit(2))
        .cast("tinyint")
    )
    lex = _lex_of(obj_raw)
    is_lit = ~obj_raw.startswith("<") & ~obj_raw.startswith("_:")
    # numeric escapes can't be decoded column-side, escaped backslashes
    # would make independent per-escape replaces order-unsafe, and INVALID
    # escapes (e.g. "\x") must be dropped, not emitted raw — all three
    # (rare) shapes take the Python branch, where _unescape either decodes
    # or raises-and-drops; everything else stays pure-column. The invalid
    # predicate (delete every valid escape, check for a leftover
    # backslash) is the same one parse_errors uses, so a row never appears
    # in both the triples output and the error report.
    has_u = is_lit & (
        lex.rlike(r"\\[uU]")
        | lex.contains("\\\\")
        | F.regexp_replace(lex, _VALID_ESC_RE, "").contains("\\")
    )

    obj = (
        F.when(obj_raw.startswith("<"), _strip_uri(obj_raw))
        .when(obj_raw.startswith("_:"), obj_raw)
        .otherwise(_decode_simple_escapes(lex))
    )
    subj = F.when(subj_raw.startswith("<"), _strip_uri(subj_raw)).otherwise(subj_raw)

    base = lines.filter(ok)
    plain = base.filter(~has_u).select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"), obj_kind.alias("obj_kind")
    )
    unicode_rows = base.filter(has_u).select(
        subj.alias("subj"), pred.alias("pred"), lex.alias("obj"), obj_kind.alias("obj_kind")
    )

    def decode_u(batches):
        from .turtle import TurtleSyntaxError, _unescape

        for pdf in batches:
            def one(v):
                try:
                    return _unescape(v)
                except (TurtleSyntaxError, ValueError):
                    return None

            pdf = pdf.assign(obj=pdf["obj"].map(one))
            yield pdf[pdf["obj"].notna()]

    decoded = unicode_rows.mapInPandas(
        decode_u, "subj string, pred string, obj string, obj_kind tinyint"
    )
    return plain.unionByName(decoded)


# a backslash not starting a valid ECHAR/UCHAR escape; computed by
# deleting every VALID escape and checking whether a backslash remains
_VALID_ESC_RE = r"\\(?:[tbnrf\"'\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})"

# a syntactically valid \UXXXXXXXX whose codepoint exceeds 0x10FFFF —
# chr() raises and parse_ntriples drops the row, so parse_errors must
# report it (the second disjunct of the drop predicate). Valid range
# 00000000..0010FFFF is exactly "00" + ("0"+hex | "10") + 4 hex.
_U_OUT_OF_RANGE_RE = r"\\U(?!00(?:0[0-9A-Fa-f]|10)[0-9A-Fa-f]{4})[0-9A-Fa-f]{8}"

# a lone-surrogate UCHAR (U+D800..DFFF, first two hex digits D8..DF):
# chr() ACCEPTS surrogates but they crash Arrow UTF-8 serialization, so
# turtle._uchar raises and parse_ntriples drops the row — this disjunct
# keeps the invariant that every dropped row appears in parse_errors
_U_SURROGATE_RE = (
    r"\\u[Dd][89A-Fa-f][0-9A-Fa-f]{2}"
    r"|\\U0000[Dd][89A-Fa-f][0-9A-Fa-f]{2}"
)


def _lex_of(obj_raw):
    """Literal lexical form: drop the closing quote + @lang/^^<dt> suffix,
    then the opening quote. Shared by parse_ntriples and parse_errors so
    the bad-escape predicate runs on the SAME string in both — a backslash
    in a datatype IRI (discarded by the lexical projection) must neither
    drop the triple nor double-report it as an error."""
    lex = F.regexp_replace(obj_raw, r"\"(@[A-Za-z0-9-]+|\^\^<[^>]*>)?$", "")
    return F.regexp_replace(lex, r"^\"", "")


def parse_errors(lines: DataFrame, col: str = "value") -> DataFrame:
    """Lines that are neither parseable, comments, nor blank — PLUS lines
    whose literal carries an invalid escape sequence (the grammar regex
    accepts any `\\.`, but parse_ntriples drops such rows at decode time;
    they must show up here, not vanish) — the no-silent-drops report."""
    line = F.col(col)
    obj_raw = F.regexp_extract(line, _TRIPLE_RE, 3)
    ok = F.regexp_extract(line, _TRIPLE_RE, 1) != ""
    lex = _lex_of(obj_raw)
    bad_escape = (
        ok
        & ~obj_raw.startswith("<")
        & ~obj_raw.startswith("_:")
        & (
            F.regexp_replace(lex, _VALID_ESC_RE, "").contains("\\")
            # escaped-backslash pairs deleted FIRST (left-to-right, the
            # decoder's consumption order) so literal "\\U12345678" text
            # is not mistaken for an out-of-range or surrogate UCHAR escape
            | F.regexp_replace(lex, r"\\\\", "").rlike(_U_OUT_OF_RANGE_RE)
            | F.regexp_replace(lex, r"\\\\", "").rlike(_U_SURROGATE_RE)
        )
    )
    ignorable = (F.trim(line) == "") | F.trim(line).startswith("#")
    return lines.filter((~ok & ~ignorable) | bad_escape)


def read_ntriples(spark, path: str) -> DataFrame:
    return parse_ntriples(spark.read.text(path))
