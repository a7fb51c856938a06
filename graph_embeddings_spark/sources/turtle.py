"""Turtle / TriG source (S1, SURVEY.md §2.1): RDF documents -> triples DF.

The reference loads every serialization through Jena's format autodetection
(util/read/JenaReader.java:28-34; all three shipped configs point at .ttl
inputs, e.g. dblp.config.yml:1). Turtle is NOT line-splittable (statements
span lines, strings may contain '.'), so the Spark unit of parallelism is
the FILE: `spark.read.text(wholetext=True)` + a mapInPandas recursive-
descent parser per file. At corpus scale the input arrives as many files /
objects, which is exactly the parallelism a 1000-executor cluster wants;
a single multi-GB .ttl file is the degenerate case and should be split
upstream (documented contract, same as every distributed Turtle reader).

From-scratch tokenizer + recursive-descent parser, NOT a port: covers the
Turtle 1.1 constructs the reference's datasets use —
  @prefix/@base (and SPARQL PREFIX/BASE), prefixed names, IRIs, blank node
  labels, 'a', predicate lists ';', object lists ',', all four quote forms
  with \\-escapes and \\uXXXX/\\UXXXXXXXX, @lang and ^^datatype, numeric +
  boolean abbreviations, anonymous blank nodes '[ ... ]' (fresh file-scoped
  ids), collections '( ... )' (expanded to rdf:first/rdf:rest chains), and
  TriG graph blocks (graph labels are skipped; triples of all graphs are
  emitted — the reference's in-heap Model is also graph-flattened).

Output contract identical to sources/ntriples.py:
    triples(subj string, pred string, obj string, obj_kind tinyint)
    obj_kind: 0=URI, 1=BLANK, 2=LITERAL  (NodeInfo.java:8-34)
Literal objects keep their LEXICAL FORM only (F4 — quotes, language tags,
^^datatype stripped; Rdf2GrphConverter.java:103,223).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

TRIPLES_SCHEMA = "subj string, pred string, obj string, obj_kind tinyint"

_UNESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}

_NUM_RE = re.compile(r"[+-]?(\d+\.?\d*([eE][+-]?\d+)?|\.\d+([eE][+-]?\d+)?)")
# prefixed name: optional prefix part, ':', local part (dots excluded from
# the local part — the documented subset trade for unambiguous statement
# terminators)
_PNAME_RE = re.compile(r"(?:[A-Za-z_À-￿][\w\-À-￿]*)?:[^\s;,.()\[\]{}#\"']*")


class TurtleSyntaxError(ValueError):
    pass


_HEX_DIGITS = set("0123456789abcdefABCDEF")


def _hexval(s: str, start: int, width: int) -> int:
    """Exactly `width` hex digits or raise. int(x, 16) alone is LENIENT —
    it accepts short slices ('\\ua' -> int('a')), whitespace padding and
    even '0x' prefixes — which silently mis-decodes truncated UCHAR
    escapes the grammar (and _VALID_ESC_RE in ntriples.py) rejects."""
    h = s[start : start + width]
    if len(h) != width or any(ch not in _HEX_DIGITS for ch in h):
        raise TurtleSyntaxError(f"bad numeric escape {h!r} (need {width} hex digits)")
    return int(h, 16)


def _uchar(cp: int) -> str:
    """Codepoint -> char, REJECTING lone surrogates: Python's chr() happily
    builds U+D800..DFFF strings, but they are not valid RDF literal content
    and crash Arrow's UTF-8 serialization downstream — failing the whole
    job instead of this row's drop-and-report contract. Raising here routes
    the row through the same drop path as any other bad escape (and
    parse_errors reports it via its surrogate disjunct)."""
    if 0xD800 <= cp <= 0xDFFF:
        raise TurtleSyntaxError(f"lone surrogate escape U+{cp:04X}")
    return chr(cp)


def _unescape(s: str) -> str:
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            raise TurtleSyntaxError("dangling escape")
        e = s[i + 1]
        if e == "u":
            out.append(_uchar(_hexval(s, i + 2, 4)))
            i += 6
        elif e == "U":
            # chr() raises ValueError past 0x10FFFF; callers treat it the
            # same as TurtleSyntaxError (drop-and-report contract)
            out.append(_uchar(_hexval(s, i + 2, 8)))
            i += 10
        elif e in _UNESCAPES:
            out.append(_UNESCAPES[e])
            i += 2
        else:
            raise TurtleSyntaxError(f"bad escape \\{e}")
    return "".join(out)


class _Tokenizer:
    """Yields (kind, value): kinds iri, pname, blank, literal, num, punct,
    kw ('@prefix' '@base' 'prefix' 'base' 'a' 'true' 'false' 'graph')."""

    _PUNCT = set(".;,[](){}")

    def __init__(self, text: str):
        self.text = text
        self.i = 0
        self.n = len(text)

    def _skip_ws(self):
        while self.i < self.n:
            c = self.text[self.i]
            if c == "#":
                while self.i < self.n and self.text[self.i] != "\n":
                    self.i += 1
            elif c.isspace():
                self.i += 1
            else:
                return

    def _string(self) -> str:
        t, i = self.text, self.i
        quote = t[i]
        if t[i : i + 3] == quote * 3:  # long form
            end = i + 3
            while True:
                end = t.find(quote * 3, end)
                if end == -1:
                    raise TurtleSyntaxError("unterminated long string")
                # count preceding backslashes
                bs = 0
                while t[end - 1 - bs] == "\\":
                    bs += 1
                if bs % 2 == 0:
                    break
                end += 1
            raw = t[i + 3 : end]
            self.i = end + 3
        else:
            end = i + 1
            while True:
                if end >= self.n:
                    raise TurtleSyntaxError("unterminated string")
                c = t[end]
                if c == "\\":
                    end += 2
                    continue
                if c == quote:
                    break
                if c == "\n":
                    raise TurtleSyntaxError("newline in short string")
                end += 1
            raw = t[i + 1 : end]
            self.i = end + 1
        return _unescape(raw)

    def tokens(self):
        while True:
            self._skip_ws()
            if self.i >= self.n:
                return
            t, i = self.text, self.i
            c = t[i]
            if c == "<":
                end = t.find(">", i)
                if end == -1:
                    raise TurtleSyntaxError("unterminated IRI")
                self.i = end + 1
                yield ("iri", _unescape(t[i + 1 : end]))
            elif c in "\"'":
                lex = self._string()
                # optional @lang or ^^datatype suffix
                suffix_kind = None
                if self.i < self.n and t[self.i] == "@":
                    m = re.match(r"@[A-Za-z][A-Za-z0-9-]*", t[self.i :])
                    if m:
                        self.i += m.end()
                elif t[self.i : self.i + 2] == "^^":
                    self.i += 2
                    suffix_kind = "dtype"
                yield ("literal", lex)
                if suffix_kind == "dtype":
                    # consume the datatype token (iri or pname) and drop it
                    self._skip_ws()
                    if self.i < self.n and t[self.i] == "<":
                        end = t.find(">", self.i)
                        if end == -1:
                            raise TurtleSyntaxError("unterminated datatype IRI")
                        self.i = end + 1
                    else:
                        m = _PNAME_RE.match(t, self.i)
                        if not m:
                            raise TurtleSyntaxError("bad datatype")
                        self.i = m.end()
            elif c == "_" and t[i : i + 2] == "_:":
                m = re.match(r"_:[\w\-.À-￿]+", t[i:])
                if not m:
                    raise TurtleSyntaxError("bad blank node label")
                label = m.group(0)
                # labels may contain dots but not end with one: a trailing
                # '.' is the statement terminator ('_:b1.' with no space)
                while label.endswith("."):
                    label = label[:-1]
                self.i = i + len(label)
                yield ("blank", label)
            elif c in self._PUNCT and not (c == "." and _NUM_RE.match(t, i)):
                # bare '.' is punctuation; '.5' (leading-dot decimal) falls
                # through to the number branch below
                self.i += 1
                yield ("punct", c)
            elif c.isdigit() or (c in "+-." and _NUM_RE.match(t, i)):
                m = _NUM_RE.match(t, i)
                lex = m.group(0)
                # Turtle statement dots: '1.' at end-of-object is number '1'
                # followed by the terminator — back off a trailing bare dot
                if lex.endswith(".") and "e" not in lex.lower():
                    lex = lex[:-1]
                self.i = i + len(lex)
                yield ("num", lex)
            else:
                if c == "@":
                    m2 = re.match(r"@(prefix|base)", t[i:])
                    if not m2:
                        raise TurtleSyntaxError(f"bad directive at {i}")
                    self.i = i + m2.end()
                    yield ("kw", m2.group(0))
                    continue
                m = _PNAME_RE.match(t, i)
                if m:
                    word = m.group(0)
                    self.i = i + len(word)
                    yield ("pname", word)
                    continue
                m3 = re.match(r"[A-Za-z]+", t[i:])
                if not m3:
                    raise TurtleSyntaxError(f"unexpected char {c!r} at {i}")
                word = m3.group(0)
                lw = word.lower()
                if lw in ("prefix", "base", "graph"):
                    self.i = i + len(word)
                    yield ("kw", lw)
                elif word == "a" or word in ("true", "false"):
                    self.i = i + len(word)
                    yield ("kw", word)
                else:
                    raise TurtleSyntaxError(f"bare word {word!r} at {i}")


class _Parser:
    def __init__(self, text: str, bnode_prefix: str = "g"):
        self.toks = list(_Tokenizer(text).tokens())
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.bnode_prefix = bnode_prefix
        self.bnode_n = 0
        self.out: list[tuple[str, str, str, int]] = []

    # -- token helpers ------------------------------------------------------
    def _peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def _next(self):
        tok = self._peek()
        self.pos += 1
        return tok

    def _expect_punct(self, ch):
        kind, val = self._next()
        if kind != "punct" or val != ch:
            raise TurtleSyntaxError(f"expected {ch!r}, got {kind}:{val!r}")

    def _fresh_bnode(self) -> str:
        self.bnode_n += 1
        return f"_:anon-{self.bnode_prefix}-{self.bnode_n}"

    def _resolve(self, iri: str) -> str:
        from ._distribute import resolve_iri

        return resolve_iri(iri, self.base)

    def _expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise TurtleSyntaxError(f"undefined prefix {pfx!r}")
        return self.prefixes[pfx] + local.replace("\\", "")

    # -- grammar ------------------------------------------------------------
    def parse(self) -> list[tuple[str, str, str, int]]:
        while self._peek()[0] is not None:
            kind, val = self._peek()
            if kind == "kw" and val in ("@prefix", "prefix"):
                self._next()
                _, pname = self._next()
                ikind, iri = self._next()
                if ikind != "iri":
                    raise TurtleSyntaxError("prefix needs an IRI")
                self.prefixes[pname.rstrip(":")] = self._resolve(iri)
                if val == "@prefix":
                    self._expect_punct(".")
            elif kind == "kw" and val in ("@base", "base"):
                self._next()
                ikind, iri = self._next()
                if ikind != "iri":
                    raise TurtleSyntaxError("base needs an IRI")
                self.base = iri
                if val == "@base":
                    self._expect_punct(".")
            elif kind == "kw" and val == "graph":
                self._next()
                self._node()  # graph label — parsed, then dropped
                self._graph_block()
            elif kind == "punct" and val == "{":
                self._graph_block()
            else:
                # TriG allows <label> { ... }; only look ahead past simple
                # nodes (iri/pname/blank emit nothing, so the rewind is
                # side-effect-free — '[' property lists would double-emit)
                if kind in ("iri", "pname", "blank"):
                    save = self.pos
                    self._node()
                    if self._peek() == ("punct", "{"):
                        self._graph_block()
                        continue
                    self.pos = save
                self._triples_stmt()
        return self.out

    def _graph_block(self):
        self._expect_punct("{")
        while self._peek() != ("punct", "}"):
            if self._peek()[0] is None:
                raise TurtleSyntaxError("unterminated graph block")
            self._triples_stmt(in_graph=True)
        self._expect_punct("}")

    def _triples_stmt(self, in_graph: bool = False):
        kind, val = self._peek()
        if kind == "punct" and val == "[":
            subj = self._bnode_property_list()
            # subject-only anon node: '[ p o ] .' is a complete statement
            if self._peek() == ("punct", "."):
                self._next()
                return
        elif kind == "punct" and val == "(":
            # collection in subject position (legal Turtle 1.1): the
            # rdf:first/rest chain is emitted, its head is the subject
            subj, _skind = self._collection()
        else:
            subj, _skind = self._node()
        self._predicate_object_list(subj)
        kind, val = self._peek()
        if kind == "punct" and val == ".":
            self._next()
        elif in_graph and (val == "}" or kind is None):
            pass  # final statement in a graph block may omit '.'
        else:
            raise TurtleSyntaxError(f"expected '.', got {kind}:{val!r}")

    def _predicate_object_list(self, subj: str):
        while True:
            pred = self._predicate()
            while True:
                self._object(subj, pred)
                if self._peek() == ("punct", ","):
                    self._next()
                    continue
                break
            if self._peek() == ("punct", ";"):
                self._next()
                # allow trailing ';' before '.' / ']' / '}'
                if self._peek()[0] == "punct" and self._peek()[1] in ".]}":
                    return
                continue
            return

    def _predicate(self) -> str:
        kind, val = self._next()
        if kind == "kw" and val == "a":
            return RDF_TYPE
        if kind == "iri":
            return self._resolve(val)
        if kind == "pname":
            return self._expand_pname(val)
        raise TurtleSyntaxError(f"bad predicate {kind}:{val!r}")

    def _node(self) -> tuple[str, int]:
        """Subject-position node: IRI, prefixed name, or blank label."""
        kind, val = self._next()
        if kind == "iri":
            return self._resolve(val), 0
        if kind == "pname":
            return self._expand_pname(val), 0
        if kind == "blank":
            return val, 1
        if kind == "punct" and val == "[":
            # caller handles '[' where legal; here: anon without properties
            if self._peek() == ("punct", "]"):
                self._next()
                return self._fresh_bnode(), 1
            self.pos -= 1
            return self._bnode_property_list(), 1
        raise TurtleSyntaxError(f"bad subject {kind}:{val!r}")

    def _bnode_property_list(self) -> str:
        self._expect_punct("[")
        node = self._fresh_bnode()
        if self._peek() == ("punct", "]"):
            self._next()
            return node
        self._predicate_object_list(node)
        self._expect_punct("]")
        return node

    def _collection(self) -> tuple[str, int]:
        self._expect_punct("(")
        items: list[tuple[str, int]] = []
        while self._peek() != ("punct", ")"):
            if self._peek()[0] is None:
                raise TurtleSyntaxError("unterminated collection")
            items.append(self._object_value())
        self._next()
        if not items:
            return RDF_NIL, 0
        head = self._fresh_bnode()
        cur = head
        for i, (val, kind) in enumerate(items):
            self.out.append((cur, RDF_FIRST, val, kind))
            if i + 1 < len(items):
                nxt = self._fresh_bnode()
                self.out.append((cur, RDF_REST, nxt, 1))
                cur = nxt
            else:
                self.out.append((cur, RDF_REST, RDF_NIL, 0))
        return head, 1

    def _object_value(self) -> tuple[str, int]:
        kind, val = self._peek()
        if kind == "literal":
            self._next()
            return val, 2
        if kind == "num":
            self._next()
            return val, 2
        if kind == "kw" and val in ("true", "false"):
            self._next()
            return val, 2
        if kind == "punct" and val == "[":
            return self._bnode_property_list(), 1
        if kind == "punct" and val == "(":
            return self._collection()
        return self._node()

    def _object(self, subj: str, pred: str):
        val, kind = self._object_value()
        self.out.append((subj, pred, val, kind))


def parse_turtle_text(text: str, bnode_prefix: str = "g") -> list[tuple[str, str, str, int]]:
    """One document -> [(subj, pred, obj, obj_kind)]. Pure function;
    read_turtle below distributes it per file."""
    return _Parser(text, bnode_prefix).parse()


def read_turtle(spark, path: str) -> DataFrame:
    """Directory/glob of .ttl/.trig files -> triples DF (file = task)."""
    from ._distribute import read_documents

    return read_documents(spark, path, parse_turtle_text)
