"""RDF/XML source (S1, SURVEY.md §2.1): the third Jena-autodetected format
(util/read/JenaReader.java:28-34) — stdlib xml.etree per file, distributed
like the Turtle reader (file = unit of parallelism; RDF/XML is a document
format and cannot be line-split).

Supported subset (the constructs real exports use):
  * rdf:RDF root; rdf:Description and typed node elements (typed emits the
    rdf:type triple);
  * subjects via rdf:about / rdf:ID (resolved '#id' against xml:base) /
    rdf:nodeID (blank) / none (fresh blank);
  * property elements with rdf:resource (URI object), rdf:nodeID (blank),
    text content (literal — rdf:datatype and xml:lang stripped per F4),
    one nested node element, or rdf:parseType="Resource";
  * rdf:li container items (numbered rdf:_1, rdf:_2, ... per node element);
  * rdf:parseType="Collection" (rdf:first/rest/nil list chain) and
    rdf:parseType="Literal" (inner XML serialized as the lexical form);
  * reification sugar: rdf:ID on a property element emits the four
    rdf:Statement triples alongside the base triple;
  * non-rdf property ATTRIBUTES on node elements as literal triples.
Unsupported (raises): other rdf:* property elements (rdf:subject etc. as
syntax) — fail loudly rather than silently drop.

Output contract matches sources/ntriples.py / turtle.py:
    triples(subj string, pred string, obj string, obj_kind tinyint)
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"
_R = "{" + RDF_NS + "}"
_XML_BASE = "{" + XML_NS + "}base"
_XML_LANG = "{" + XML_NS + "}lang"

TRIPLES_SCHEMA = "subj string, pred string, obj string, obj_kind tinyint"


class RdfXmlError(ValueError):
    pass


def _split_tag(tag: str) -> str:
    """'{ns}local' -> 'nslocal' (RDF concatenation semantics)."""
    if tag.startswith("{"):
        ns, _, local = tag[1:].partition("}")
        return ns + local
    return tag


class _RdfXmlParser:
    def __init__(self, bnode_prefix: str = "g"):
        self.bnode_prefix = bnode_prefix
        self.bnode_n = 0
        self.out: list[tuple[str, str, str, int]] = []

    def _fresh(self) -> str:
        self.bnode_n += 1
        return f"_:xml-{self.bnode_prefix}-{self.bnode_n}"

    def parse(self, text: str) -> list[tuple[str, str, str, int]]:
        root = ET.fromstring(text)
        base = root.get(_XML_BASE, "")
        if root.tag == _R + "RDF":
            nodes = list(root)
        else:  # a single node element as the document root
            nodes = [root]
        for el in nodes:
            self._node_element(el, base)
        return self.out

    def _subject_of(self, el: ET.Element, base: str) -> tuple[str, int]:
        about = el.get(_R + "about")
        if about is not None:
            return self._resolve(about, base), 0
        rid = el.get(_R + "ID")
        if rid is not None:
            return base + "#" + rid, 0
        nid = el.get(_R + "nodeID")
        if nid is not None:
            return "_:" + nid, 1
        return self._fresh(), 1

    @staticmethod
    def _resolve(iri: str, base: str) -> str:
        from ._distribute import resolve_iri

        return resolve_iri(iri, base)

    def _node_element(self, el: ET.Element, base: str) -> tuple[str, int]:
        base = el.get(_XML_BASE, base)
        subj, skind = self._subject_of(el, base)
        if el.tag != _R + "Description":
            self.out.append((subj, RDF_NS + "type", _split_tag(el.tag), 0))
        # property attributes (non-rdf, non-xml namespaces) -> literals
        for attr, val in el.attrib.items():
            if attr.startswith(_R) or attr.startswith("{" + XML_NS + "}"):
                continue
            self.out.append((subj, _split_tag(attr), val, 2))
        li_n = 0
        for prop in el:
            if prop.tag == _R + "li":
                li_n += 1
            self._property_element(subj, prop, base, li_n)
        return subj, skind

    def _property_element(self, subj: str, prop: ET.Element, base: str, li_n: int = 0):
        pred = _split_tag(prop.tag)
        if prop.tag == _R + "li":
            pred = f"{RDF_NS}_{li_n}"  # container membership property
        elif pred.startswith(RDF_NS) and pred not in (RDF_NS + "type", RDF_NS + "value"):
            if not pred[len(RDF_NS):].lstrip("_").isdigit():
                raise RdfXmlError(f"unsupported rdf construct {pred}")
        ptype = prop.get(_R + "parseType")
        res = prop.get(_R + "resource")
        nid = prop.get(_R + "nodeID")
        children = list(prop)
        if ptype == "Resource":
            obj, okind = self._fresh(), 1
            self.out.append((subj, pred, obj, okind))
            sub_li = 0  # rdf:li inside the anonymous node needs its own
            for sub in children:  # counter, like _node_element keeps one
                if sub.tag == _R + "li":
                    sub_li += 1
                self._property_element(obj, sub, base, sub_li)
        elif ptype == "Collection":
            items = [self._node_element(child, base) for child in children]
            cells = [self._fresh() for _ in items]
            obj, okind = (cells[0], 1) if cells else (RDF_NS + "nil", 0)
            self.out.append((subj, pred, obj, okind))
            for i, ((it, ikind), cell) in enumerate(zip(items, cells)):
                self.out.append((cell, RDF_NS + "first", it, ikind))
                rest = (cells[i + 1], 1) if i + 1 < len(cells) else (RDF_NS + "nil", 0)
                self.out.append((cell, RDF_NS + "rest", rest[0], rest[1]))
        elif ptype == "Literal":
            # inner XML serialized as the lexical form (stdlib serialization
            # stands in for exclusive canonical XML — deterministic here)
            lex = (prop.text or "") + "".join(
                ET.tostring(child, encoding="unicode") for child in children
            )
            obj, okind = lex, 2
            self.out.append((subj, pred, obj, okind))
        elif ptype is not None:
            raise RdfXmlError(f"unsupported parseType {ptype}")
        elif res is not None:
            obj, okind = self._resolve(res, base), 0
            self.out.append((subj, pred, obj, okind))
        elif nid is not None:
            obj, okind = "_:" + nid, 1
            self.out.append((subj, pred, obj, okind))
        elif children:
            if len(children) != 1:
                raise RdfXmlError("property element with multiple child nodes")
            obj, okind = self._node_element(children[0], base)
            self.out.append((subj, pred, obj, okind))
        else:
            # literal: lexical form only (F4 — datatype/lang dropped)
            obj, okind = prop.text or "", 2
            self.out.append((subj, pred, obj, okind))
        rid = prop.get(_R + "ID")
        if rid is not None:
            # reification sugar: the statement gets a URI and four triples
            st = base + "#" + rid
            self.out.append((st, RDF_NS + "type", RDF_NS + "Statement", 0))
            self.out.append((st, RDF_NS + "subject", subj, 1 if subj.startswith("_:") else 0))
            self.out.append((st, RDF_NS + "predicate", pred, 0))
            self.out.append((st, RDF_NS + "object", obj, okind))


def parse_rdfxml_text(text: str, bnode_prefix: str = "g") -> list[tuple[str, str, str, int]]:
    return _RdfXmlParser(bnode_prefix).parse(text)


def read_rdfxml(spark, path: str) -> DataFrame:
    from ._distribute import read_documents

    return read_documents(spark, path, parse_rdfxml_text)
