"""Format-dispatching RDF reader — the JenaReader.read analog
(util/read/JenaReader.java:21-42: Jena autodetects the serialization from
the file name; here the extension does, with an explicit override).

    read_rdf(spark, "data/graph.ttl")            # autodetect -> turtle
    read_rdf(spark, "data/", fmt="ntriples")     # explicit

All formats share the triples(subj, pred, obj, obj_kind) contract, so every
downstream stage (materialize, canonicalize, BCA, GloVe) is source-agnostic.
HDT (the reference's native binary path, HDTManager.loadHDT at
JenaReader.java:28-31) is read by the from-scratch codec in sources/hdt.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_EXT_TO_FMT = {
    ".nt": "ntriples",
    ".nq": "ntriples",  # N-Quads: the parser matches the graph term, drops it
    ".ttl": "turtle",
    ".trig": "turtle",  # TriG = Turtle + graph blocks, same parser
    ".rdf": "rdfxml",
    ".owl": "rdfxml",
    ".xml": "rdfxml",
    ".hdt": "hdt",
}


# Serializations Jena reads that this reader does not: named in the error
# instead of a generic autodetect / unknown-format message
_UNSUPPORTED = {"jsonld": "JSON-LD", "n3": "N3", "trix": "TriX"}
_SUPPORTED = "ntriples/turtle/rdfxml/hdt"


def _unsupported(name: str, what: str) -> ValueError:
    return ValueError(
        f"{_UNSUPPORTED[name]} is not supported ({what}); supported formats: "
        f"{_SUPPORTED} (extensions {'/'.join(_EXT_TO_FMT)})"
    )


def detect_format(path: str) -> str:
    ext = os.path.splitext(path.rstrip("/"))[1].lower()
    if ext in _EXT_TO_FMT:
        return _EXT_TO_FMT[ext]
    if ext[1:] in _UNSUPPORTED:
        raise _unsupported(ext[1:], repr(path))
    raise ValueError(
        f"cannot autodetect RDF format of {path!r}; pass fmt= one of {_SUPPORTED}"
    )


def read_rdf(spark, path: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or detect_format(path)
    if fmt == "ntriples":
        from .ntriples import read_ntriples

        return read_ntriples(spark, path)
    if fmt == "turtle":
        from .turtle import read_turtle

        return read_turtle(spark, path)
    if fmt == "rdfxml":
        from .rdfxml import read_rdfxml

        return read_rdfxml(spark, path)
    if fmt == "hdt":
        from .hdt import read_hdt

        return read_hdt(spark, path)
    if fmt in _UNSUPPORTED:
        raise _unsupported(fmt, f"fmt={fmt!r}")
    raise ValueError(f"unknown RDF format {fmt!r}; supported formats: {_SUPPORTED}")
