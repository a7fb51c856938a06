"""Shared per-file distribution wrapper for document-oriented RDF parsers
(Turtle/TriG, RDF/XML — formats that cannot be line-split, so the file is
the unit of parallelism) and RFC3986-lite IRI resolution used by both.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

TRIPLES_SCHEMA = "subj string, pred string, obj string, obj_kind tinyint"

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def resolve_iri(iri: str, base: str) -> str:
    """RFC3986-style reference resolution (the cases RDF documents use):
    absolute (any scheme — tag:, urn:, doi: included), network-path '//',
    absolute-path '/', fragment '#', and relative path (replaces the
    base's last segment — 'http://b/doc' + 'rel' -> 'http://b/rel', NOT
    the naive concatenation 'http://b/docrel')."""
    if not base or _SCHEME_RE.match(iri):
        return iri
    if iri.startswith("#"):
        return base.split("#", 1)[0] + iri
    if iri.startswith("?"):
        # query-only reference KEEPS the base path (RFC3986 §5.3), it does
        # not replace the last segment: 'http://a/b/c' + '?q' -> '.../c?q'
        return base.split("#", 1)[0].split("?", 1)[0] + iri
    # every path-type reference drops the base's query/fragment — and a
    # '/' inside them must not be mistaken for a path slash
    stripped0 = base.split("#", 1)[0].split("?", 1)[0]
    scheme_end = stripped0.find("://")
    if iri.startswith("//"):
        return (base[: base.find(":")] + ":" + iri) if ":" in base else iri
    if iri.startswith("/"):
        if scheme_end != -1:
            auth_end = stripped0.find("/", scheme_end + 3)
            root = stripped0 if auth_end == -1 else stripped0[:auth_end]
            return root + iri
        return iri
    # relative path: drop the base's last path segment (of the already
    # query/fragment-stripped base)
    path_start = scheme_end + 3 if scheme_end != -1 else 0
    slash = stripped0.rfind("/")
    if slash < path_start or (scheme_end != -1 and slash == scheme_end + 2):
        return stripped0 + "/" + iri
    return stripped0[: slash + 1] + iri


def read_documents(spark, path: str, parse_fn) -> DataFrame:
    """Directory/glob of whole-document files -> triples DF; one
    parse_fn(text, bnode_prefix) call per file (file = task), Arrow-batched.
    Anonymous blank-node ids are namespaced by a hash of the file path, so
    ids never collide across files at any parallelism (deterministic: same
    input -> same ids)."""
    import hashlib

    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = {"subj": [], "pred": [], "obj": [], "obj_kind": []}
            for path, text in zip(pdf["path"], pdf["text"]):
                pfx = hashlib.sha1(str(path).encode()).hexdigest()[:12]
                for s, p, o, k in parse_fn(text, pfx):
                    rows["subj"].append(s)
                    rows["pred"].append(p)
                    rows["obj"].append(o)
                    rows["obj_kind"].append(k)
            pdf_out = pd.DataFrame(rows)
            pdf_out["obj_kind"] = pdf_out["obj_kind"].astype("int8")
            yield pdf_out

    files = (
        spark.read.text(path, wholetext=True)
        .select(F.input_file_name().alias("path"), F.col("value").alias("text"))
        .repartition("path")
    )
    return files.mapInPandas(run, TRIPLES_SCHEMA)
