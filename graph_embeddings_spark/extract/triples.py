"""OpenIE-style (subj, pred, obj) triple extraction from extracted page text.

New graft surface; the downstream contract matches the reference's triple
world: output rows are the analog of the Jena statement iterator the
reference converts (Rdf2GrphConverter.java:71-114), with obj_kind playing
NodeInfo.java:8-34's role (entity ≈ URI, literal ≈ LITERAL).

Two-phase design so the heavy regex scan stays in one Arrow batch pass and
the linking stays a JVM-side broadcast join:

  1. extract_surface_triples: mapInPandas over (url, text); per sentence,
     locate entity-alias spans (longest-match alternation) + literal spans
     (year / ISO date), then emit a triple for every consecutive span pair
     whose gap text is a known predicate phrase.
  2. link_triples: broadcast-join surfaces to canonical entity ids
     (argmax-prior rule, mentions.resolve_alias_table).

Gate: P/R >= 0.95 vs the generator's ground truth (north_rule).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..corpus import PHRASE_TO_PRED
from .mentions import alias_regex, resolve_alias_table

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_DATE_RE = re.compile(r"\b\d{4}-\d{2}-\d{2}\b")
_YEAR_RE = re.compile(r"\b(?:19|20)\d{2}\b")

SURFACE_TRIPLES_SCHEMA = (
    "url string, subj_surface string, pred string, obj_surface string, obj_kind string"
)


def _block_triples(block: str, pattern: re.Pattern):
    """Single-pass scan of one text block: find all entity/date/year spans
    once (three compiled-regex passes over the WHOLE block — far cheaper
    than per-sentence scans), then pair consecutive spans that fall inside
    the same sentence and whose gap text is a known predicate phrase.

    Semantics identical to a per-sentence scan: a sentence boundary between
    two spans disqualifies the pair."""
    spans = [(m.start(), m.end(), m.group(0), "entity") for m in pattern.finditer(block)]
    date_spans = [(m.start(), m.end(), m.group(0), "date") for m in _DATE_RE.finditer(block)]
    taken = [(s, e) for s, e, _, _ in date_spans]
    for m in _YEAR_RE.finditer(block):
        if not any(s <= m.start() < e for s, e in taken):
            spans.append((m.start(), m.end(), m.group(0), "year"))
    spans.extend(date_spans)
    spans.sort()
    if len(spans) < 2:
        return []
    bounds = [m.start() for m in _SENT_SPLIT.finditer(block)]
    out = []
    bi = 0
    for (s1, e1, sur1, k1), (s2, _e2, sur2, k2) in zip(spans, spans[1:]):
        if k1 != "entity":
            continue
        # any sentence boundary in (e1, s2) splits the pair
        while bi < len(bounds) and bounds[bi] <= e1:
            bi += 1
        if bi < len(bounds) and bounds[bi] < s2:
            continue
        gap = block[e1:s2].strip()
        hit = PHRASE_TO_PRED.get(gap)
        if hit is None:
            continue
        pred, want_kind = hit
        if want_kind == "entity" and k2 == "entity":
            out.append((sur1, pred, sur2, "entity"))
        elif want_kind == k2:  # year/date literal
            out.append((sur1, pred, sur2, "literal"))
    return out


def extract_surface_triples(
    pages_df: DataFrame,
    aliases: list[str],
    text_col: str = "text",
    min_parallelism: int | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """min_parallelism guards the CPU-bound regex scan from AQE's bytes-based
    partition coalescing: post-shuffle text data compresses to a few MB, so
    AQE collapses the stage to 1-2 tasks while the per-row CPU cost is the
    real constraint (measured: scan throughput is ~4.6k pages/s/core — a
    2-task plan wastes 30 of 32 cores). None -> defaultParallelism; 0 ->
    leave partitioning alone.

    ts_col: when set, that timestamp column is carried through onto every
    emitted triple — the streaming sink needs it so downstream per-url
    latest-wins dedup can tell a re-crawl's triples from the original's."""
    pattern = alias_regex(aliases)
    if min_parallelism is None:
        min_parallelism = pages_df.sparkSession.sparkContext.defaultParallelism
    # ts_col keeps ITS OWN input type — hardcoding 'timestamp' would break
    # (or silently reinterpret) a long epoch-seconds column at the Arrow
    # boundary
    ts_type = pages_df.schema[ts_col].dataType.simpleString() if ts_col else ""
    out_schema = SURFACE_TRIPLES_SCHEMA + (f", {ts_col} {ts_type}" if ts_col else "")

    def scan(batches):
        for pdf in batches:
            # columnar accumulation: building one list per column and
            # constructing the frame from a dict skips the per-row tuple
            # boxing + transpose pandas does for a list-of-rows input
            # (hundreds of thousands of emitted triples per batch)
            urls, subs, preds, objs, kinds, tss = [], [], [], [], [], []
            ts_vals = pdf[ts_col] if ts_col else pdf["url"]  # unused w/o ts
            for url, text, ts in zip(pdf["url"], pdf[text_col], ts_vals):
                if not text:
                    continue
                for block in text.split("\n"):
                    for s, p, o, k in _block_triples(block, pattern):
                        urls.append(url)
                        subs.append(s)
                        preds.append(p)
                        objs.append(o)
                        kinds.append(k)
                        if ts_col:
                            tss.append(ts)
            cols = {
                "url": urls,
                "subj_surface": subs,
                "pred": preds,
                "obj_surface": objs,
                "obj_kind": kinds,
            }
            if ts_col:
                cols[ts_col] = tss
            yield pd.DataFrame(cols)

    selected = pages_df.select("url", text_col, *((ts_col,) if ts_col else ()))
    if min_parallelism:
        selected = selected.repartition(min_parallelism)
    return selected.mapInPandas(scan, out_schema)


def link_triples(surface_df: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Surface triples -> canonical triples(url, subj, pred, obj, kind).

    Two broadcast hash joins (subject always an entity; object only when
    obj_kind='entity'). Literals pass through untouched — the reference's
    per-predicate literal identity rule is applied later, at graph
    materialization (Rdf2GrphConverter.java:202-213).
    """
    resolved = F.broadcast(resolve_alias_table(alias_df))
    s = resolved.select(F.col("alias").alias("s_alias"), F.col("entity_id").alias("subj"))
    o = resolved.select(F.col("alias").alias("o_alias"), F.col("entity_id").alias("obj_ent"))
    return (
        surface_df.withColumn("s_alias", F.lower("subj_surface"))
        .withColumn("o_alias", F.lower("obj_surface"))
        .join(s, "s_alias", "inner")
        .join(o, "o_alias", "left")
        .select(
            "url",
            "subj",
            "pred",
            F.when(F.col("obj_kind") == "entity", F.col("obj_ent"))
            .otherwise(F.col("obj_surface"))
            .alias("obj"),
            F.col("obj_kind").alias("kind"),
        )
        .filter(F.col("obj").isNotNull())
    )
