"""Test helpers for the triple-extraction gate (SURVEY.md §5): the full
extraction path on pages, and distinct-triple precision/recall against the
corpus generator's ground truth."""

from __future__ import annotations

from pyspark.sql import DataFrame

from graph_embeddings_spark.extract.triples import extract_surface_triples, link_triples


def triples_from_pages(pages_df: DataFrame, alias_df: DataFrame, aliases: list[str]) -> DataFrame:
    """Surface extraction + linking on already-deduped pages."""
    return link_triples(extract_surface_triples(pages_df, aliases), alias_df)


def precision_recall(got: DataFrame, expected: DataFrame) -> tuple[float, float]:
    """Distinct-(subj,pred,obj) P/R — the SURVEY.md §5 parity gate."""
    g = got.select("subj", "pred", "obj").distinct()
    e = expected.select("subj", "pred", "obj").distinct()
    tp = g.join(e, ["subj", "pred", "obj"], "inner").count()
    gn, en = g.count(), e.count()
    return (tp / gn if gn else 0.0, tp / en if en else 0.0)
