"""Test helpers for the triple-extraction gate (SURVEY.md §5): the full
extraction path on pages, mention detection and linking on their own, the
corpus generator's ground truth as a DataFrame, and distinct-triple
precision/recall against it."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from graph_embeddings_spark.corpus import World, expected_triples_for_page
from graph_embeddings_spark.extract.mentions import alias_regex, resolve_alias_table
from graph_embeddings_spark.extract.triples import extract_surface_triples, link_triples


def detect_mentions(pages_df: DataFrame, aliases: list[str], text_col: str = "text") -> DataFrame:
    """pages -> (url, surface) one row per alias occurrence (Arrow-batched)."""
    pattern = alias_regex(aliases)

    @F.pandas_udf(ArrayType(StringType()))
    def find_aliases(text: pd.Series) -> pd.Series:
        return text.map(lambda t: [m.group(0) for m in pattern.finditer(t)] if t else [])

    return (
        pages_df.withColumn("surface", F.explode(find_aliases(F.col(text_col))))
        .select("url", "surface")
    )


def link_mentions(mentions_df: DataFrame, alias_df: DataFrame) -> DataFrame:
    """(url, surface) ⋈ broadcast resolved-alias table -> linked mentions.

    Inner join drops unlinkable surfaces (cannot happen for dictionary-driven
    detection, but keeps the operator total for free-text callers).
    """
    resolved = resolve_alias_table(alias_df)
    return (
        mentions_df.withColumn("alias", F.lower(F.col("surface")))
        .join(F.broadcast(resolved), "alias", "inner")
        .select("url", "surface", "entity_id", "prior")
    )


def expected_triples_df(spark, world: World, n_pages: int, partitions: int | None = None):
    """The generator's ground-truth triples for pages 0..n_pages-1, built
    per page as `corpus.web_pages_df` builds the pages."""
    partitions = partitions or max(8, n_pages // 20_000)

    def gen(batches):
        for pdf in batches:
            rows = []
            for pid in pdf["id"]:
                rows.extend(expected_triples_for_page(world, int(pid)))
            yield pd.DataFrame(rows, columns=["url", "subj", "pred", "obj", "kind"])

    return spark.range(0, n_pages, numPartitions=partitions).mapInPandas(
        gen, "url string, subj string, pred string, obj string, kind string"
    )


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
