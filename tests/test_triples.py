"""Triple extraction gates: P/R >= 0.95 vs ground truth (north_rule)."""

from __future__ import annotations

import pytest

from graph_embeddings_spark.corpus import alias_dict_df, web_pages_df
from graph_embeddings_spark.extract.mentions import alias_regex, resolve_alias_table
from graph_embeddings_spark.extract.text import latest_pages
from graph_embeddings_spark.extract.triples import (
    _block_triples,
    extract_surface_triples,
)
from triple_gate import (
    detect_mentions,
    expected_triples_df,
    link_mentions,
    precision_recall,
    triples_from_pages,
)


def test_block_triples_unit():
    pattern = alias_regex(["alice smith", "vertex systems", "smith"])
    got = _block_triples("Alice Smith works at Vertex Systems.", pattern)
    assert got == [("Alice Smith", "works_at", "Vertex Systems", "entity")]
    got = _block_triples("Vertex Systems was founded in 1987.", pattern)
    assert got == [("Vertex Systems", "founded_year", "1987", "literal")]
    got = _block_triples("Alice Smith was born on 1955-03-02.", pattern)
    assert got == [("Alice Smith", "born_on", "1955-03-02", "literal")]
    # noise: no predicate phrase between spans
    assert _block_triples("Alice Smith met Vertex Systems.", pattern) == []
    # longest match wins at the same start
    got = _block_triples("Smith works at Vertex Systems.", pattern)
    assert got[0][0] == "Smith"


def test_resolve_alias_argmax(spark):
    df = spark.createDataFrame(
        [("smith", "E2", 0.4), ("smith", "E1", 0.4), ("smith", "E3", 0.9)],
        "alias string, entity_id string, prior double",
    )
    got = resolve_alias_table(df).collect()
    assert len(got) == 1 and got[0].entity_id == "E3"
    # tie -> smallest entity_id
    df2 = spark.createDataFrame(
        [("x", "E9", 0.5), ("x", "E4", 0.5)], "alias string, entity_id string, prior double"
    )
    assert resolve_alias_table(df2).collect()[0].entity_id == "E4"


def test_mention_detection(spark, world):
    pages = latest_pages(web_pages_df(spark, world, 80, partitions=2))
    aliases = list(world.alias_map.keys())
    mentions = detect_mentions(pages, aliases)
    linked = link_mentions(mentions, alias_dict_df(spark, world))
    assert mentions.count() > 0
    assert linked.count() == mentions.count()  # dictionary-driven: all link


@pytest.mark.slow
def test_triple_pr_gate(spark, world):
    n_pages = 300
    pages = latest_pages(web_pages_df(spark, world, n_pages, partitions=4))
    aliases = list(world.alias_map.keys())
    got = triples_from_pages(pages, alias_dict_df(spark, world), aliases)
    expected = expected_triples_df(spark, world, n_pages)
    p, r = precision_recall(got, expected)
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_surface_triples_skip_empty_text(spark, world):
    pages = latest_pages(web_pages_df(spark, world, 100, partitions=2))
    surface = extract_surface_triples(pages, list(world.alias_map.keys()))
    # no row may come from an empty-text (malformed) page
    empties = pages.filter("text = ''").select("url")
    assert surface.join(empties, "url", "inner").count() == 0
