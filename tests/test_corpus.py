"""Corpus generator invariants (FIXTURES.md §1-3)."""

from __future__ import annotations

from graph_embeddings_spark.corpus import (
    build_world,
    page_plan,
    render_page,
    web_pages_df,
)
from triple_gate import expected_triples_df


def test_world_deterministic():
    w1, w2 = build_world(42, 120), build_world(42, 120)
    assert w1.names == w2.names
    assert w1.alias_map == w2.alias_map
    assert len(w1.entity_ids) == 120
    assert len(w1.hub_idx) == 5


def test_alias_dict_has_ambiguity(world):
    ambiguous = [a for a, cands in world.alias_map.items() if len(cands) >= 2]
    multi = {}
    for a, cands in world.alias_map.items():
        for idx, _ in cands:
            multi.setdefault(idx, []).append(a)
    entities_with_3_aliases = [k for k, v in multi.items() if len(v) >= 2]
    assert len(ambiguous) >= 10, f"need >=10 ambiguous aliases, got {len(ambiguous)}"
    assert len(entities_with_3_aliases) >= 10


def test_page_plan_deterministic(world):
    a = page_plan(world, 17)
    b = page_plan(world, 17)
    assert a == b
    # different pages differ
    assert page_plan(world, 18) != a


def test_render_page_shapes(world):
    kinds = {"normal": 0, "malformed": 0}
    langs = set()
    for pid in range(300):
        kind, lang, facts, sentences, _ = page_plan(world, pid)
        kinds[kind] += 1
        langs.add(lang)
        url, ts, html, text, lang2 = render_page(world, pid)
        assert isinstance(html, bytes)
        if kind == "malformed":
            assert text == ""
        else:
            assert text.startswith("About ")
    assert kinds["malformed"] >= 1
    assert {"en", "de", "nl"} <= langs


def test_web_pages_df_partition_invariant(spark, world):
    a = web_pages_df(spark, world, 60, partitions=2).orderBy("url", "warc_ts").collect()
    b = web_pages_df(spark, world, 60, partitions=7).orderBy("url", "warc_ts").collect()
    assert a == b
    urls = [r.url for r in a]
    assert len(urls) >= 60  # dup pages add rows


def test_expected_triples_only_en_normal(spark, world):
    et = expected_triples_df(spark, world, 200).collect()
    assert len(et) > 100
    preds = {r.pred for r in et}
    assert "works_at" in preds and "founded_year" in preds
