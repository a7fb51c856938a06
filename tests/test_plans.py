"""Physical-plan assertions: the optimizations we claim must appear in
`explain` output — broadcast joins on dictionary joins, parquet filter
pushdown + column pruning, whole-stage codegen on column-math operators,
and no Python evaluation nodes in JVM-only paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    rs = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" not in rs  # pruned to the 2 selected columns


def test_textstats_stays_jvm_side(spark):
    """lang/quality/token operators must contain no Python eval nodes."""
    from graph_embeddings_spark.datapipe.textstats import lang_scores, quality_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for op in (lang_scores, quality_features):
        plan = _plan(op(docs))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # executedPlan().toString() marks whole-stage-codegen stages with *(n)
        assert "*(" in plan or "WholeStageCodegen" in plan


def _literal_nodes(spark):
    """40 literal nodes of one predicate over 9 distinct labels."""
    from graph_embeddings_spark.config import LITERAL

    return spark.range(40).select(
        F.col("id").alias("node_id"),
        F.concat(F.lit("label "), (F.col("id") % 9).cast("string")).alias("label"),
        F.lit(LITERAL).cast("tinyint").alias("node_type"),
        F.lit("p").alias("pred_ctx"),
    )


def test_minhash_band_keys_one_arrow_stage(spark):
    """J1 ngram MinHash: the labels become band keys in ONE Arrow stage —
    the band rows are a posexplode of the kernel's output, with no
    aggregate, exchange or other Python node between them — and the kernel
    runs once: both sides of the bucket self-join reuse its shuffle."""
    from graph_embeddings_spark.config import SimilarityGroup
    from graph_embeddings_spark.graph.canonicalize import similarity_pairs

    group = SimilarityGroup("p", "p", method="ngram_jaccard", threshold=0.7, ngram=3)
    pairs = similarity_pairs(_literal_nodes(spark), group)
    assert pairs.collect()  # runs it, so the plan below is the final one
    final = _plan(pairs).split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 1 and "ReusedExchange" in final, final
    lines = final.splitlines()
    keys = next(i for i, line in enumerate(lines) if "posexplode(_keys" in line)
    kernel = next(i for i, line in enumerate(lines) if "MapInArrow" in line)
    between = "\n".join(lines[keys:kernel])
    assert keys < kernel, final
    for node in ("Aggregate", "Exchange", "EvalPython", "MapInPandas"):
        assert node not in between, final


def test_j1_scorer_runs_once_per_pair(spark):
    """The `sim >= threshold` filter must not be pushed below the projection
    that defines `sim`: that would plan the Arrow scorer twice, once for
    the filter and once for the output column."""
    from graph_embeddings_spark.config import SimilarityGroup
    from graph_embeddings_spark.graph.canonicalize import similarity_pairs

    group = SimilarityGroup("p", "p", method="ngram_jaccard", threshold=0.7, ngram=3)
    pairs = similarity_pairs(_literal_nodes(spark), group)
    got = pairs.collect()
    assert got and all(r["sim"] >= 0.7 for r in got)
    final = _plan(pairs).split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final


def test_header_and_weights_have_no_rdd_scan(spark):
    """The TSV header rows and the predicate weights are driver-side
    lists; planned as a local RDD (`Scan ExistingRDD`) every read of them
    would start Python workers. Both must be JVM-side expressions."""
    from graph_embeddings_spark.graph.materialize import filter_by_predicate_weights
    from graph_embeddings_spark.output import _sorted_with_header

    lines = spark.range(5).select(F.col("id").alias("node_id"), F.lit("x").alias("line"))
    header = _sorted_with_header(lines, ["# a", "# b", "# c"])
    assert [r["line"] for r in header.collect()] == ["# a", "# b", "# c"] + ["x"] * 5
    triples = spark.range(6).select(
        F.lit("s").alias("subj"),
        F.when(F.col("id") % 3 == 0, "works_at").when(F.col("id") % 3 == 1, "born_in")
        .otherwise("knows").alias("pred"),
        F.lit("o").alias("obj"), F.lit(0).alias("obj_kind"),
    )
    weighted = filter_by_predicate_weights(triples, {"works_at": 1.5, "knows": 0.25})
    assert sorted((r["pred"], r["weight"]) for r in weighted.collect()) == [
        ("knows", 0.25), ("knows", 0.25), ("works_at", 1.5), ("works_at", 1.5),
    ]
    for df in (header, weighted):
        plan = _plan(df)
        assert "ExistingRDD" not in plan and "Join" not in plan, plan


def test_alias_resolution_broadcasts(spark, world):
    from graph_embeddings_spark.corpus import alias_dict_df
    from triple_gate import link_mentions

    mentions = spark.createDataFrame([("u", "alice")], "url string, surface string")
    out = link_mentions(mentions, alias_dict_df(spark, world))
    assert "BroadcastHashJoin" in _plan(out)


def test_extract_embeddings_no_python(spark):
    from graph_embeddings_spark.glove.train import extract_embeddings, init_params_df

    nodes = spark.range(10).select(F.col("id").alias("node_id"))
    params = init_params_df(nodes, 4, 42, "adagrad")
    # the (focus+context)/2 extraction itself is pure zip_with — the only
    # Python in the plan is the init generator upstream
    emb = extract_embeddings(params)
    plan = _optimized(emb)
    assert "zip_with" in plan or "ZipWith" in plan


def test_grid_params_not_reshuffled_on_node_id(spark, tmp_path, monkeypatch):
    """On the grid transport the trained params are read back from the
    epoch checkpoint as they are: both consumers (the side shipping and
    the combine) shuffle for themselves, so a node_id repartition of the
    params would be a shuffle nobody reads."""
    from graph_embeddings_spark.glove import train

    monkeypatch.setattr(train, "_BROADCAST_PARAMS_LIMIT", 0, raising=False)
    cooc = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 3.0)], "i long, j long, x double"
    )
    nodes = spark.range(3).select(F.col("id").alias("node_id"))
    res = train.optimize(
        cooc, nodes, dim=4, co_count=3, max_x=3.0, maxiter=2, tolerance=0.0,
        seed=42, n_shards=4, batch=8, checkpoint_dir=str(tmp_path / "params"),
    )
    assert "Exchange hashpartitioning(node_id" not in _plan(res.params)


def test_bca_loop_round_exchange_budget(spark):
    """One loop round = frontier⋈adjacency + single node-keyed merge. The
    adjacency is pre-partitioned on the join key and the merge repartitions
    on node (which satisfies the groupBy's clustering), so a round's plan
    must contain EXACTLY 1 new shuffle exchange; more means the per-round
    cost would compound at 100-TB scale. Uses the engine's own expand_round
    so the asserted plan cannot drift from the shipping one."""
    from graph_embeddings_spark.bca.cooc import build_adjacency, expand_round

    edges = spark.createDataFrame(
        [(0, 1, 1, 1.0), (1, 2, 1, 2.0), (2, 0, 1, 1.0)],
        "src long, dst long, etype int, weight double",
    )
    # persisted like the engine does: InMemoryTableScan keeps the
    # repartition('node') partitioning, so the round join must not
    # re-exchange the adjacency side
    adj = build_adjacency(edges, "both").persist()
    adj.count()
    wet = spark.createDataFrame(
        [(0, 0, 1.0), (1, 1, 1.0)], "root long, node long, paint double"
    ).localCheckpoint(eager=True)
    moved = expand_round(wet.filter(F.col("paint") >= 1e-3), adj, 0.1, 1e-3)
    # Count SHUFFLE exchanges executed per round: truncate at the cached
    # adjacency (its displayed build plan already ran once, not per round)
    # and ignore BroadcastExchange (broadcasting a small side is the win).
    plan = _plan(moved).split("InMemoryRelation")[0]
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_id_assigner_has_no_python_stage(spark):
    """The consecutive-id assigner (A1 node dictionary) numbers its
    range-sorted partitions in the JVM: the plan of its ids, cached
    numbering included, holds no Python stage."""
    from graph_embeddings_spark.graph.materialize import assign_consecutive_ids

    df = spark.createDataFrame(
        [(f"l{i}", i % 3, None if i % 2 else "p") for i in range(50)],
        "label string, node_type int, pred_ctx string",
    )
    out = assign_consecutive_ids(
        df, [F.col("node_type"), F.col("label"), F.col("pred_ctx").asc_nulls_first()]
    )
    plan = _plan(out)
    assert "InMemoryRelation" in plan  # the cached numbering is shown too
    for node in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
