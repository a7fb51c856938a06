"""Pipeline variants: canonicalization enabled, PGloVe cost, Adam/AMSGrad,
directed BCA + normalization through the full stack."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.config import (
    BcaConfig,
    OptConfig,
    OutputConfig,
    PipelineConfig,
    SimilarityGroup,
)
from graph_embeddings_spark.corpus import alias_dict_df, web_pages_df
from graph_embeddings_spark.pipeline import run_pipeline


def _cfg(**kw):
    base = dict(
        dim=8,
        seed=42,
        opt=OptConfig(method="adagrad", tolerance=0.0, maxiter=2),
        output=OutputConfig(uri=[], blank=[], literal=[]),
    )
    base.update(kw)
    return PipelineConfig(**base)


def test_pipeline_with_similarity_groups(spark, world):
    """Canonicalization stage wired end-to-end: type-0 bidirectional edges
    appear for near-identical literal objects (years under founded_year)."""
    pages = web_pages_df(spark, world, 150, partitions=4)
    cfg = _cfg(
        similarity=[
            SimilarityGroup(
                source_predicate="founded_year",
                target_predicate="founded_year",
                method="numeric",
                threshold=0.5,  # |a-b| <= 3 at smooth 0.5
                smooth=0.5,
            )
        ]
    )
    res = run_pipeline(
        spark, pages, alias_dict_df(spark, world), sorted(world.alias_map),
        cfg, train=False,
    )
    sim_edges = res.edges.filter(F.col("etype") == 0)
    n = sim_edges.count()
    assert n > 0 and n % 2 == 0  # bidirectional pairs
    # every similarity edge connects two literal year nodes
    lit_ids = {r["node_id"] for r in res.nodes.filter("node_type = 2").collect()}
    for r in sim_edges.collect():
        assert r["src"] in lit_ids and r["dst"] in lit_ids
        assert 0 < r["weight"] <= 1.0


@pytest.mark.parametrize("method,cost", [("adam", "glove"), ("amsgrad", "pglove")])
def test_pipeline_optimizer_variants(spark, world, method, cost):
    pages = web_pages_df(spark, world, 100, partitions=4)
    cfg = _cfg(
        method=cost,
        opt=OptConfig(method=method, tolerance=0.0, maxiter=2),
        # PGloVe needs Xij in (0,1): unity normalization (the reference pairs
        # pglove with BCA probabilities the same way)
        bca=BcaConfig(alpha=0.1, epsilon=1e-3, directed=False, normalize="unity"),
    )
    res = run_pipeline(
        spark, pages, alias_dict_df(spark, world), sorted(world.alias_map),
        cfg, train=True, n_shards=2, batch=256,
    )
    assert len(res.cost_history) == 2
    assert res.embeddings.count() == res.nodes.count()
    vec = res.embeddings.select("vec").head()["vec"]
    assert len(vec) == 8 and all(v == v for v in vec)  # no NaNs


def test_pipeline_directed_counts_normalization(spark, world):
    pages = web_pages_df(spark, world, 100, partitions=4)
    cfg = _cfg(bca=BcaConfig(alpha=0.1, epsilon=1e-3, directed=True, normalize="counts"))
    res = run_pipeline(
        spark, pages, alias_dict_df(spark, world), sorted(world.alias_map),
        cfg, train=False,
    )
    # counts mode: values scaled into [1, 1000], root entries dropped
    stats = res.cooc.cooc.agg(
        F.min("x").alias("mn"), F.max("x").alias("mx"),
        F.sum(F.when(F.col("i") == F.col("j"), 1).otherwise(0)).alias("roots"),
    ).collect()[0]
    assert stats["mn"] >= 1.0 - 1e-9
    assert stats["mx"] <= 1000.0 + 1e-6
    assert stats["roots"] == 0


@pytest.fixture(scope="module")
def converged_run(spark, world, tmp_path_factory):
    """One trained call whose tolerance break fires early, in its own work_dir."""
    work = str(tmp_path_factory.mktemp("converged") / "work")
    pages = web_pages_df(spark, world, 60, partitions=2)
    cfg = _cfg(opt=OptConfig(method="adagrad", tolerance=1e9, maxiter=8))

    def run(resume: bool):
        return run_pipeline(
            spark, pages, alias_dict_df(spark, world), sorted(world.alias_map),
            cfg, work_dir=work, resume=resume, train=True, n_shards=2, batch=256,
        )

    res = run(True)
    assert 0 < len(res.cost_history) < 8  # tolerance break fired early
    vecs = {r["node_id"]: list(r["vec"]) for r in res.embeddings.collect()}
    return {"work": work, "run": run, "history": res.cost_history, "vecs": vecs}


def _export_commits(work: str) -> list[str]:
    export = os.path.join(work, "export")
    return [os.path.join(export, d, "_SUCCESS") for d in sorted(os.listdir(export))]


def test_resume_after_convergence_is_noop(converged_run):
    """A run whose training hit the tolerance break must NOT retrain (and
    must not rewrite the export) when resumed — the convergence marker is
    as final as maxiter."""
    commits = _export_commits(converged_run["work"])
    assert len(commits) == 2 and all(os.path.exists(c) for c in commits)
    stamps = [os.path.getmtime(c) for c in commits]

    res2 = converged_run["run"](True)
    assert res2.cost_history == []  # zero new epochs
    assert [os.path.getmtime(c) for c in commits] == stamps  # export untouched
    b = {r["node_id"]: list(r["vec"]) for r in res2.embeddings.collect()}
    assert b == converged_run["vecs"]


def test_retrain_clears_stale_training_state(converged_run):
    """run_pipeline(resume=False) over a converged work_dir retrains from
    epoch 0: the prior _CONVERGED marker and any higher-epoch params are
    gone, so a later resume cannot mistake the old run's state for this
    one's, and the retrain reproduces the first run."""
    from graph_embeddings_spark.glove.train import converged_epoch, find_completed_epochs

    ckpt = os.path.join(converged_run["work"], "params")
    # stale state a resume would take as complete: a high epoch and a marker
    shutil.copytree(os.path.join(ckpt, "params_epoch=0000"), os.path.join(ckpt, "params_epoch=0007"))
    with open(os.path.join(ckpt, "_CONVERGED"), "w") as f:
        json.dump({"epoch": 7, "final_cost": 0.5}, f)

    res = converged_run["run"](False)
    history = converged_run["history"]
    assert res.cost_history == history
    assert find_completed_epochs(ckpt) == list(range(len(history)))
    assert converged_epoch(ckpt) == len(history) - 1
    b = {r["node_id"]: list(r["vec"]) for r in res.embeddings.collect()}
    assert b == converged_run["vecs"]
