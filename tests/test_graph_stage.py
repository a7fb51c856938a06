"""The graph stage of `run_graph_pipeline`: the id assigner's order
contract, resume across the nodes/edges checkpoints, per-file lineage, a
budget on the Spark jobs one call runs, and the work_dir's commit rule (a
stage is complete when Spark's `data/_SUCCESS` is there)."""

from __future__ import annotations

import collections
import os
import pathlib
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.config import (
    OptConfig, OutputConfig, PcaConfig, PipelineConfig, SimilarityGroup,
)
from graph_embeddings_spark.graph.materialize import assign_consecutive_ids
from graph_embeddings_spark.pipeline import run_graph_pipeline
from graph_embeddings_spark.sources.reader import read_rdf

EX = "http://ex.org/"
# one call on the fixture below at local[4] with 8 shuffle partitions runs
# 41 jobs (43 when each TSV export ran its own global sort, 67 when every
# graph stage re-parsed the input and each checkpoint re-scanned its output)
JOB_BUDGET = 41
# a fully resumed call on that work_dir ran 0 jobs (12 when each resumed
# stage was read without a schema, one inference job per read); any job
# here re-derives a committed artifact
RESUME_JOB_BUDGET = 0
# the checkpointed stages, and all of the work_dir's artifacts in the order
# a call commits them
STAGES = ("triples", "nodes", "edges", "sim_edges", "cooc", "embeddings")
ARTIFACTS = ("triples", "nodes", "edges", "sim_edges", "cooc", "params", "embeddings", "export")


def _nt_lines() -> list[str]:
    lines = []
    for p in range(40):
        paper = f"<{EX}paper/{p}>"
        lines.append(f'{paper} <{EX}title> "Paper {p} on graphs" .')
        lines.append(
            f'{paper} <{EX}year> "{2000 + p % 7}"^^<http://www.w3.org/2001/XMLSchema#gYear> .'
        )
        lines.append(f"{paper} <{EX}venue> <{EX}venue/{p % 4}> .")
        for a in sorted({p % 15, (p * 7) % 15}):
            lines.append(f"{paper} <{EX}author> <{EX}person/{a}> .")
    for a in range(15):
        lines.append(f'<{EX}person/{a}> <{EX}name> "Author N{a % 5}ame {a}" .')
    lines.append(f'_:b0 <{EX}name> "caf\\u00E9" .')  # the parser's numeric-escape branch
    return lines


def _config() -> PipelineConfig:
    return PipelineConfig(
        dim=4, seed=42,
        similarity=[SimilarityGroup(EX + "name", EX + "name", method="ngram_jaccard", threshold=0.5)],
        opt=OptConfig(method="adagrad", tolerance=0.0, maxiter=2),
        pca=PcaConfig(variance=0.95),
        output=OutputConfig(uri=[], literal=[]),
    )


def _nodes(df) -> set:
    return {(r["node_id"], r["label"]) for r in df.collect()}


def _edges(df) -> collections.Counter:
    return collections.Counter(
        (r["src"], r["dst"], r["etype"], r["weight"]) for r in df.collect()
    )


def _tsvs(work: str) -> dict[str, bytes]:
    """The export's bytes per TSV directory, part files in order."""
    export = pathlib.Path(work, "export")
    return {
        d.name: b"".join(p.read_bytes() for p in sorted(d.glob("part-*")))
        for d in sorted(export.iterdir())
    }


def _lineages(work: str) -> dict[str, list]:
    return {s: pq.read_table(os.path.join(work, s, "_lineage")).to_pylist() for s in STAGES}


def _run_in_group(spark, group: str, *args, **kwargs):
    """One run_graph_pipeline call under its own job group -> (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = run_graph_pipeline(spark, *args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def graph_run(spark, tmp_path_factory):
    """One fresh call into an empty work_dir, run under its own job group."""
    root = tmp_path_factory.mktemp("graph_stage")
    nt = root / "g.nt"
    nt.write_text("\n".join(_nt_lines()) + "\n")
    work = str(root / "work")
    res, jobs = _run_in_group(
        spark, "graph_stage_budget", read_rdf(spark, str(nt)), _config(), work_dir=work,
    )
    edges = res.edges.filter(F.col("etype") > 0)
    return {
        "nt": str(nt), "work": work, "jobs": jobs,
        "nodes": _nodes(res.nodes), "edges": _edges(edges), "tsvs": _tsvs(work),
    }


@pytest.mark.parametrize("partitions", [1, 8])
def test_consecutive_ids_follow_sort_rank(spark, partitions):
    """ids == rank in (node_type, label, pred_ctx asc nulls first) order,
    whatever the number of range partitions."""
    rows = []
    for i in range(120):
        label = f"l{(i * 37) % 53:02d}"
        rows.append((label, i % 3, None if i % 4 else f"p{i % 5}"))
    rows = sorted(set(rows), key=lambda r: (r[1], r[0], r[2] is not None, r[2] or ""))
    df = spark.createDataFrame(rows, "label string, node_type int, pred_ctx string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        out = assign_consecutive_ids(
            df.repartition(3),
            [F.col("node_type"), F.col("label"), F.col("pred_ctx").asc_nulls_first()],
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    got = {(r["label"], r["node_type"], r["pred_ctx"]): r["node_id"] for r in out}
    assert got == {r: i for i, r in enumerate(rows)}


def test_resume_rebuilds_edges_against_checkpointed_nodes(spark, graph_run):
    """With nodes/ complete and edges/ not, a resumed call rebuilds only the
    edges, against the checkpointed ids: nodes and the edge multiset equal
    the fresh call's."""
    work = graph_run["work"]
    shutil.rmtree(os.path.join(work, "edges", "data"))
    res = run_graph_pipeline(
        spark, read_rdf(spark, graph_run["nt"]), _config(), work_dir=work, train=False,
    )
    assert os.path.exists(os.path.join(work, "edges", "data", "_SUCCESS"))
    assert _nodes(res.nodes) == graph_run["nodes"]
    assert _edges(res.edges.filter(F.col("etype") > 0)) == graph_run["edges"]


def test_lineage_rows_sum_to_stage_rows(graph_run):
    """Each stage's `_lineage` rows (one per written file) add up to the
    rows of its `data/`."""
    work = graph_run["work"]
    for stage in STAGES:
        lineage = pq.read_table(os.path.join(work, stage, "_lineage"))
        assert lineage.column_names == ["partition_id", "rows", "stage"]
        assert set(lineage.column("stage").to_pylist()) == {stage}
        data = pq.read_table(os.path.join(work, stage, "data"))
        assert sum(lineage.column("rows").to_pylist()) == data.num_rows > 0, stage


def test_call_stays_within_job_budget(graph_run):
    """Spark jobs are the unit of cost at this input size: one call must not
    drift back towards re-parsing its input or re-deriving its stages."""
    assert 0 < len(graph_run["jobs"]) <= JOB_BUDGET, len(graph_run["jobs"])


@pytest.mark.parametrize("stage", ["nodes", "cooc", "embeddings"])
def test_uncommitted_stage_is_rebuilt(spark, graph_run, tmp_path, stage):
    """A kill while `stage` was being written leaves its part files but no
    `data/_SUCCESS`, and nothing after it. The resumed call rebuilds that
    stage and everything after it, and exports byte-identical TSVs."""
    work = str(tmp_path / "work")
    shutil.copytree(graph_run["work"], work)
    data = os.path.join(work, stage, "data")
    os.remove(os.path.join(data, "_SUCCESS"))
    for later in ARTIFACTS[ARTIFACTS.index(stage) + 1:]:
        shutil.rmtree(os.path.join(work, later))
    def parts():
        return {f for f in os.listdir(data) if f.startswith("part-")}

    killed = parts()
    res = run_graph_pipeline(spark, read_rdf(spark, graph_run["nt"]), _config(), work_dir=work)
    assert os.path.exists(os.path.join(data, "_SUCCESS"))
    assert parts().isdisjoint(killed)  # rewritten, not reused
    assert len(res.cost_history) == (0 if stage == "embeddings" else 2)
    assert _nodes(res.nodes) == graph_run["nodes"]
    assert _tsvs(work) == graph_run["tsvs"]


def test_deleted_lineage_is_rewritten_on_resume(spark, graph_run):
    """A committed stage whose `_lineage/` was deleted resumes with the same
    lineage rows, from the same part footers."""
    work = graph_run["work"]
    before = _lineages(work)
    for stage in before:
        shutil.rmtree(os.path.join(work, stage, "_lineage"))
    run_graph_pipeline(spark, read_rdf(spark, graph_run["nt"]), _config(), work_dir=work)
    assert _lineages(work) == before


def test_resumed_call_runs_no_job(spark, graph_run):
    """Every artifact committed: a resumed call reads each stage with the
    schema its footers carry (no inference job), trains nothing and keeps
    the export."""
    res, jobs = _run_in_group(
        spark, "graph_stage_resume", read_rdf(spark, graph_run["nt"]), _config(),
        work_dir=graph_run["work"],
    )
    assert len(jobs) <= RESUME_JOB_BUDGET, len(jobs)
    assert res.cost_history == []
    assert _tsvs(graph_run["work"]) == graph_run["tsvs"]


def test_committed_cooc_without_meta_fails(spark, graph_run, tmp_path):
    """cooc/_meta.json is written before the cooc data commits, so a
    committed cooc without it is a damaged work_dir: the error names it."""
    work = str(tmp_path / "work")
    shutil.copytree(graph_run["work"], work)
    os.remove(os.path.join(work, "cooc", "_meta.json"))
    with pytest.raises(FileNotFoundError, match="_meta.json"):
        run_graph_pipeline(
            spark, read_rdf(spark, graph_run["nt"]), _config(), work_dir=work, train=False,
        )


def test_rebuild_without_training_clears_params(spark, graph_run, tmp_path):
    """resume=False rebuilds the graph even when it does not train, so the
    old graph's epochs go: a later resumed call must train the new graph,
    not return the old params."""
    work = str(tmp_path / "work")
    shutil.copytree(graph_run["work"], work)
    run_graph_pipeline(
        spark, read_rdf(spark, graph_run["nt"]), _config(), work_dir=work,
        resume=False, train=False,
    )
    assert not os.path.exists(os.path.join(work, "params"))
