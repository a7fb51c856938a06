"""End-to-end pipeline driver: web pages -> KG -> co-occurrence -> embeddings.

The Spark analog of Main.runProgram (Main.java:29-78), re-architected per
BASELINE.json north_rule: every stage writes a parquet checkpoint with
per-file lineage rows, so any run resumes from the last completed stage
(and training resumes after the last complete epoch: glove.train.optimize
checkpoints its params per epoch). Stage seams match the reference's:

    load     (JenaReader)        -> dedup'd pages          [graft: web table]
    extract  (graft surface)     -> text per url
    triples  (graft surface / RDF source) -> triples(subj,pred,obj,obj_kind)
    convert  (Rdf2GrphConverter) -> nodes, edges (A2 etypes numbered on the driver)
    compare  (CompareJob loop)   -> similarity type-0 edges
    bca      (BookmarkColoring)  -> cooc(i,j,x) + max
    optimize (Optimizer)         -> params -> embeddings
    write    (EmbeddingTextWriter) -> filtered parquet/TSV

`run_graph_pipeline` checkpoints the `triples` stage for both entry points,
so every later stage reads parquet and the input is parsed once per run.

Checkpoint layout under `work_dir`. One commit rule: an artifact is
complete when Spark's `_SUCCESS` (written after every part file) is in its
directory, and a resumed run rebuilds anything without one.
    <stage>/data/        parquet of the stage output; data/_SUCCESS commits
                         the stage
    <stage>/_lineage/    (partition_id, rows, stage) rows, one per data file,
                         counted from the files' parquet footers; rewritten
                         on every call, resumed or not
    cooc/_meta.json      co_count, max_x, vocab_size; written before the
                         cooc data, so a committed cooc always has it
    params/params_epoch=NNNN/   one complete epoch per _SUCCESS; _CONVERGED
                         marks the tolerance break (glove.train.optimize)
    export/<name>.{vectors,dict}.tsv/   the export is done when both
                         directories hold a _SUCCESS
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .config import PipelineConfig
from .corpus import PHRASE_TO_PRED  # closed predicate vocabulary
from .bca.cooc import CoocResult, bca_cooccurrence
from .extract.text import latest_texts, with_extracted_text
from .extract.triples import extract_surface_triples, link_triples
from .glove.train import extract_embeddings, optimize
from .graph.canonicalize import all_similarity_pairs
from .graph.materialize import (
    build_edges, edge_type_ids, filter_by_predicate_weights, materialize_graph,
    observed_predicates, similarity_edges,
)
from .output import filter_embeddings, write_tsv


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def checkpoint_stage(df: DataFrame, work_dir: str, stage: str) -> None:
    """Write a stage's output: the stage's one job. Spark writes
    `data/_SUCCESS` after every part file, so it is the stage's commit."""
    df.write.mode("overwrite").parquet(os.path.join(work_dir, stage, "data"))


def load_stage(spark: SparkSession, work_dir: str, stage: str) -> DataFrame:
    """A committed stage, read with the Spark schema its part footers carry
    (Spark stores it even for an empty write), so no inference job runs."""
    data = os.path.join(work_dir, stage, "data")
    part = min(f for f in os.listdir(data) if f.endswith(".parquet"))
    schema = pq.read_metadata(os.path.join(data, part)).metadata[_SPARK_SCHEMA_KEY]
    return spark.read.schema(StructType.fromJson(json.loads(schema))).parquet(data)


def _resumable(spark, work_dir, stage, build_fn, resume: bool, caches: list | None = None):
    """The stage seam. With a work_dir: unless `resume` is set and the stage
    is committed, build and write it; either way (re)write `_lineage/` from
    the part footers and return the checkpoint. caches: DataFrames persisted
    by build_fn's internals, unpersisted once the stage is durable —
    without this, every stage's intermediate caches survive the whole run."""
    if not work_dir:
        return build_fn()
    data = os.path.join(work_dir, stage, "data")
    if not (resume and os.path.exists(os.path.join(data, "_SUCCESS"))):
        checkpoint_stage(build_fn(), work_dir, stage)
        for c in caches or ():
            c.unpersist()
    parts = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
    rows = [pq.read_metadata(os.path.join(data, f)).num_rows for f in parts]
    lineage = os.path.join(work_dir, stage, "_lineage")
    shutil.rmtree(lineage, ignore_errors=True)
    os.makedirs(lineage)
    pq.write_table(pa.table({
        "partition_id": pa.array(range(len(rows)), pa.int32()),
        "rows": pa.array(rows, pa.int64()),
        "stage": [stage] * len(rows),
    }), os.path.join(lineage, "part-00000.parquet"))
    return load_stage(spark, work_dir, stage)


@dataclass
class PipelineResult:
    """What one pipeline call built. With a work_dir its DataFrames are
    lazy reads of the stage checkpoints, not copies: a later call that
    rebuilds the same work_dir (resume=False, or a stage that was not
    committed) replaces those files, and using an earlier result then fails
    with a missing-file error. Collect or copy what must outlive the next
    call, or give that call its own work_dir."""

    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame
    cooc: CoocResult | None
    embeddings: DataFrame | None
    cost_history: list[float]


def default_weights() -> dict[str, float]:
    """All template predicates at weight 1.0 (the graft corpus's closed
    vocabulary; the reference requires an explicit weights map — F1)."""
    return {pred: 1.0 for pred, _ in PHRASE_TO_PRED.values()}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_df: DataFrame,
    aliases: list[str],
    config: PipelineConfig,
    *,
    work_dir: str | None = None,
    resume: bool = True,
    train: bool = True,
    n_shards: int | None = None,
    batch: int = 4096,
) -> PipelineResult:
    config.check()
    weights = config.weights or default_weights()

    # -- load + extract (graft surface; byte parity gated elsewhere) --------
    def build_pages():
        # extract FIRST, dedup after: the tier's one shuffle then carries
        # ~300B of text per page instead of multi-KB html — the shuffle is
        # the tier's floor once the scan is trie-optimized (latest_texts);
        # min_parallelism guards the CPU-bound UDF from byte-coalescing
        target = spark.sparkContext.defaultParallelism * 2
        texted = with_extracted_text(pages, min_parallelism=target).select(
            "url", "warc_ts", "lang", F.col("extracted_text").alias("text")
        )
        return latest_texts(texted, target_partitions=target)

    pages_ck = _resumable(spark, work_dir, "extract", build_pages, resume)

    # -- triples (checkpointed by run_graph_pipeline) ------------------------
    surface = extract_surface_triples(pages_ck, aliases, text_col="text")
    triples = link_triples(surface, alias_df).select(
        "subj", "pred", "obj",
        F.when(F.col("kind") == "literal", F.lit(2)).otherwise(F.lit(0)).alias("obj_kind"),
        "url",
    )
    return run_graph_pipeline(
        spark, triples, config,
        work_dir=work_dir, resume=resume, train=train,
        n_shards=n_shards, batch=batch, weights=weights,
    )


def run_graph_pipeline(
    spark: SparkSession,
    triples: DataFrame,
    config: PipelineConfig,
    *,
    work_dir: str | None = None,
    resume: bool = True,
    train: bool = True,
    n_shards: int | None = None,
    batch: int = 4096,
    weights: dict[str, float] | None = None,
) -> PipelineResult:
    """The reference's own entry shape (Main.runProgram, Main.java:29-78):
    RDF triples in -> graph -> similarity edges -> BCA -> GloVe -> filtered
    embeddings. `run_pipeline` (web pages in) delegates here after its
    extraction tier; a reference user pointing at a .ttl file enters here
    directly (cli --rdf-input / config `graph:`).

    weights: predicate -> weight (F1). The reference requires an explicit
    map (NPEs without one, Rdf2GrphConverter.java:96); absent one we weight
    every predicate 1.0 — graceful where upstream crashes, and the
    predicate dictionary is <= 127 entries by contract (A2)."""
    config.check()
    # checkpointed once here for both entry points: every later read of the
    # triples is a parquet scan, not a re-parse of the source
    source = triples
    triples = _resumable(spark, work_dir, "triples", lambda: source, resume)

    # -- graph materialization (F1/A1/A2) -----------------------------------
    w = weights if weights is not None else (config.weights or None)
    # lazy: the one aggregate over the triples that finds the observed
    # predicates (the etype numbering) runs only if a graph stage actually
    # BUILDS — a fully-resumed run never needs it
    predicates = functools.cache(lambda: observed_predicates(triples))

    node_caches: list = []

    def build_nodes_fn():
        nodes, _, _ = materialize_graph(
            triples, w, cache_registry=node_caches, predicates=predicates(),
        )
        return nodes

    nodes = _resumable(spark, work_dir, "nodes", build_nodes_fn, resume, caches=node_caches)

    def build_edges_fn():
        # the same weighted triples and A2 dictionary as the nodes, joined
        # to the checkpointed node ids (also when only edges/ is rebuilt)
        weighted = filter_by_predicate_weights(triples, w)
        return build_edges(weighted, nodes, edge_type_ids(predicates(), w))

    edges = _resumable(spark, work_dir, "edges", build_edges_fn, resume)

    # -- canonicalization (J1/J2) -------------------------------------------
    if config.similarity:
        def build_sim():
            pairs = all_similarity_pairs(nodes, config.similarity)
            return similarity_edges(pairs) if pairs is not None else edges.limit(0)

        sim_edges = _resumable(spark, work_dir, "sim_edges", build_sim, resume)
        all_edges = edges.unionByName(sim_edges)
    else:
        all_edges = edges

    # -- BCA co-occurrence ---------------------------------------------------
    cooc_caches: list = []
    metas: list[dict] = []
    # co_count/max_x/vocab come with a freshly built cooc and are written
    # next to it BEFORE its data, so a committed cooc always has them: a
    # resumed run loads three numbers instead of re-scanning the table
    meta_path = os.path.join(work_dir, "cooc", "_meta.json") if work_dir else None

    def build_cooc():
        res = bca_cooccurrence(
            nodes, all_edges,
            alpha=config.bca.alpha, epsilon=config.bca.epsilon,
            directed=config.bca.directed, normalize=config.bca.normalize,
        )
        cooc_caches.append(res.cooc)  # persisted inside bca_cooccurrence
        metas.append({"co_count": res.co_count, "max_x": res.max_x, "vocab_size": res.vocab_size})
        if meta_path:
            os.makedirs(os.path.dirname(meta_path), exist_ok=True)
            with open(meta_path, "w") as f:
                json.dump(metas[0], f)
        return res.cooc

    cooc_df = _resumable(spark, work_dir, "cooc", build_cooc, resume, caches=cooc_caches)
    if not metas:  # resumed: the commit guarantees the meta file
        try:
            with open(meta_path) as f:
                metas.append(json.load(f))
        except FileNotFoundError:
            raise FileNotFoundError(
                f"committed cooc stage has no {meta_path}; remove "
                f"{os.path.join(work_dir, 'cooc', 'data')} to rebuild it"
            ) from None
    meta = metas[0]
    cooc = CoocResult(
        cooc=cooc_df, vocab_size=meta["vocab_size"], co_count=meta["co_count"],
        max_x=meta["max_x"],
    )

    embeddings = None
    history: list[float] = []
    ckpt = os.path.join(work_dir, "params") if work_dir else None
    if ckpt and not resume:
        # the graph was rebuilt: the old epochs must not be resumed, also
        # by a later call when this one does not train
        shutil.rmtree(ckpt, ignore_errors=True)
    if train:
        # optimize resumes after the last complete epoch in ckpt, and trains
        # nothing if that epoch was the last (maxiter or tolerance break)
        res = optimize(
            cooc.cooc, nodes,
            dim=config.dim, co_count=cooc.co_count, max_x=cooc.max_x,
            cost=config.method, method=config.opt.method,
            maxiter=config.opt.maxiter, tolerance=config.opt.tolerance,
            seed=config.seed, n_shards=n_shards, batch=batch, checkpoint_dir=ckpt,
        )
        history = res.cost_history
        trained_now = len(history) > 0  # history holds NEW epochs only

        def build_embeddings():
            vecs = extract_embeddings(res.params)
            if config.pca is not None:
                # the reference declares pca.variance in every shipped config
                # but left the reduction TODO (Main.java:43-44) — real here
                from .glove.pca import pca_reduce

                vecs = pca_reduce(vecs, config.pca.variance)
            return vecs.join(nodes, "node_id").select("node_id", "label", "node_type", "vec")

        # a fully-resumed run (no epoch executed) keeps its committed
        # embeddings: no join + PCA refit
        embeddings = _resumable(
            spark, work_dir, "embeddings", build_embeddings, resume and not trained_now,
        )
        if work_dir:
            export_dir = os.path.join(work_dir, "export")
            exported = all(
                os.path.exists(os.path.join(export_dir, f"{config.output.name}.{kind}.tsv", "_SUCCESS"))
                for kind in ("vectors", "dict")
            )
            # a global sort: only re-export when something trained or the
            # prior export never committed both files
            if trained_now or not resume or not exported:
                filtered = filter_embeddings(embeddings, config.output)
                write_tsv(filtered, export_dir, config.output.name, config=config)

    return PipelineResult(
        triples=triples, nodes=nodes, edges=all_edges, cooc=cooc,
        embeddings=embeddings, cost_history=history,
    )
