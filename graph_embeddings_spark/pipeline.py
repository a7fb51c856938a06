"""End-to-end pipeline driver: web pages -> KG -> co-occurrence -> embeddings.

The Spark analog of Main.runProgram (Main.java:29-78), re-architected per
BASELINE.json north_rule: every stage writes a parquet checkpoint with
per-file lineage rows, so any run resumes from the last completed stage
(and training resumes mid-epoch via glove.train's per-epoch params
checkpoints). Stage seams match the reference's:

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

Checkpoint layout under `work_dir`:
    <stage>/data/        parquet of the stage output
    <stage>/_lineage/    (partition_id, rows, stage) rows, one per data file,
                         counted from the files' parquet footers
    <stage>/_DONE        written last: the stage is complete
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import PipelineConfig
from .corpus import PHRASE_TO_PRED  # closed predicate vocabulary
from .bca.cooc import CoocResult, bca_cooccurrence
from .extract.text import latest_texts, with_extracted_text
from .extract.triples import extract_surface_triples, link_triples
from .glove.train import (
    converged_epoch, extract_embeddings, find_completed_epochs, optimize, resume_params,
)
from .graph.canonicalize import all_similarity_pairs
from .graph.materialize import (
    build_edges, edge_type_ids, filter_by_predicate_weights, materialize_graph,
    observed_predicates, similarity_edges,
)
from .output import filter_embeddings, write_tsv


def _stage_paths(work_dir: str, stage: str) -> tuple[str, str, str]:
    base = os.path.join(work_dir, stage)
    return os.path.join(base, "data"), os.path.join(base, "_lineage"), os.path.join(base, "_DONE")


def checkpoint_stage(df: DataFrame, work_dir: str, stage: str) -> DataFrame:
    """Write stage output + per-file lineage (north_rule), return the
    re-read DF (truncates lineage, makes the stage resumable). The write is
    the stage's only job: the re-read takes the DataFrame's own schema (no
    inference job) and the lineage rows come from the written files'
    parquet footers, read on the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data, lineage, done = _stage_paths(work_dir, stage)
    df.write.mode("overwrite").parquet(data)
    parts = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
    rows = [pq.ParquetFile(os.path.join(data, f)).metadata.num_rows for f in parts]
    shutil.rmtree(lineage, ignore_errors=True)
    os.makedirs(lineage)
    pq.write_table(pa.table({
        "partition_id": pa.array(range(len(rows)), pa.int32()),
        "rows": pa.array(rows, pa.int64()),
        "stage": [stage] * len(rows),
    }), os.path.join(lineage, "part-00000.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")
    return df.sparkSession.read.schema(df.schema).parquet(data)


def stage_done(work_dir: str, stage: str) -> bool:
    _, _, done = _stage_paths(work_dir, stage)
    return os.path.exists(done)


def load_stage(spark: SparkSession, work_dir: str, stage: str) -> DataFrame:
    data, _, _ = _stage_paths(work_dir, stage)
    return spark.read.parquet(data)


def _resumable(spark, work_dir, stage, build_fn, resume: bool, caches: list | None = None):
    """caches: DataFrames persisted by build_fn's internals; once the stage
    is checkpointed (durable), they are unpersisted — without this, every
    stage's intermediate caches survive the whole run."""
    if resume and work_dir and stage_done(work_dir, stage):
        return load_stage(spark, work_dir, stage)
    df = build_fn()
    if work_dir:
        out = checkpoint_stage(df, work_dir, stage)
        for c in caches or ():
            c.unpersist()
        return out
    return df


@dataclass
class PipelineResult:
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
    built: list[CoocResult] = []

    def build_cooc():
        res = bca_cooccurrence(
            nodes, all_edges,
            alpha=config.bca.alpha, epsilon=config.bca.epsilon,
            directed=config.bca.directed, normalize=config.bca.normalize,
        )
        built.append(res)
        cooc_caches.append(res.cooc)  # persisted inside bca_cooccurrence
        return res.cooc

    cooc_df = _resumable(spark, work_dir, "cooc", build_cooc, resume, caches=cooc_caches)
    # co_count/max_x/vocab come with a freshly built cooc; they are
    # checkpointed next to the cooc stage so a fully-resumed run loads
    # three numbers instead of re-scanning a potentially billions-row table
    meta_path = os.path.join(work_dir, "cooc", "_meta.json") if work_dir else None
    if built:
        res = built[0]
        meta = {"co_count": res.co_count, "max_x": res.max_x, "vocab_size": res.vocab_size}
    elif os.path.exists(meta_path):  # not built: loaded from its checkpoint
        with open(meta_path) as f:
            meta = json.load(f)
    else:
        # a checkpointed cooc stage without _meta.json: one aggregate pass
        agg = cooc_df.agg(F.count("*").alias("n"), F.max("x").alias("mx")).collect()[0]
        meta = {
            "co_count": int(agg["n"]),
            "max_x": float(agg["mx"]) if agg["mx"] is not None else 0.0,
            "vocab_size": nodes.count(),
        }
    if meta_path:
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    cooc = CoocResult(
        cooc=cooc_df, vocab_size=meta["vocab_size"], co_count=meta["co_count"],
        max_x=meta["max_x"],
    )

    embeddings = None
    history: list[float] = []
    if train:
        ckpt = os.path.join(work_dir, "params") if work_dir else None
        # mid-run training resume (north_rule): pick up from the last
        # COMPLETE per-epoch params checkpoint (parquet _SUCCESS marker)
        start_params, start_epoch = None, 0
        if resume and ckpt is not None:
            done_epochs = find_completed_epochs(ckpt)
            conv = converged_epoch(ckpt)
            finished = done_epochs and (
                max(done_epochs) + 1 >= config.opt.maxiter
                # the prior run's tolerance break is as final as maxiter:
                # resuming past it would retrain and CHANGE the embeddings
                or (conv is not None and conv <= max(done_epochs))
            )
            if finished:
                start_epoch = config.opt.maxiter
                start_params = resume_params(spark, ckpt, max(done_epochs))
            elif done_epochs:
                start_epoch = max(done_epochs) + 1
                start_params = resume_params(spark, ckpt, max(done_epochs))
        res = optimize(
            cooc.cooc, nodes,
            dim=config.dim, co_count=cooc.co_count, max_x=cooc.max_x,
            cost=config.method, method=config.opt.method,
            maxiter=config.opt.maxiter, tolerance=config.opt.tolerance,
            seed=config.seed, n_shards=n_shards, batch=batch,
            checkpoint_dir=ckpt, start_params=start_params, start_epoch=start_epoch,
        )
        history = res.cost_history
        trained_now = len(history) > 0  # history holds NEW epochs only
        if not trained_now and resume and work_dir and stage_done(work_dir, "embeddings"):
            # fully-resumed run: no epoch executed, so the checkpointed
            # embeddings are current — skip the join + PCA refit
            embeddings = load_stage(spark, work_dir, "embeddings")
        else:
            vecs = extract_embeddings(res.params)
            if config.pca is not None:
                # the reference declares pca.variance in every shipped config
                # but left the reduction TODO (Main.java:43-44) — real here
                from .glove.pca import pca_reduce

                vecs = pca_reduce(vecs, config.pca.variance)
            embeddings = vecs.join(nodes, "node_id").select(
                "node_id", "label", "node_type", "vec"
            )
            embeddings = _resumable(spark, work_dir, "embeddings", lambda: embeddings, False)
        if work_dir:
            export_dir = os.path.join(work_dir, "export")
            export_done = os.path.join(export_dir, "_DONE")
            # two global sorts: only re-export when something trained or the
            # prior export never finished
            if trained_now or not resume or not os.path.exists(export_done):
                filtered = filter_embeddings(embeddings, config.output)
                write_tsv(filtered, export_dir, config.output.name, config=config)
                with open(export_done, "w") as f:
                    f.write("ok\n")

    return PipelineResult(
        triples=triples, nodes=nodes, edges=all_edges, cooc=cooc,
        embeddings=embeddings, cost_history=history,
    )
