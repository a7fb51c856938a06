"""One benchmark process: a ready SparkSession and one pipeline call into
an empty work_dir.

Started by run.py, which times this process from its start, samples its
process tree from /proc, and checks what the call left in work_dir. With
--trace 1 the call is split into layer spans by wrapping each layer's
public entry point in the namespace pipeline.py imports it into, and the
counters that need Spark are taken after the call; without it, the call
runs unwrapped and the process exits right after it.

Writes one JSON result file (--result); every timestamp in it is
time.monotonic(), so run.py can line spans up with its /proc samples.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402
from workloads import STAGE_LAYER, config  # noqa: E402


def install_spans(tracer: Tracer) -> None:
    """Wrap every layer entry point pipeline.py calls, eager ones included
    (id assignment, similarity, BCA, training, PCA fit, export), plus the
    stage checkpoints where the lazy stages actually run."""
    from graph_embeddings_spark import pipeline
    from graph_embeddings_spark.glove import pca
    from graph_embeddings_spark.sources import reader

    def stage_arg(i):
        def name(args, kwargs):
            return STAGE_LAYER.get(kwargs.get("stage", args[i] if len(args) > i else None))
        return name

    tracer.wrap(pipeline, "checkpoint_stage", stage_arg(2))
    # the nodes stage's own span: what it does besides id assignment and
    # its checkpoint is the predicate scan over the source triples
    tracer.wrap(
        pipeline, "_resumable",
        lambda a, k: "sources.parse" if (a[2] if len(a) > 2 else k.get("stage")) == "nodes" else None,
    )
    tracer.wrap(pipeline, "materialize_graph", "graph.nodes")
    tracer.wrap(pipeline, "all_similarity_pairs", "graph.sim_edges")
    tracer.wrap(pipeline, "bca_cooccurrence", "bca.cooc")
    tracer.wrap(pipeline, "optimize", "glove.train")
    tracer.wrap(pca, "pca_reduce", "glove.pca")
    tracer.wrap(pipeline, "write_tsv", "output.export")
    tracer.wrap(reader, "read_rdf", "sources.parse")


def call_pipeline(spark, workload: str, input_path: str, seed: int, work_dir: str, cfg):
    from graph_embeddings_spark import pipeline
    from graph_embeddings_spark.sources import reader

    if workload == "web_kg":
        from graph_embeddings_spark.corpus import alias_dict_df
        from inputs import seeded_world

        world = seeded_world(seed)
        pages = spark.read.parquet(input_path)
        alias_df = alias_dict_df(spark, world)
        return pipeline.run_pipeline(
            spark, pages, alias_df, sorted(world.alias_map), cfg, work_dir=work_dir,
        )
    triples = reader.read_rdf(spark, input_path)
    return pipeline.run_graph_pipeline(spark, triples, cfg, work_dir=work_dir)


def spark_counters(spark, workload: str, seed: int, work_dir: str, input_path: str) -> dict:
    """Traced-run counters that need Spark: surface triples before linking
    (web_kg), and parse rejects and parsed rows per partition (rdf_kg)."""
    from pyspark.sql import functions as F

    if workload == "web_kg":
        from graph_embeddings_spark.extract.triples import extract_surface_triples
        from graph_embeddings_spark.pipeline import load_stage
        from inputs import seeded_world

        pages = load_stage(spark, work_dir, "extract")
        aliases = sorted(seeded_world(seed).alias_map)
        return {"surface_triples": extract_surface_triples(pages, aliases, text_col="text").count()}
    from graph_embeddings_spark.sources.ntriples import parse_errors
    from graph_embeddings_spark.sources.reader import read_rdf

    per_part = read_rdf(spark, input_path).groupBy(F.spark_partition_id().alias("p")).count()
    return {
        "parse_rejects": parse_errors(spark.read.text(input_path)).count(),
        "parse_rows": [r["count"] for r in per_part.collect()],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("web_kg", "rdf_kg"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from graph_embeddings_spark.session import get_spark

    spark = get_spark("perfbench", cores=os.cpu_count())
    spark.range(1).count()
    result: dict = {"ready": time.monotonic(), "error": None}

    cfg = config(args.workload)
    os.makedirs(args.work_dir)
    tracer = Tracer() if args.trace else None
    if tracer:
        install_spans(tracer)
        root = tracer.open("pipeline")
    t0 = time.monotonic()
    try:
        res = call_pipeline(spark, args.workload, args.input, args.seed, args.work_dir, cfg)
        result["cost_history"] = res.cost_history
    except Exception:  # a failed call is reported as a failure, not a crash
        result["error"] = traceback.format_exc()
    t1 = time.monotonic()
    if tracer:
        tracer.close(root)
        tracer.restore()
        result["spans"] = tracer.to_json()
        result["run_id"] = tracer.run_id
        # the traced call is the root span, so self times sum to exactly it
        t0, t1 = tracer.spans[root].start, tracer.spans[root].end
        if result["error"] is None:
            result["spark_counters"] = spark_counters(
                spark, args.workload, args.seed, args.work_dir, args.input,
            )
    result["call"] = [t0, t1]
    with open(args.result, "w") as f:
        json.dump(result, f)
    # no spark.stop(): run.py ends every process of the run and removes the
    # Spark local dirs, which is quicker than an orderly JVM shutdown
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
