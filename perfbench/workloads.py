"""The two workloads: their pipeline configs and the layer names.

web_kg is the graft's own path (web pages -> extraction -> graph ->
embeddings, via run_pipeline). rdf_kg is the reference's own entry point
(an RDF file -> read_rdf -> run_graph_pipeline) with no extraction, so the
graph, BCA and GloVe layers carry the work.
"""

from __future__ import annotations

WORKLOADS = ("web_kg", "rdf_kg")
EPOCHS = {"web_kg": 3, "rdf_kg": 4}

# stage checkpoint dir under work_dir -> layer
STAGE_LAYER = {
    "extract": "extract.text",
    "triples": "extract.triples",
    "nodes": "graph.nodes",
    "edges": "graph.edges",
    "sim_edges": "graph.sim_edges",
    "cooc": "bca.cooc",
    "embeddings": "glove.pca",
}
LAYERS = [
    "extract.text", "extract.triples", "sources.parse", "graph.nodes", "graph.edges",
    "graph.sim_edges", "bca.cooc", "glove.train", "glove.pca", "output.export",
]


def config(workload: str):
    from graph_embeddings_spark.config import (
        OptConfig, OutputConfig, PcaConfig, PipelineConfig, SimilarityGroup,
    )

    if workload == "web_kg":
        similarity = [
            SimilarityGroup("founded_year", "founded_year", method="numeric", threshold=0.5, smooth=0.5),
            SimilarityGroup("born_on", "born_on", method="date_days", threshold=0.5, smooth=0.5),
        ]
    else:
        from inputs import NAME, YEAR

        similarity = [
            SimilarityGroup(YEAR, YEAR, method="numeric", threshold=0.5, smooth=0.5),
            SimilarityGroup(NAME, NAME, method="ngram_jaccard", threshold=0.7, ngram=3),
        ]
    return PipelineConfig(
        dim=32,
        seed=42,
        similarity=similarity,
        opt=OptConfig(method="adagrad", tolerance=0.0, maxiter=EPOCHS[workload]),
        pca=PcaConfig(variance=0.95),
        output=OutputConfig(uri=[], literal=[]),
    )
