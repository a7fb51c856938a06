"""Output filtering + TSV formats (EmbeddingTextWriter semantics F2/F3/S3)."""

from __future__ import annotations

from graph_embeddings_spark.config import BLANK, LITERAL, URI, OutputConfig
from graph_embeddings_spark.output import dict_line, filter_embeddings, vector_line


def _emb(spark):
    rows = [
        (0, "http://a/x", URI, [0.5, -0.25]),
        (1, "http://b/y", URI, [1.0, 2.0]),
        (2, "_:b0", BLANK, [0.0, 0.1]),
        (3, "some literal", LITERAL, [0.25, 0.5]),
    ]
    return spark.createDataFrame(
        rows, "node_id long, label string, node_type tinyint, vec array<float>"
    )


def test_type_filter(spark):
    out = OutputConfig(uri=[], blank=None, literal=None)  # only URIs
    got = filter_embeddings(_emb(spark), out)
    assert {r["node_id"] for r in got.collect()} == {0, 1}


def test_prefix_filter_any_match(spark):
    """F3: keep keys matching ANY configured prefix; [] keeps all of type."""
    out = OutputConfig(uri=["http://a/"], literal=[])
    got = {r["node_id"] for r in filter_embeddings(_emb(spark), out).collect()}
    assert got == {0, 3}


def test_vectors_tsv_format(spark):
    """%11.6E floats, tab-joined (EmbeddingTextWriter.java:133-136)."""
    df = _emb(spark).filter("node_id = 0")
    line = df.select(vector_line()).first()[0]
    assert line == "5.000000E-01\t-2.500000E-01"


def test_dict_tsv_format(spark):
    df = _emb(spark).filter("node_id = 3")
    line = df.select(dict_line()).first()[0]
    assert line == "some literal\tLITERAL"


def test_dict_tsv_strips_tabs(spark):
    df = spark.createDataFrame(
        [(9, "bad\tkey\nhere", URI, [0.0])],
        "node_id long, label string, node_type tinyint, vec array<float>",
    )
    line = df.select(dict_line()).first()[0]
    assert "\n" not in line and line.count("\t") == 1


def test_config_header_golden():
    """EmbeddingTextWriter.writeConfig (:41-70) line-for-line."""
    from graph_embeddings_spark.config import (
        BcaConfig, OptConfig, PipelineConfig, SimilarityGroup,
    )
    from graph_embeddings_spark.output import config_header_lines

    cfg = PipelineConfig(
        graph="data/dblp.ttl", dim=16, threads=4,
        weights={"knows": 1.0, "cites": 2.5},
        similarity=[
            SimilarityGroup("p1", "p2", method="ngram_jaccard", threshold=0.8, ngram=2),
            SimilarityGroup("d1", "d1", method="date_days", threshold=0.5,
                            pattern="iso", time="backwards"),
        ],
        bca=BcaConfig(alpha=0.05, epsilon=0.001, directed=True, normalize="unity"),
        opt=OptConfig(method="adam", tolerance=1e-6, maxiter=100),
    )
    assert config_header_lines(cfg) == [
        "# Starting the embedding creation process with following settings:",
        "# Graph File: data/dblp.ttl",
        "# Embedding dimensions: 16",
        "# Threads: 4",
        "# BCA Alpha: 0.05",
        "# BCA Epsilon: 0.001",
        "# BCA Directed: true",
        "# BCA normalize: unity",
        "# Gradient Descent Algorithm: adam",
        "# glove Tolerance: 1e-06",
        "# glove Maximum Iterations: 100",
        "# No PCA will be performed",
        "# Using weights, predicates that are not listed are ignored:",
        "# knows: 1.0",
        "# cites: 2.5",
        "# Using the following similarity metrics:",
        "# p1 -> p2",
        "# method:ngram_jaccard, threshold: 0.8, ngram: 2",
        "# d1 -> d1",
        "# method:date_days, threshold: 0.5, pattern:iso, smooth: 0.5, time: backwards",
    ]


def test_write_tsv_header_and_alignment(spark, tmp_path):
    """Both files start with the header; data rows follow in node_id order."""
    from graph_embeddings_spark.config import PipelineConfig
    from graph_embeddings_spark.output import write_tsv

    cfg = PipelineConfig(graph="g.ttl", dim=2)
    out = str(tmp_path / "export")
    write_tsv(_emb(spark), out, "emb", config=cfg)
    import glob

    def read_all(subdir):
        lines = []
        for part in sorted(glob.glob(f"{out}/{subdir}/part-*")):
            with open(part) as f:
                lines += [l.rstrip("\n") for l in f]
        return lines

    vec = read_all("emb.vectors.tsv")
    dic = read_all("emb.dict.tsv")
    assert vec[0] == "# Starting the embedding creation process with following settings:"
    assert dic[0] == vec[0]
    n_hdr = sum(1 for l in vec if l.startswith("#"))
    assert vec[:n_hdr] == dic[:n_hdr]
    # alignment: row i of vectors corresponds to row i of dict
    assert len(vec) == len(dic)
    assert dic[n_hdr].startswith("http://a/x\t")
