"""Embedding-quality metrics: cosine neighbor-rank + link prediction.

The acceptance style BASELINE.json north_star prescribes: training is
order/parallelism-sensitive, so goldens are metric thresholds, not float
vectors. Both metrics are pure DataFrame jobs (scale to any vocab):

  * cosine_neighbor_rank — for sampled (a, b) pairs known to be related
    (e.g. endpoints of high-weight co-occurrence entries), the rank of b in
    a's cosine-similarity neighbor list; quality = mean reciprocal rank.
  * link_prediction_auc — score(edge) = cosine(u, v); AUC of true edges vs
    hash-sampled negative pairs (computed via the rank-sum / Mann-Whitney
    formulation — one orderBy, no n² comparisons).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _norm_col(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, v: a + v.cast("double") * v))


def cosine_expr(va, vb):
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda a, v: a + v)
    return dot / (_norm_col(va) * _norm_col(vb) + F.lit(1e-12))


def cosine_neighbor_rank(embeddings: DataFrame, pairs: DataFrame) -> DataFrame:
    """pairs(a, b) -> (a, b, rank) where rank = position of b among ALL other
    nodes by cosine to a (1 = nearest). Intended for small probe sets: the
    probe side is `pairs`' distinct a's, the candidate side is the full
    vocab (a crossJoin bounded by |probes| × vocab)."""
    probes = pairs.select("a").distinct().join(
        embeddings.select(F.col("node_id").alias("a"), F.col("vec").alias("_va")), "a"
    )
    cands = embeddings.select(F.col("node_id").alias("b"), F.col("vec").alias("_vb"))
    scored = (
        probes.crossJoin(cands)
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", cosine_expr(F.col("_va"), F.col("_vb")).alias("cos"))
    )
    w = Window.partitionBy("a").orderBy(F.desc("cos"), "b")
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return pairs.join(ranked, ["a", "b"], "inner").select("a", "b", "rank", "cos")


def mean_reciprocal_rank(ranked: DataFrame) -> float:
    row = ranked.agg(F.avg(1.0 / F.col("rank")).alias("mrr")).collect()[0]
    return float(row["mrr"]) if row["mrr"] is not None else 0.0


def link_prediction_auc(
    embeddings: DataFrame, edges: DataFrame, neg_per_pos: int = 1, seed: int = 42
) -> float:
    """AUC of cosine scores separating true (src, dst) edges from random
    negatives — deterministic seeded-hash sampling, rank-sum (Mann-Whitney)
    with MIDRANKS for ties, one global sort, no pairwise compare.

    Negatives are drawn from the embedding table's ACTUAL node ids (hash
    into a dense index, join back) — hashing into [0, n) directly assumes
    contiguous ids and silently drops every negative on filtered/offset
    tables. Sampled self-pairs and accidental true edges are removed (both
    would be positives mislabeled 0, biasing AUC down)."""
    emb = embeddings.select("node_id", "vec")
    # dense index over whatever ids actually exist (probe-scale metric: the
    # single-partition window is fine at test sizes; at corpus scale use
    # the id dictionary that materialize_graph already maintains)
    indexed = emb.select("node_id").withColumn(
        "_idx", F.row_number().over(Window.orderBy("node_id")) - 1
    )
    n = indexed.count()
    pos = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.lit(1).alias("y"))
    neg = (
        edges.select("src", "dst")
        .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(neg_per_pos - 1))))
        .select(
            F.col("src").alias("a"),
            F.pmod(F.xxhash64("src", "dst", F.col("_r"), F.lit(seed)), F.lit(n)).alias("_idx"),
            F.lit(0).alias("y"),
        )
        .join(indexed, "_idx")
        .select("a", F.col("node_id").alias("b"), "y")
        .filter(F.col("a") != F.col("b"))
        .join(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"], "left_anti",
        )
    )
    both = pos.unionByName(neg)
    va = emb.select(F.col("node_id").alias("a"), F.col("vec").alias("_va"))
    vb = emb.select(F.col("node_id").alias("b"), F.col("vec").alias("_vb"))
    scored = both.join(va, "a").join(vb, "b").select(
        "y", cosine_expr(F.col("_va"), F.col("_vb")).alias("s")
    )
    ranked = scored.withColumn("_rn", F.row_number().over(Window.orderBy("s")))
    # midrank: ties share the mean of their row numbers (Mann-Whitney's
    # tie correction; raw row_number order within a tie is arbitrary)
    ranked = ranked.withColumn("r", F.avg("_rn").over(Window.partitionBy("s")))
    agg = ranked.groupBy("y").agg(F.sum("r").alias("rs"), F.count("*").alias("n")).collect()
    stats = {r["y"]: (r["rs"], r["n"]) for r in agg}
    if 1 not in stats or 0 not in stats:
        # loud failure, not a silent 0.0 (which reads as worst-possible
        # embeddings): on tiny/dense graphs the self-pair/true-edge
        # anti-join can eliminate every sampled negative
        missing = "negatives" if 0 not in stats else "positives"
        raise ValueError(
            f"link_prediction_auc: no {missing} to rank (graph too small/"
            f"dense for the negative sampler?) — AUC is undefined"
        )
    rs_pos, n_pos = stats[1]
    _, n_neg = stats[0]
    return float((rs_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))
