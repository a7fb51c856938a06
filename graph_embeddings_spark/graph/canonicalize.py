"""Similarity matching / canonicalization (J1/J2, SURVEY.md §2.3).

The reference compares every (source-predicate literal, target-predicate
literal) pair with a string metric and adds bidirectional weight=sim,
type-0 edges for pairs >= threshold (CompareJob.java:11-54,
Rdf2GrphConverter.java:127-186). That all-pairs compare is O(n²); here it is
re-architected (sanctioned by north_star) as:

    candidates:   MinHash-LSH banded self/cross join over vectorized
                  numpy-hashed char-shingles (token/ngram/string metrics),
                  or value-bucket banding (numeric/date metrics) —
                  skew-guarded;
    exact score:  functions.similarity.similarity_col, the one column form
                  of each metric: whole-stage codegen where the JVM
                  measurably wins (levenshtein/numeric/date), else an
                  Arrow-batched pandas UDF over the reference scalar;
    accept:       sim >= threshold; upper-triangle only when source==target
                  predicate (CompareJob.java:28,37-40: self pairs skipped).

Output pairs(a, b, sim) feed graph.materialize.similarity_edges (J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import LITERAL, SimilarityGroup
from ..functions.lsh import rare_shingle_pairs, word_shingles_col
from ..functions.similarity import similarity_col, value_col

_STRING_METRICS = {
    "jarowinkler", "levenshtein", "token_jaccard", "token_cosine",
    "ngram_jaccard", "ngram_cosine",
}


def _hashed_label_shingles(pool: DataFrame, k: int, minhash: tuple[int, int] | None = None) -> DataFrame:
    """(id, label, ...) -> (id, _sh array<long>[, _sig, _keys]) via the
    Arrow-batched numpy shingle kernel (datapipe.dedup.hashed_shingles) —
    candidate generation never runs the interpreted char_shingles_col HOF at
    corpus scale; with minhash=(num_hashes, bands) the same pass yields the
    MinHash signatures and LSH band keys. Measured (shingle+32-hash
    signatures, local[8], 5k rows):
    ~500-char literals HOF 13.2s vs numpy 1.1s (11.9x); ~30-char labels
    HOF 0.80s vs numpy 1.16s — the short-label deficit is the Python
    stage's FIXED startup/Arrow overhead, which amortizes with row count,
    while the HOF cost grows per shingle forever (the 10^9-literal case
    VERDICT r4 #3 flags). The kernel additionally lowercases and strips
    where the column form only collapses whitespace. Lowercasing only
    merges shingles, but the leading/trailing strip DELETES the edge grams
    that held a boundary space, so a pair whose only shared shingles span
    a label's padded edge loses that evidence and its MinHash estimate
    shifts. Both paths are candidate heuristics: exactness comes from the
    rescore. char_shingles_col remains the parity oracle in
    tests/test_datapipe.py."""
    from ..datapipe.dedup import hashed_shingles

    n_part = pool.sparkSession.sparkContext.defaultParallelism
    return hashed_shingles(pool, k, n_part, id_col="id", text_col="label", minhash=minhash)


def _exact_rescore(pairs_labeled: DataFrame, group: SimilarityGroup) -> DataFrame:
    sim = similarity_col(
        group.method,
        F.col("label_a"),
        F.col("label_b"),
        ngram=group.ngram,
        smooth=group.smooth,
        distance=group.threshold_distance,
        pattern=group.pattern,
        time=group.time,
    )
    return pairs_labeled.withColumn("sim", sim)


def _numeric_buckets(df: DataFrame, group: SimilarityGroup) -> DataFrame:
    """Bucket-band blocking for numeric/date groups: candidates are pairs in
    the same or adjacent value bucket, where the bucket width is the maximum
    span the threshold can accept:  sim >= θ  ⇔  ||a-b|-dist| <= θ^(1/(s-1))-1."""
    radius = max(1.0, group.threshold ** (1.0 / (group.smooth - 1.0)) - 1.0 + group.threshold_distance)
    if group.method.startswith("date_"):
        # converting a month/year delta bound to DAYS must over-cover: a
        # months-delta of r can span up to 31*(r+1)-1 days (Jan 1 -> Feb 28
        # is 58 days but months=1, ChronoUnit truncation), so the day-space
        # radius is (r+1)*unit — a true upper bound on the accepted span
        if group.method == "date_days":
            pass
        elif group.method == "date_months":
            radius = (radius + 1.0) * 31.0
        else:  # date_years
            radius = (radius + 1.0) * 366.0
        # malformed literals parse to NULL (dropped), not an ANSI error
        val = F.unix_date(value_col(group.method, F.col("label"), group.pattern))
    else:
        val = value_col(group.method, F.col("label"))
    width = int(radius) + 1
    with_b = df.withColumn("_v", val).filter(F.col("_v").isNotNull()).withColumn(
        "_bucket", F.floor(F.col("_v") / width)
    )
    off = with_b.select(
        F.col("id"),
        F.explode(
            F.transform(
                F.array(F.lit(-1), F.lit(0), F.lit(1)),
                lambda o: o.cast("long") + F.col("_bucket"),
            )
        ).alias("_b"),
    )
    a = off.select(F.col("id").alias("a"), "_b")
    b = with_b.select(F.col("id").alias("b"), F.col("_bucket").alias("_b"))
    return a.join(b, "_b").filter(F.col("a") < F.col("b")).select("a", "b").distinct()


def similarity_pairs(nodes: DataFrame, group: SimilarityGroup) -> DataFrame:
    """nodes(node_id, label, node_type, pred_ctx) -> pairs(a, b, sim>=θ).

    Cross-predicate groups (source != target) compare source literals against
    target literals (both directions of the pair recorded once, a<b on the
    union id space — matching the reference's no-upper-triangle mode,
    Rdf2GrphConverter.java:50).
    """
    lits = nodes.filter(F.col("node_type") == LITERAL)
    same = group.source_predicate == group.target_predicate
    src = lits.filter(F.col("pred_ctx") == group.source_predicate)
    tgt = lits.filter(F.col("pred_ctx") == group.target_predicate)
    pool = src if same else src.unionByName(tgt).distinct()
    pool = pool.select(F.col("node_id").alias("id"), "label", "pred_ctx")

    if group.method in _STRING_METRICS:
        if group.method in ("token_jaccard", "token_cosine"):
            # token metrics: block on ALL df-capped shared tokens
            # (keep_rarest=None) — any pair with token similarity > 0
            # shares a word, so recall IS exact up to the max_df skew cap.
            # (A fixed rarest-K prefix would miss above-threshold pairs
            # whose kept prefixes are disjoint; char-shingle LSH
            # under-recalls token-level similarity.)
            toks = word_shingles_col(F.col("label"), 1)
            cands = rare_shingle_pairs(
                pool.withColumn("_sh", toks), "id", F.col("_sh"), keep_rarest=None
            )
        elif group.method in ("jarowinkler", "levenshtein"):
            # no set-overlap bound exists for these metrics: rarest-4
            # char-3-gram blocking is an explicit recall/volume HEURISTIC
            # (hash order replaces string order as the equal-df tie-break —
            # still deterministic, still a heuristic)
            cands = rare_shingle_pairs(
                _hashed_label_shingles(pool, 3), "id", F.col("_sh")
            )
        else:  # ngram_jaccard / ngram_cosine: banded MinHash over char shingles
            from ..functions.lsh import derive_lsh_config, lsh_candidate_pairs_filtered

            # (num_hashes, bands) derived from the group's threshold
            # (S-curve) so the candidate volume tracks the acceptance bar
            # instead of degenerating to all-pairs at high thresholds
            n_hashes, bands = derive_lsh_config(group.threshold)
            keyed = _hashed_label_shingles(pool, group.ngram, minhash=(n_hashes, bands))
            cands = lsh_candidate_pairs_filtered(keyed, "id", n_hashes)
    else:
        cands = _numeric_buckets(pool, group)

    if not same:
        # keep only cross-predicate pairs
        side = pool.select("id", "pred_ctx")
        cands = (
            cands.join(side.withColumnRenamed("id", "a").withColumnRenamed("pred_ctx", "pa"), "a")
            .join(side.withColumnRenamed("id", "b").withColumnRenamed("pred_ctx", "pb"), "b")
            .filter(F.col("pa") != F.col("pb"))
            .select("a", "b")
        )

    labels = pool.select("id", "label")
    labeled = (
        cands.join(labels.select(F.col("id").alias("a"), F.col("label").alias("label_a")), "a")
        .join(labels.select(F.col("id").alias("b"), F.col("label").alias("label_b")), "b")
    )
    scored = _exact_rescore(labeled, group)
    return scored.filter(F.col("sim") >= group.threshold).select("a", "b", "sim")


def all_similarity_pairs(nodes: DataFrame, groups: list[SimilarityGroup]) -> DataFrame | None:
    out = None
    for g in groups:
        p = similarity_pairs(nodes, g)
        out = p if out is None else out.unionByName(p)
    return out
