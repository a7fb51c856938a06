"""MinHash + LSH banding: the JVM half of candidate generation.

Replaces the reference's O(n²) all-pairs CompareJob fan-out
(compare/CompareJob.java:11-54, driver loop Rdf2GrphConverter.java:127-186)
with the blocked approximate join BASELINE.json north_star names
("MinHash-LSH canonicalization of entity surface forms").

The signatures and band keys come from the numpy shingle kernel
(datapipe.dedup.hashed_shingles with minhash=...), which hashes with
Spark's xxhash64 bit for bit; this module derives the banding and runs the
bucket self-join over its rows. Determinism: hash seeds are literal ints,
so signatures are identical at any parallelism.

Scale guards:
  * ``max_bucket`` drops pathological LSH buckets (a band value shared by
    thousands of near-identical strings — the skew case north_rule calls
    out). Dropped buckets are counted and reported, not silently ignored
    (the pairs inside a giant bucket are near-certain duplicates of each
    other; callers that need them exactly use the exact-rescore path on the
    bucket representative).
  * candidate pairs are deduped with a<b before the expensive exact rescore.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def char_shingles_col(c, k: int = 3):
    """Distinct char k-shingles via sequence+transform (no Python UDF, but
    the transform lambda runs INTERPRETED — ~16 µs/element measured).
    ORACLE/BOUNDED PATHS ONLY: X7/X8 column metrics over candidate pairs
    and parity tests; corpus-scale candidate generation uses the numpy
    kernel (datapipe.dedup.hashed_shingles, 11.9x on 500-char strings)."""
    s = F.regexp_replace(c, r"\s+", " ")
    n = F.length(s) - (k - 1)
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(0)))
    arr = F.when(n >= 1, F.transform(idx, lambda i: F.substr(s, i, F.lit(k)))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(arr)


def word_shingles_col(c, n: int = 1):
    """Distinct word n-grams (lowercased, whitespace-split)."""
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    cnt = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(cnt - 1, F.lit(-1)))
    arr = F.when(cnt >= 1, F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(arr)


def derive_banding(
    threshold: float, num_hashes: int = 64, target_recall: float = 0.95
) -> tuple[int, int]:
    """(bands, rows_per_band) for a banded-MinHash join at `threshold`.

    Standard S-curve tuning: a pair with true jaccard j collides in at least
    one band with p = 1 − (1 − j^r)^b. Pick the MOST selective r (largest
    rows-per-band, steepest curve) whose recall at j = threshold still meets
    target_recall; b = num_hashes // r. This replaces fixed (16 bands × 2
    rows), which at θ=0.8 collided j=0.3 pairs with p≈0.78 — nearly
    all-pairs candidate generation. With the default 64 hashes at θ=0.8 this
    picks (16 bands × 4 rows): recall ≈ 0.9998, j=0.3 collision ≈ 0.12.
    """
    divisors = sorted(
        (r for r in range(1, num_hashes + 1) if num_hashes % r == 0), reverse=True
    )
    for r in divisors:
        b = num_hashes // r
        recall = 1.0 - (1.0 - threshold**r) ** b
        if recall >= target_recall:
            return b, r
    return num_hashes, 1


def derive_lsh_config(
    threshold: float, target_recall: float = 0.95
) -> tuple[int, int]:
    """(num_hashes, bands) choosing the signature LENGTH too.

    More hashes buy steeper S-curves but cost a linear amount of hashing per
    shingle, and extra bands at fixed rows-per-band only ADD false
    positives — so among configs meeting target_recall at `threshold`, pick
    the one minimizing the collision probability of a clearly-below-
    threshold pair (j = threshold − 0.25), tie-breaking toward the shorter
    signature. E.g. θ=0.8 → (32 hashes, 8 bands × 4 rows); θ=0.7 →
    (64, 16 × 4)."""
    j_bg = max(threshold - 0.25, threshold / 2.0)
    best = None
    for n in (16, 32, 64):
        b, r = derive_banding(threshold, n, target_recall)
        if 1.0 - (1.0 - threshold**r) ** b < target_recall:
            continue
        fp = 1.0 - (1.0 - j_bg**r) ** b
        if best is None or fp < best[0] - 1e-12:
            best = (fp, n, b)
    if best is None:
        return 64, derive_banding(threshold, 64, target_recall)[0]
    return best[1], best[2]


def packed_sig_bands(df: DataFrame, sig_col: str, bands: int, width: int, keep: list) -> DataFrame:
    """Packed-long signature -> (*keep, band, bucket) rows, where bucket b
    is bit-slice [b*width, (b+1)*width) of sig_col. ONE explode per row —
    the single band-derivation shared by simhash banding, hyperplane-LSH
    cosine dedup and LSH top-k so the bucket rule cannot drift per site."""
    mask = (1 << width) - 1
    subs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(sig_col), b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
        )
        for b in range(bands)
    ]
    return df.select(*keep, F.explode(F.array(*subs)).alias("_bb")).select(
        *keep, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs_filtered(
    keyed: DataFrame,
    id_col: str,
    num_hashes: int,
    max_bucket: int = 1000,
    est_min: float | None = None,
) -> DataFrame:
    """Band join + signature-estimate prefilter FUSED into one stage over
    the MinHash kernel's rows (id, _sig, _keys): one (band, bucket) row per
    band key, a self-join on it, pairs a < b.

    The signature rides along the banded rows as the _sig array<long>, so
    the matching-minhash-fraction estimate is computed inside the bucket
    join itself — before the distinct — instead of re-joining the signature
    table twice afterwards. est_min: drop pairs whose estimated jaccard
    (matching fraction) is below it; None keeps every bucket collision and
    leaves _sig out of the join. Both sides of the self-join read the one
    bucket-size window's shuffle (Spark reuses the exchange), so the kernel
    upstream runs once without a cache here."""
    sig = ["_sig"] if est_min is not None else []
    banded = keyed.select(id_col, *sig, F.posexplode("_keys").alias("band", "bucket"))
    sized = banded.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsz") <= max_bucket)
    a = sized.select(F.col(id_col).alias("a"), *[F.col(c).alias(c + "a") for c in sig], "band", "bucket")
    b2 = sized.select(F.col(id_col).alias("b"), *[F.col(c).alias(c + "b") for c in sig], "band", "bucket")
    joined = a.join(b2, ["band", "bucket"], "inner").filter(F.col("a") < F.col("b"))
    if est_min is not None:
        # matching-minhash count as a FOLD of per-index comparisons — fully
        # whole-stage-codegen (GetArrayItem + If), where the previous
        # zip_with/filter/size chain ran ~3·num_hashes interpreted lambda
        # evaluations per banded collision row (the repo's measured
        # ~16 µs/element HOF anti-pattern, on the bench's ~10^5-10^6
        # collision rows the dominant prefilter cost)
        matches = reduce(
            operator.add,
            [
                F.when(F.col("_siga").getItem(i) == F.col("_sigb").getItem(i), 1).otherwise(0)
                for i in range(num_hashes)
            ],
        )
        joined = joined.filter(matches >= F.lit(int(est_min * num_hashes + 0.999999)))
    return joined.select("a", "b").distinct()


def rare_shingle_pairs(
    df: DataFrame, id_col: str, shingle_col, keep_rarest: int | None = 4, max_df: int = 500
) -> DataFrame:
    """Shared-shingle blocking with a df cap (SURVEY.md §2 J1).

    keep_rarest=None joins on EVERY df-capped shingle — an inverted-index
    block whose recall is exact up to the max_df cap: any pair sharing at
    least one non-ubiquitous shingle meets. Use for set metrics (token
    jaccard/cosine), where similarity > 0 implies a shared shingle.

    keep_rarest=K joins on each string's K globally rarest shingles only
    (canonical order: df asc, shingle asc) — a HEURISTIC throttle for
    metrics with no set-overlap bound (jarowinkler/levenshtein over char
    shingles): pairs whose kept prefixes are disjoint are missed even
    above threshold, so K trades recall for candidate volume."""
    from pyspark.sql.window import Window

    ex = df.select(F.col(id_col).alias("_id"), F.explode(shingle_col).alias("_sh"))
    freq = ex.groupBy("_sh").agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_df)
    ranked = ex.join(freq, "_sh")
    if keep_rarest is not None:
        ranked = ranked.withColumn(
            "_rk", F.row_number().over(Window.partitionBy("_id").orderBy("_df", "_sh"))
        ).filter(F.col("_rk") <= keep_rarest)
    a = ranked.select(F.col("_id").alias("a"), "_sh")
    b = ranked.select(F.col("_id").alias("b"), "_sh")
    return a.join(b, "_sh").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
