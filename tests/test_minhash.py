"""The MinHash kernel (datapipe.dedup.hashed_shingles with minhash=...)
against the JVM column expressions it replaces, kept here as the oracle:
signatures are min(xxhash64(i, shingle)) per hash i, band keys
xxhash64(band, its signature rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.datapipe.dedup import hashed_shingles


def minhash_signatures(df, id_col: str, shingle_col, num_hashes: int = 16):
    """(id, shingles) -> (id, h0..h{n-1}) via min(xxhash64(seed, shingle)).

    One explode + one groupBy; rows with zero shingles get Long.MAX sentinel
    signatures (they only collide with other empty strings)."""
    exploded = df.select(F.col(id_col).alias("_id"), F.explode_outer(shingle_col).alias("_sh"))
    aggs = [
        F.min(F.when(F.col("_sh").isNotNull(), F.xxhash64(F.lit(i), F.col("_sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = exploded.groupBy("_id").agg(*aggs)
    sentinel = F.lit(2**63 - 1)
    fixed = [F.coalesce(F.col(f"h{i}"), sentinel).alias(f"h{i}") for i in range(num_hashes)]
    return sig.select(F.col("_id").alias(id_col), *fixed)


def band_keys(sig_df, id_col: str, num_hashes: int, bands: int):
    """signatures -> (id, [bucket of band 0, ..., bucket of band bands-1])."""
    rows = num_hashes // bands
    keys = [
        F.xxhash64(F.lit(b), *[F.col(f"h{b * rows + r}") for r in range(rows)])
        for b in range(bands)
    ]
    return sig_df.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("_sig"),
        F.array(*keys).alias("_keys"),
    )


LABELS = [
    "Jürgen Müller", "Jurgen Muller", "東京大学 情報理工学", "東京大学 情報理工",
    "", None, "ab", "a", "   ", "  Mixed   CASE\tLabel  ",
    "Alice Smith", "Alice Smith", "alice smith", "Alice Smyth",
    "ÅÄÖ åäö ÆØ", "naïve café résumé", "x" * 40, "xy" * 20,
] + [f"Author Number {i} of the Graph" for i in range(30)]


@pytest.mark.parametrize("num_hashes,bands", [(64, 16), (32, 8), (16, 16)])
def test_minhash_kernel_matches_jvm_oracle(spark, num_hashes, bands):
    """Signatures and band keys are bit-identical to the JVM expressions:
    empty, NULL, shorter-than-k, whitespace-only, multi-byte UTF-8 and
    duplicate labels, over several Arrow batches per partition."""
    docs = spark.createDataFrame(list(enumerate(LABELS)), "id long, label string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = {
            r["id"]: (r["_sh"], r["_sig"], r["_keys"])
            for r in hashed_shingles(
                docs, 3, 2, id_col="id", text_col="label", minhash=(num_hashes, bands)
            ).collect()
        }
        shingles = hashed_shingles(docs, 3, 2, id_col="id", text_col="label")
        want = {
            r["id"]: (r["_sig"], r["_keys"])
            for r in band_keys(
                minhash_signatures(shingles, "id", F.col("_sh"), num_hashes),
                "id", num_hashes, bands,
            ).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert set(got) == set(want) == set(range(len(LABELS)))
    for i, (sh, sig, keys) in got.items():
        assert (sig, keys) == want[i], (i, LABELS[i])
        if not sh:
            assert sig == [2**63 - 1] * num_hashes, (i, LABELS[i])
    # duplicate labels collide in every band; the sentinel signatures of the
    # shingle-less labels ("", NULL, "ab", "a", "   ") all agree
    assert got[10][2] == got[11][2] == got[12][2]
    assert len({tuple(got[i][2]) for i in (4, 5, 6, 7, 8)}) == 1


def test_minhash_kernel_rejects_uneven_bands(spark):
    docs = spark.createDataFrame([(0, "abc")], "id long, label string")
    with pytest.raises(ValueError, match="must divide"):
        hashed_shingles(docs, 3, 1, id_col="id", text_col="label", minhash=(64, 6))
