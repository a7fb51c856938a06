"""JVM-parity for the numpy XXH64 kernels and the two Arrow hot paths that
consume them: the SimHash bit-vote (datapipe/dedup.simhash_df must be
byte-identical to the reference column form simhash_col) and the hyperplane
sign buckets (with_hyperplane_sig vs the interpreted hyperplane_signs)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.functions.xxh64 import xxh64, xxh64_int_np, xxh64_long_np


def xxh64_str(s: str, seed: int = 42) -> int:
    """Signed 64-bit hash of a string's UTF-8 bytes — exactly
    ``F.xxhash64(lit(s))``."""
    h = xxh64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def test_xxh64_string_matches_spark(spark):
    # lengths cross every code path: empty, <4, <8, 8..31, >=32 (stripes)
    strs = [
        "", "a", "ab", "abc", "abcd", "hello", "x" * 7, "x" * 8, "x" * 9,
        "y" * 15, "z" * 16, "w" * 31, "v" * 32, "u" * 33,
        "the quick brown fox jumps over the lazy dog",
        "unicodé-ümlaut-日本語",
    ]
    got = (
        spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in got:
        assert xxh64_str(r["s"]) == r["h"], repr(r["s"])


def test_xxh64_int_long_match_spark(spark):
    ints = [0, 1, 42, -1, -42, 2**31 - 1, -(2**31)]
    got = (
        spark.createDataFrame([(i,) for i in ints], "i int")
        .select(F.xxhash64("i").alias("h")).collect()
    )
    mine = xxh64_int_np(
        np.array([i & 0xFFFFFFFF for i in ints], dtype=np.uint64), np.uint64(42)
    ).view(np.int64)
    assert [int(m) for m in mine] == [r["h"] for r in got]

    longs = [0, 1, 42, -1, 2**63 - 1, -(2**63), 123456789012345]
    got = (
        spark.createDataFrame([(i,) for i in longs], "l long")
        .select(F.xxhash64("l").alias("h")).collect()
    )
    mine = xxh64_long_np(np.array(longs, dtype=np.int64).view(np.uint64), np.uint64(42)).view(np.int64)
    assert [int(m) for m in mine] == [r["h"] for r in got]


def test_xxh64_seed_chain_matches_spark(spark):
    got = (
        spark.createDataFrame([(d,) for d in range(6)], "d int")
        .select(F.xxhash64(F.lit(7), F.lit(3), "d").alias("h")).collect()
    )
    h = xxh64_int_np(np.uint64(7), np.uint64(42))
    h = xxh64_int_np(np.uint64(3), h)
    h = xxh64_int_np(np.arange(6, dtype=np.uint64), h).view(np.int64)
    assert [int(m) for m in h] == [r["h"] for r in got]


SIMHASH_CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  quick  brown fox jumps over the lazy DOG"),
    (2, "a completely different document about spark engines"),
    (3, ""),                      # empty -> split yields [""]
    (4, "   "),                   # trim-to-empty
    (5, "single"),
    (6, "tab\tseparated\ttokens and\nnewlines"),
    (7, "punctuation, counts! as-token chars."),
    (8, "repeated repeated repeated distinct"),
    (9, "trailing whitespace \t"),
    (10, "unicodé tökens 日本語 here"),
    (11, None),                   # null text -> null simhash
]


def test_simhash_df_parity_with_column_form(spark):
    """The shipping Arrow kernel must be BYTE-IDENTICAL to the reference
    column form (VERDICT r2 #1: same inversion as the MinHash shingler)."""
    from graph_embeddings_spark.datapipe.dedup import simhash_col, simhash_df

    docs = spark.createDataFrame(SIMHASH_CORPUS, "doc_id long, text string")
    ref = {
        r["doc_id"]: r["sim"]
        for r in docs.select("doc_id", simhash_col(F.col("text")).alias("sim")).collect()
    }
    got = {r["id"]: r["sim"] for r in simhash_df(docs).collect()}
    assert got == ref


def test_simhash_df_parity_on_synthetic_corpus(spark, world):
    from graph_embeddings_spark.corpus import web_pages_df
    from graph_embeddings_spark.datapipe.dedup import simhash_col, simhash_df
    from graph_embeddings_spark.extract.text import with_extracted_text

    pages = web_pages_df(spark, world, 60, partitions=4)
    docs = with_extracted_text(pages, min_parallelism=0).select(
        F.xxhash64("url").alias("doc_id"), F.col("extracted_text").alias("text")
    )
    ref = {
        r["doc_id"]: r["sim"]
        for r in docs.select("doc_id", simhash_col(F.col("text")).alias("sim")).collect()
    }
    got = {r["id"]: r["sim"] for r in simhash_df(docs).collect()}
    assert got == ref


def test_hyperplane_matrix_matches_column_values(spark):
    """Plane components from the numpy generator == the JVM column recipe."""
    from graph_embeddings_spark.datapipe.ann import hyperplane_matrix

    n_planes, dim, seed = 4, 6, 42
    planes = hyperplane_matrix(n_planes, dim, seed)
    for p in range(n_planes):
        comps = (
            spark.range(1)
            .select(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda d: F.xxhash64(F.lit(seed), F.lit(p), d).cast("double")
                    / F.lit(float(2**63)),
                ).alias("c")
            )
            .collect()[0]["c"]
        )
        assert np.allclose(planes[p], comps, rtol=0, atol=0)


def test_with_hyperplane_sig_parity_with_column_form(spark):
    from graph_embeddings_spark.datapipe.ann import hyperplane_signs, with_hyperplane_sig

    rng = np.random.default_rng(13)
    dim = 16
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ref = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", hyperplane_signs(F.col("embedding"), 8, dim, 42).alias("s")
        ).collect()
    }
    got = {
        r["vec_id"]: r["_sig"]
        for r in with_hyperplane_sig(df, "embedding", 8, dim, 42).collect()
    }
    assert got == ref


def test_hyperplane_seed_contract():
    """Bit-parity between the numpy plane matrix and the column form only
    holds for int32 seeds (F.lit type switches the JVM hash path) — both
    forms must reject anything wider, and negative int32 seeds must work
    (JVM hashInt zero-extends the 4-byte value; np.uint64(-1) would throw)."""
    import pytest

    from graph_embeddings_spark.datapipe.ann import hyperplane_matrix, hyperplane_signs

    m = hyperplane_matrix(2, 3, seed=-7)  # must not OverflowError
    assert m.shape == (2, 3)
    for bad in (1 << 31, -(1 << 31) - 1, 1 << 40):
        with pytest.raises(ValueError, match="int32"):
            hyperplane_matrix(2, 3, seed=bad)
        with pytest.raises(ValueError, match="int32"):
            hyperplane_signs(None, 2, 3, seed=bad)


def test_hyperplane_negative_seed_parity(spark):
    """Negative int32 seed: numpy matrix values == column-form values."""
    import numpy as np
    from pyspark.sql import functions as F

    from graph_embeddings_spark.datapipe.ann import hyperplane_matrix

    n_planes, dim, seed = 2, 3, -7
    planes = hyperplane_matrix(n_planes, dim, seed)
    cols = [
        (F.xxhash64(F.lit(seed), F.lit(p), F.lit(d)).cast("double") / F.lit(float(2**63))).alias(f"c{p}_{d}")
        for p in range(n_planes) for d in range(dim)
    ]
    row = spark.range(1).select(*cols).collect()[0]
    got = np.array([row[f"c{p}_{d}"] for p in range(n_planes) for d in range(dim)]).reshape(n_planes, dim)
    assert np.array_equal(planes, got)
