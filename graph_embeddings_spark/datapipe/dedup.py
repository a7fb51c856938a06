"""Document deduplication operators for large-scale training-data pipelines.

Five strategies over documents(doc_id, text, ...), each a composable
DataFrame stage; all deterministic (literal hash seeds), all shuffle-aware:

  exact          md5-of-normalized-text groupBy; one shuffle on the hash.
  ngram_jaccard  char-3-gram shingle sets, pair jaccard >= threshold;
                 blocking via shared-shingle join (prefix filter), exact
                 jaccard JVM-side.
  minhash_lsh    banded MinHash candidates (signatures and band keys from
                 the numpy shingle kernel, no MLlib boxing), exact-rescore.
  simhash        64-bit simhash from token hashes; near-dup = hamming <= k
                 on block-rotated keys (pigeonhole: 4 16-bit bands).
  embedding      cosine >= threshold over embedding vectors; candidate
                 blocking by LSH sign-bands or brute pairs for small sets.

Operators that persist intermediates (minhash/simhash/cosine-lsh) accept
a cache_registry list: appended DataFrames are the caller's to unpersist
once results are consumed (None = rely on GC/ContextCleaner).

At 10^12-doc scale: exact + minhash are the workhorses (linear + banded);
ngram-jaccard exact pair join only runs *within* LSH/blocking candidates;
the shared-shingle block join caps bucket sizes like functions/lsh.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..functions.lsh import word_shingles_col


def norm_text_col(c=None):
    """Canonical normalization shared with the DuckDB oracles:
    lower(trim(collapse whitespace))."""
    c = c if c is not None else F.col("text")
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """-> (keep_id, n_dups): representative = min doc_id per md5(norm text).
    Hash-groupBy; the canonical exact-dedup at any scale."""
    return (
        docs.select(F.col("doc_id"), F.md5(norm_text_col()).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def char_ngrams_distinct(c, k: int = 3):
    """Distinct char k-grams of the normalized text (JVM sequence/transform).

    REFERENCE FORM ONLY: higher-order functions run interpreted (~16 µs per
    element measured), so at corpus scale this was the dominant shingling
    cost. Kept as the parity oracle for `hashed_shingles` (for k <= 8 the
    numpy kernel's hash is a bijection of the byte k-gram, so jaccard over
    the two forms is IDENTICAL on ASCII text — tested in test_datapipe);
    not used in any shipping path."""
    s = norm_text_col(c)
    n = F.length(s) - (k - 1)
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(0)))
    arr = F.when(n >= 1, F.transform(idx, lambda i: F.substr(s, i, F.lit(k)))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(arr)


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8, k: int = 3, max_df: int | None = None
) -> DataFrame:
    """-> (a, b, jac) for doc pairs with |A∩B|/|A∪B| >= threshold, a < b.

    Exact: candidates = pairs sharing ANY shingle (guarantees recall for
    jaccard > 0 thresholds), intersection counted by the shingle join
    itself — one explode + one shuffle join + one groupBy. max_df drops
    ubiquitous shingles (skew guard): jaccard is then computed over the
    df-capped shingle universe — sizes AND intersections both come from
    the filtered relation, so identical docs still score 1.0 and pairs
    whose similarity lives only in dropped shingles are missed (the
    documented trade); computing sizes unfiltered would instead
    systematically UNDERestimate every pair sharing a dropped shingle.
    None = exact.

    Shingling runs through the Arrow-batched numpy kernel (hashed_shingles
    — VERDICT r4 #3; char_ngrams_distinct is its parity oracle): the join/
    groupBy pipeline below is unchanged but keys are primitive longs, and
    for k <= 8 the hash is injective so the jaccard is EXACT, not an
    approximation (byte-grams == char-grams on ASCII; byte-level shingling
    on multi-byte UTF-8, documented in _shingle_hashes_np)."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    sh = hashed_shingles(docs, k, n_part).select("id", F.explode("_sh").alias("sh"))
    if max_df is not None:
        keep = sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df)
        sh = sh.join(keep.select("sh"), "sh")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("a"), "sh")
    b = sh.select(F.col("id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn("jac", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jac") >= threshold)
        .select("a", "b", "jac")
    )


_WS_RE = None  # compiled lazily inside the worker


def _shingle_hashes_np(text: str, k: int):
    """Distinct 64-bit hashes of the byte k-grams of the normalized text,
    fully numpy-vectorized (sliding window + polynomial code + splitmix64
    finalizer). For k <= 8 the base-256 code is byte-packing — a BIJECTION
    with the k-gram (max value 2^64-1 at k=8, no wraparound) — and the
    finalizer is a bijection on uint64, so jaccard over these hash sets
    EQUALS jaccard over the byte k-gram sets: no collision approximation.
    (Base 257 is NOT injective at k=8: its code range exceeds 2^64 and
    wraps.) For k > 8 no 64-bit code can be injective (256^k > 2^64);
    base 257 — odd, hence invertible mod 2^64, every position keeps a
    nonzero weight — is used with documented hash-collision probability
    ~2^-64 per gram pair. Byte-grams == char-grams on ASCII text; for
    multi-byte UTF-8 the scheme is a (documented) byte-level shingling."""
    import re as _re

    import numpy as np

    global _WS_RE
    if _WS_RE is None:
        # Java's \s (ASCII-only: [ \t\n\x0b\f\r]) — Python's \s and bare
        # str.strip() additionally treat \x1c-\x1f as whitespace, which
        # broke byte-parity with norm_text_col on control-char text
        # (hypothesis-found); space-only strip mirrors F.trim exactly
        _WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")
    s = _WS_RE.sub(" ", text).strip(" ").lower()
    b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
    if len(b) < k:
        return np.empty(0, dtype=np.int64)
    w = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    base = np.uint64(256 if k <= 8 else 257)
    with np.errstate(over="ignore"):
        weights = base ** np.arange(k - 1, -1, -1, dtype=np.uint64)
        z = (w * weights).sum(axis=1, dtype=np.uint64)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return np.unique(z).view(np.int64)


# a MinHash value for a doc with no shingles: such docs only collide with
# each other
_EMPTY_SIG = 2**63 - 1


def _minhash_np(flat, lens, num_hashes: int, bands: int):
    """(n, num_hashes) MinHash signatures and (n, bands) LSH bucket keys of
    n shingle sets, given as one int64 array `flat` cut by `lens`.

    Bit-identical to the column expressions ``min(xxhash64(lit(i), sh))``
    (Long.MAX for an empty set) and ``xxhash64(lit(b), h_{b*r}, ...,
    h_{b*r+r-1})`` for band b of r rows: Spark folds xxhash64 over its
    arguments from seed 42, an int literal through hashInt and a long
    through hashLong. One hash seed at a time, so the temporaries are a
    few arrays of the batch's shingle count, never shingles x num_hashes."""
    from ..functions.xxh64 import xxh64_int_np, xxh64_long_np

    seed = np.uint64(42)
    sig = np.full((len(lens), num_hashes), _EMPTY_SIG, dtype=np.int64)
    nonempty = lens > 0
    if flat.size:
        starts = (np.cumsum(lens) - lens)[nonempty]
        u = flat.view(np.uint64)
        for i in range(num_hashes):
            h = xxh64_long_np(u, xxh64_int_np(np.uint64(i), seed)).view(np.int64)
            sig[nonempty, i] = np.minimum.reduceat(h, starts)
    rows = num_hashes // bands
    keys = np.empty((len(lens), bands), dtype=np.int64)
    for b in range(bands):
        h = xxh64_int_np(np.uint64(b), seed)
        for j in range(b * rows, (b + 1) * rows):
            h = xxh64_long_np(sig[:, j].view(np.uint64), h)
        keys[:, b] = h.view(np.int64)
    return sig, keys


def hashed_shingles(
    docs: DataFrame, k: int, n_part: int, id_col: str = "doc_id", text_col: str = "text",
    minhash: tuple[int, int] | None = None,
) -> DataFrame:
    """(id_col, text_col) -> (id, _sh array<long>): Arrow-batched numpy
    shingler — the single candidate-generation shingle kernel (MinHash
    dedup, ngram-jaccard blocking, J1 canonicalization).

    minhash=(num_hashes, bands) adds, from the same hashed shingles,
    `_sig` (the num_hashes MinHash values) and `_keys` (one LSH bucket per
    band; see _minhash_np), so banded MinHash is one Python stage from text
    to band keys with no explode/aggregate in between.

    This is deliberately a Python stage: Spark's higher-order functions are
    INTERPRETED (measured ~16 μs per element — 4.7 s for 1000 300-char
    docs), while the vectorized rolling hash does the same work in ~5 ms.
    'UDFs are the slow path' inverts when the built-in alternative never
    enters codegen. Explicit repartition: the stage is CPU-bound on tiny
    bytes, so AQE byte-coalescing must not collapse it."""
    import pyarrow as pa

    schema = "id long, _sh array<long>"
    if minhash is not None:
        num_hashes, bands = minhash
        if num_hashes % bands:
            raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
        schema += ", _sig array<long>, _keys array<long>"

    def lists(flat, lens):
        offsets = np.zeros(len(lens) + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.int64()))

    def gen(batches):
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            shs = [_shingle_hashes_np(t or "", k) for t in texts]
            lens = np.fromiter(map(len, shs), dtype=np.int64, count=len(shs))
            flat = np.concatenate(shs) if shs else np.empty(0, dtype=np.int64)
            cols = [batch.column(id_col).cast(pa.int64()), lists(flat, lens)]
            if minhash is not None:
                sig, keys = _minhash_np(flat, lens, num_hashes, bands)
                cols.append(lists(sig.ravel(), np.full(len(shs), num_hashes)))
                cols.append(lists(keys.ravel(), np.full(len(shs), bands)))
            yield pa.RecordBatch.from_arrays(cols, ["id", "_sh", "_sig", "_keys"][: len(cols)])

    return (
        docs.repartition(n_part, id_col)
        .select(id_col, text_col)
        .mapInArrow(gen, schema)
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    estimate_margin: float | None = 0.2,
    cache_registry: list | None = None,
) -> DataFrame:
    """-> (a, b, jac >= threshold): banded-MinHash candidates + exact
    rescore. The scale path: candidate generation touches each doc
    O(num_hashes) times, never all-pairs.

    bands=None derives (bands, rows) from the threshold via the standard
    (1/b)^(1/r) S-curve (functions.lsh.derive_banding) — fixed banding that
    ignores the threshold makes low-jaccard pairs collide and degenerates
    into all-pairs candidate generation on shared-vocabulary corpora.

    estimate_margin: before the (expensive) exact shingle-intersection
    join, drop candidate pairs whose signature-estimated jaccard
    (matching-minhash fraction — pure codegen over the signature array)
    falls below threshold - margin. At k=32, P(est < θ-0.2 | true j = θ)
    is ≈ 0.3%, so recall loss is negligible while near-dup-heavy corpora
    (where LSH emits O(n²) candidates because the docs really are all
    similar) skip the candidates×shingles blow-up. None disables (exact
    recall within the LSH candidate set).

    Physical-plan notes (the parts that matter at 100 TB):
      * the input is repartitioned to an EXPLICIT partition count before
        shingling — the stage is CPU-bound on tiny compressed bytes, so
        AQE's byte-based coalescing would otherwise collapse it to one task
        (the documented trap on this host; same fix as extract.text);
        explicit-count repartitions are exempt from AQE coalescing.
      * shingles, signatures and band keys come from ONE Arrow pass
        (hashed_shingles with minhash=...); the persisted result feeds the
        banded join, the estimate prefilter and the rescore.
      * the exact rescore is a numpy MERGE-intersect over the per-doc
        shingle ARRAYS (sorted+unique by construction) — O(|A|+|B|) per
        candidate pair, Arrow-batched — instead of the exploded shingle
        equi-join whose intermediate is Σ|A∩B| rows (quadratic row blow-up
        on near-dup-heavy corpora). Measured 4.1x over the JVM
        array_intersect form, which boxes a hash set per row.
    """
    from ..functions.lsh import derive_banding, derive_lsh_config, lsh_candidate_pairs_filtered

    import pandas as pd  # noqa: F401  (Arrow batches below)

    if num_hashes is None and bands is None:
        num_hashes, bands = derive_lsh_config(threshold)
    elif bands is None:
        bands, _rows = derive_banding(threshold, num_hashes)
    elif num_hashes is None:
        # bands given alone: threshold-derived signature length rounded up
        # to a multiple of bands
        derived, _ = derive_lsh_config(threshold)
        num_hashes = ((max(derived, bands) + bands - 1) // bands) * bands
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # shingles are hashed to 64-bit longs (hashed_shingles: exact —
    # injective code + bijective finalizer) in the same pass that derives
    # the signatures and band keys, so the rescore runs on primitive longs.
    # The relation is persisted — three consumers (banding, rescore a-side,
    # rescore b-side) would otherwise each re-run the shingler; at 8
    # B/shingle it is ~2.5 KB/doc, MEMORY_AND_DISK-safe at any corpus size.
    from pyspark import StorageLevel

    with_sh = hashed_shingles(docs, k, n_part, minhash=(num_hashes, bands)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if cache_registry is not None:
        cache_registry.append(with_sh)
    est_min = None if estimate_margin is None else threshold - estimate_margin
    cands = lsh_candidate_pairs_filtered(with_sh, "id", num_hashes, est_min=est_min)
    arrs = with_sh.select("id", "_sh", F.size("_sh").alias("_sz"))
    labeled = cands.join(
        arrs.select(F.col("id").alias("a"), F.col("_sh").alias("_sha"), F.col("_sz").alias("sza")), "a"
    ).join(
        arrs.select(F.col("id").alias("b"), F.col("_sh").alias("_shb"), F.col("_sz").alias("szb")), "b"
    )

    # exact jaccard via numpy MERGE-intersect: the shingle arrays are
    # sorted+unique by construction (np.unique in _shingle_hashes_np), so
    # intersect1d(assume_unique) is a linear merge on primitive int64 —
    # measured 4.1x over F.array_intersect (3.85s -> 0.93s on the bench's
    # 59,609 prefiltered candidates), which builds a boxed hash set per
    # row. Integer count + one float divide: bit-identical jaccard.
    def jac_gen(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            out = np.empty(n, dtype="float64")
            sha = pdf["_sha"].to_numpy()
            shb = pdf["_shb"].to_numpy()
            sza = pdf["sza"].to_numpy()
            szb = pdf["szb"].to_numpy()
            for i in range(n):
                c = np.intersect1d(sha[i], shb[i], assume_unique=True).size
                d = sza[i] + szb[i] - c
                # two empty-shingle docs DO collide (sentinel signatures):
                # jaccard 0, not NaN — Spark sorts/filters NaN ABOVE any
                # double, so a NaN here would pass every threshold
                out[i] = c / d if d else 0.0
            res = pdf[["a", "b"]].copy()
            res["jac"] = out
            yield res

    return (
        labeled.mapInPandas(jac_gen, "a long, b long, jac double")
        .filter(F.col("jac") >= threshold)
    )


def simhash_col(c, bits: int = 64):
    """64-bit SimHash of whitespace tokens — pure column math: per-token
    xxhash64, per-bit +1/-1 vote via aggregate over the token array.

    REFERENCE FORM ONLY: each of the 64 bit-votes is one interpreted
    F.aggregate pass over the token array (~16 µs/element measured — a
    500-token doc costs ~32k interpreted lambda evaluations), so at corpus
    scale this was the slowest dedup despite being conceptually the
    cheapest. Kept as the parity oracle for `simhash_df` (the shipping
    Arrow-batched kernel, byte-identical output); not used in any hot path."""
    toks = word_shingles_col(c, 1)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    def bit_sum(b):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(bit_sum(b) > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(F.lit(0).cast("long"))
    return out


# Java's \s — Spark's split uses Java regex, where \s is ASCII-only
_JAVA_WS = None  # compiled lazily inside the worker


def _simhash_np_one(text, token_cache: dict) -> int | None:
    """SimHash of one document, numpy bit-vote over XXH64 token hashes —
    byte-identical to `simhash_col` (parity-tested in tests/test_xxh64.py):
    tokens = distinct(split(lower(trim(text)), \\s+)) with Java split
    semantics (empty leading/trailing fields kept, matching re.split), each
    token hashed with the same XXH64(utf8, seed=42) the JVM computes, votes
    (+1 if bit set else −1) summed per bit position, bit set iff sum > 0."""
    import re as _re

    import numpy as np

    from ..functions.xxh64 import xxh64

    global _JAVA_WS
    if _JAVA_WS is None:
        _JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")
    if text is None:
        # the column form's per-bit `when(vote > 0)` sees a NULL vote and
        # falls through to otherwise(0) for every bit -> simhash 0
        return 0
    toks = set(_JAVA_WS.split(text.strip(" ").lower()))
    hs = np.empty(len(toks), dtype=np.uint64)
    for k, t in enumerate(toks):
        h = token_cache.get(t)
        if h is None:
            h = xxh64(t.encode("utf-8"), 42)
            if len(token_cache) < 1_000_000:  # Zipf vocab: hits dominate
                token_cache[t] = h
        hs[k] = h
    bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(hs)
    out = np.packbits((votes > 0).astype(np.uint8), bitorder="little")
    return int(out.view(np.int64)[0])


def simhash_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents -> (id, sim long): the shipping SimHash kernel.

    Arrow-batched numpy bit-vote replacing simhash_col's 64 interpreted
    HOF passes (the same interpreted-HOF inversion the MinHash shingler
    made: Spark higher-order functions never enter codegen, ~16 µs per
    element). Token hashes are cached per worker across batches — token
    vocabularies are Zipf, so the pure-Python XXH64 runs roughly once per
    *distinct* corpus token, and everything else is vectorized. Explicit
    repartition: CPU-bound stage on tiny compressed bytes, exempt from AQE
    byte-coalescing (the documented trap on this host)."""
    import pandas as pd

    n_part = docs.sparkSession.sparkContext.defaultParallelism

    def gen(batches):
        cache: dict = {}
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "sim": pd.array(
                        [_simhash_np_one(t, cache) for t in pdf[text_col]],
                        dtype="Int64",
                    ),
                }
            )

    return (
        docs.repartition(n_part, id_col)
        .select(id_col, text_col)
        .mapInPandas(gen, "id long, sim long")
    )


def simhash_dedup(
    docs: DataFrame, max_hamming: int = 3, bands: int = 4,
    cache_registry: list | None = None,
) -> DataFrame:
    """-> (a, b, hamming <= max_hamming) via banded simhash: split the 64-bit
    key into `bands` sub-keys; pigeonhole guarantees recall when
    max_hamming < bands. Exact hamming re-check with bit_count.

    The simhash values come from the Arrow-batched numpy kernel
    (`simhash_df`; byte-identical to the reference column form), the band
    rows from ONE explode over them, and the banded relation is persisted
    because the candidate self-join reads it twice."""
    from pyspark import StorageLevel

    from ..functions.lsh import packed_sig_bands

    sh = simhash_df(docs)
    width = 64 // bands
    banded = packed_sig_bands(sh, "sim", bands, width, ["id", "sim"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if cache_registry is not None:
        cache_registry.append(banded)
    a = banded.select(F.col("id").alias("a"), F.col("sim").alias("sima"), "band", "bucket")
    b2 = banded.select(F.col("id").alias("b"), F.col("sim").alias("simb"), "band", "bucket")
    cands = (
        a.join(b2, ["band", "bucket"]).filter(F.col("a") < F.col("b"))
        .select("a", "b", "sima", "simb").distinct()
    )
    ham = F.bit_count(F.col("sima").bitwiseXOR(F.col("simb")))
    return cands.select("a", "b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def cosine_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    strategy: str = "brute",
    dim: int | None = None,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
    cache_registry: list | None = None,
) -> DataFrame:
    """-> (a, b, cos >= threshold) over embeddings(vec_id, embedding).

    strategy='brute': all-pairs self-join — exact; the small-set path and
    the oracle for the approximate one (bounded to ~10^5 rows).
    strategy='lsh': the 10^12-row path — random-hyperplane sign-band
    blocking (the same seeded planes as ann.lsh_topk; no model object),
    candidates are same-(band, bucket) pairs, exact cosine rescore inside.
    Never all-pairs: per-vector work is O(n_planes·dim) bucketing plus
    bucket-sized joins. Recall at θ=0.95 with 8 planes / 4 bands ≈ 0.999
    (P(plane splits an 18° pair) ≈ 0.1; 1-(1-0.9²)⁴). dim is required for
    'lsh' (plane generation is per-component column math)."""
    from .ann import cosine_rescore

    v = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    if strategy == "brute":
        a = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
        b = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
        return (
            cosine_rescore(pairs, "va", "vb")
            .select("a", "b", "cos")
            .filter(F.col("cos") >= threshold)
        )
    if strategy != "lsh":
        raise ValueError(f"strategy must be brute/lsh, got {strategy}")
    if dim is None:
        raise ValueError("dim is required for the lsh strategy")
    from .ann import with_hyperplane_sig

    width = n_planes // bands
    assert bands * width == n_planes, "bands must divide n_planes"
    from pyspark import StorageLevel

    from ..functions.lsh import packed_sig_bands

    sig = with_hyperplane_sig(v, "v", n_planes, dim, seed)
    # one explode computes the hyperplane signs once per row (a per-band
    # union would re-run the dim x n_planes dot products per branch);
    # persisted because the self-join reads it twice
    banded = packed_sig_bands(sig, "_sig", bands, width, ["id", "v"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if cache_registry is not None:
        cache_registry.append(banded)
    a = banded.select(F.col("id").alias("a"), F.col("v").alias("va"), "band", "bucket")
    b = banded.select(F.col("id").alias("b"), F.col("v").alias("vb"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
    )
    # score the multi-band duplicates (Arrow-batched, cheap) and dedup
    # AFTER the threshold filter on id-sized rows — the old vector-carrying
    # .distinct() shipped both embeddings per candidate through its
    # exchange; duplicates score identically so max = any
    return (
        cosine_rescore(cands, "va", "vb")
        .filter(F.col("cos") >= threshold)
        .groupBy("a", "b")
        .agg(F.max("cos").alias("cos"))
    )


# ---------------------------------------------------------------------------
# Cluster resolution: similarity pairs -> doc -> canonical representative
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_rounds: int = 25
) -> DataFrame:
    """pairs -> (id, component): component = MIN node id of each connected
    component — the cluster-resolution step every dedup pipeline needs
    after pair generation (the doc -> canonical-representative mapping;
    pairs alone don't say which copy to keep when near-dups chain).

    Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log^2 n) rounds regardless of component DIAMETER, where plain
    min-label propagation needs diameter rounds (a 10^6-doc near-dup chain
    would cost 10^6 shuffles). Each round is two groupBy exchanges over the
    shrinking edge relation; lineage is truncated per round with
    localCheckpoint.

    Convergence test: edge multiset stable across one full round, compared
    by (count, xxhash64 sum). A premature stop would need a 64-bit hash-sum
    collision at equal counts; at the fixpoint extra rounds are no-ops, so
    the OUTPUT is exact either way.
    """
    e = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def sig(df):
        # decimal(38,0) sum: a LongType sum of 64-bit hashes overflows
        # under ANSI mode
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    def large_star(edges):
        # connect every STRICTLY LARGER neighbor of u to min(N(u) ∪ {u})
        nbrs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.min("v").alias("_mn"))
        m = m.select("u", F.least("_mn", F.col("u")).alias("m"))
        return (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges):
        # orient hi -> lo; connect u and its smaller neighbors to their min
        o = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(m, "u")
            .select(F.col("v").alias("u"), "m")
            .unionByName(m)
            .select("u", F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    cur = e.localCheckpoint(eager=True)
    prev = sig(cur)
    for _ in range(max_rounds):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        now = sig(cur)
        if now == prev:
            break
        prev = now
    else:
        # falling out of the loop without the fixpoint means the mapping
        # below would be WRONG (split components) — never return it
        # silently ('no silent caps'); O(log^2 n) convergence makes 25
        # rounds enough for any real graph, so this is a config error
        raise ValueError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    comp = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        cur.select(F.col("v").alias("id")).distinct()
        .withColumn("component", F.col("id"))
    )
    return comp.unionByName(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )
