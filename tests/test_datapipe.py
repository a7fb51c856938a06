"""Training-data-pipeline operators: dedup (5 strategies), ANN, text stats,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.datapipe.ann import brute_topk, lsh_topk
from graph_embeddings_spark.datapipe.dedup import (
    cosine_dedup_pairs,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from graph_embeddings_spark.datapipe.multimodal import (
    image_features,
    sample_frames,
    synthetic_media_df,
)
from graph_embeddings_spark.datapipe.textstats import (
    fingerprints,
    lang_scores,
    quality_features,
)
from media_helpers import resize_images


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "The  quick  brown fox jumps over the lazy DOG"),  # norm-dup of 0
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (5, "zzz qqq xxx vvv kkk www yyy"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    got = exact_dedup(docs).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in got}
    assert groups[0] == 3  # docs 0,1,2 collapse (case/whitespace-normalized)
    assert groups[3] == 1 and groups[4] == 1


def test_ngram_jaccard_pairs(spark, docs):
    got = ngram_jaccard_pairs(docs, threshold=0.6).collect()
    pairs = {(r["a"], r["b"]): r["jac"] for r in got}
    assert pairs[(0, 1)] == pytest.approx(1.0)  # identical
    assert (0, 4) in pairs and pairs[(0, 4)] < 1.0  # near-dup
    assert (0, 3) not in pairs and (0, 5) not in pairs


def test_minhash_lsh_recall_on_duplicates(spark, docs):
    got = {(r["a"], r["b"]) for r in minhash_lsh_dedup(docs, threshold=0.9).collect()}
    # exact duplicates MUST collide in every band -> guaranteed recall
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert all(a != 3 and b != 3 for a, b in got)


def test_simhash_dedup(spark, docs):
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_dedup(docs, max_hamming=3).collect()}
    assert got[(0, 1)] == 0  # identical token sets -> identical simhash
    assert (0, 2) in got  # lowercased tokens match
    assert (0, 3) not in got


def _emb_df(spark, n=20, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, dim)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.normal(size=dim).astype(np.float32)  # near-dup pair
    rows = [(i, [float(x) for x in base[i]], i % 3) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_dedup_pairs(spark):
    emb = _emb_df(spark)
    got = {(r["a"], r["b"]): r["cos"] for r in cosine_dedup_pairs(emb, 0.99).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99


def test_cosine_rescore_matches_column_form(spark):
    """Arrow-batched rescore kernel vs the interpreted HOF parity oracle
    (same float64 math, summation order aside) — the simhash_col/simhash_df
    playbook applied to the exact-cosine rescore. Includes a zero vector
    (both forms resolve via the +1e-12 denominator guard)."""
    from pyspark.sql import functions as F

    from graph_embeddings_spark.datapipe.ann import cosine_col, cosine_rescore

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], [float(x) for x in rng.normal(size=8)])
        for i in range(30)
    ]
    rows.append((30, [0.0] * 8, [float(x) for x in rng.normal(size=8)]))
    df = spark.createDataFrame(rows, "id long, va array<float>, vb array<float>")
    ref = {r["id"]: r["c"] for r in df.select("id", cosine_col(F.col("va"), F.col("vb")).alias("c")).collect()}
    got = {r["id"]: r["cos"] for r in cosine_rescore(df, "va", "vb").collect()}
    assert set(got) == set(ref)
    for i in ref:
        assert abs(got[i] - ref[i]) < 1e-12, (i, got[i], ref[i])


def test_cosine_rescore_null_and_ragged_rows(spark):
    """A NULL embedding or a length-mismatched pair must yield cos NULL
    (the column form's zip_with/aggregate semantics), never crash the
    Arrow batch or emit NaN — Spark sorts NaN ABOVE every double, so a
    NaN cos would win desc-rank top-k windows."""
    from graph_embeddings_spark.datapipe.ann import cosine_rescore

    rows = [
        (0, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),   # valid -> 1.0
        (1, None, [1.0, 0.0, 0.0]),               # null a -> NULL
        (2, [1.0, 0.0, 0.0], None),               # null b -> NULL
        (3, [1.0, 0.0], [1.0, 0.0, 0.0]),         # ragged -> NULL
        (4, [0.0, 1.0], [0.0, 1.0]),              # valid, other dim -> 1.0
    ]
    df = spark.createDataFrame(rows, "id long, va array<float>, vb array<float>")
    got = {r["id"]: r["cos"] for r in cosine_rescore(df, "va", "vb").collect()}
    assert abs(got[0] - 1.0) < 1e-9 and abs(got[4] - 1.0) < 1e-9
    assert got[1] is None and got[2] is None and got[3] is None


def test_cosine_rescore_nonfinite_inputs(spark):
    """Non-finite embedding elements: an inf element makes dot AND norm
    infinite, so the cosine is inf/inf = NaN in BOTH the kernel and the
    cosine_col float math — and the kernel maps exactly NaN to NULL (r4
    advisory: the gate is np.isnan, not isfinite; a +/-inf cosine VALUE is
    unreachable because the +1e-12 denominator guard bounds every finite
    dot). Sane rows in the same Arrow batch must be unaffected."""
    import math

    from graph_embeddings_spark.datapipe.ann import cosine_rescore

    inf = float("inf")
    rows = [
        (0, [inf, 0.0], [1.0, 0.0]),          # inf/inf = NaN -> NULL
        (1, [-inf, 0.0], [1.0, 0.0]),         # -inf/inf = NaN -> NULL
        (2, [float("nan"), 0.0], [1.0, 0.0]),  # NaN element -> NULL
        (3, [1.0, 0.0], [1.0, 0.0]),          # sane row in the same batch
    ]
    df = spark.createDataFrame(rows, "id long, va array<float>, vb array<float>")
    got = {r["id"]: r["cos"] for r in cosine_rescore(df, "va", "vb").collect()}
    assert got[0] is None and got[1] is None and got[2] is None
    assert abs(got[3] - 1.0) < 1e-9
    assert not any(v is not None and math.isnan(v) for v in got.values())


def test_cosine_dedup_lsh_recall_vs_brute(spark):
    """The sign-band scale path must recover (nearly) every brute pair:
    clustered vectors (5 clusters x 4 near-identical members) make the true
    pair set dense; demand >= 90% recall and NO false accepts (the rescore
    is exact, so precision is 1.0 by construction)."""
    rng = np.random.default_rng(7)
    dim = 8
    rows = []
    vid = 0
    for c in range(5):
        center = rng.normal(size=dim)
        for _ in range(4):
            v = center + 0.01 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    brute = {(r["a"], r["b"]) for r in cosine_dedup_pairs(emb, 0.95).collect()}
    lsh = {
        (r["a"], r["b"])
        for r in cosine_dedup_pairs(emb, 0.95, strategy="lsh", dim=dim).collect()
    }
    assert brute, "fixture must produce true pairs"
    assert lsh <= brute  # exact rescore: no false accepts
    assert len(lsh & brute) / len(brute) >= 0.9


def test_brute_topk_matches_numpy(spark):
    emb = _emb_df(spark)
    probes = emb.filter("vec_id < 2")
    got = brute_topk(emb, probes, k=3).collect()
    rows = emb.orderBy("vec_id").collect()
    M = np.array([r["embedding"] for r in rows])
    normed = M / np.linalg.norm(M, axis=1, keepdims=True)
    for probe in (0, 1):
        cos = normed @ normed[probe]
        cos[probe] = -2
        want = list(np.argsort(-cos)[:3])
        have = [r["vec_id"] for r in sorted(
            (r for r in got if r["probe_id"] == probe), key=lambda r: r["rank"]
        )]
        assert have == want


def test_lsh_topk_finds_near_duplicate(spark):
    emb = _emb_df(spark)
    probes = emb.filter("vec_id = 0")
    got = lsh_topk(emb, probes, k=5, n_planes=8, bands=4, dim=8)
    top = sorted(got.collect(), key=lambda r: r["rank"])
    # vec 1 is a near-dup of vec 0: identical sign pattern -> same buckets
    assert top and top[0]["vec_id"] == 1


def test_lang_scores(spark):
    docs = spark.createDataFrame(
        [(0, "the cat and the dog is here"), (1, "der hund und die katze ist das")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in lang_scores(docs).collect()}
    assert got[0]["pred_lang"] == "en"
    assert got[1]["pred_lang"] == "de"
    assert got[0]["score_en"] >= 3


def test_quality_features(spark):
    docs = spark.createDataFrame([(0, "the cat is on a mat"), (1, "")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert got[0]["n_tokens"] == 6
    assert got[0]["stopword_ratio"] == pytest.approx(4 / 6, abs=1e-6)
    assert got[1]["n_tokens"] == 0 and got[1]["quality"] == 0.0


def test_stopword_regex_matches_hof_oracle(spark):
    """The codegen _STOPWORD_RE regexp_count must agree with the interpreted
    filter/array_contains HOF form it replaced, on adversarial shapes:
    stopwords as prefixes of non-stopwords, punctuation-glued tokens,
    adjacent single-char tokens, leading/trailing/stacked whitespace, mixed
    case, tabs/newlines, and empty text."""
    from graph_embeddings_spark.datapipe.textstats import (
        STOPWORDS_EN, stopword_count_col, stopword_count_hof_col,
    )

    texts = [
        "the cat is on a mat",
        "THE Theater thesis android band",   # prefixes must not match
        "a a an an  a",                       # adjacent short tokens
        "  the\tof\nand  ",                   # mixed whitespace + edges
        "the, of. and! a?",                   # punctuation-glued: no matches
        "is",                                 # single stopword, no spaces
        "",
        "that it for on to in of the and an a is " * 3,
        " ".join(STOPWORDS_EN),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["re_n"], r["hof_n"])
        for r in df.select(
            "doc_id",
            # the SHIPPING helper quality_features consumes — not an inline
            # copy of its expression, so divergence fails this oracle
            stopword_count_col(F.col("text")).alias("re_n"),
            stopword_count_hof_col(F.col("text")).alias("hof_n"),
        ).collect()
    }
    for i, (re_n, hof_n) in got.items():
        assert re_n == hof_n, (i, texts[i], re_n, hof_n)


def test_fingerprints_norm_invariance(spark):
    docs = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "other")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["fp"] for r in fingerprints(docs).collect()}
    assert got[0] == got[1] != got[2]


# ---------------------------------------------------------------------------
# Multimodal plumbing (decode stubbed; Spark-side machinery real)
# ---------------------------------------------------------------------------

def test_media_corpus_and_features(spark):
    media = synthetic_media_df(spark, 30, partitions=3)
    assert media.count() == 30
    feats = image_features(media, n_bins=16).collect()
    assert len(feats) == len([r for r in media.collect() if r["kind"] == "image"])
    for r in feats:
        assert len(r["feat"]) == 16
        assert sum(r["feat"]) == pytest.approx(1.0, abs=1e-5)


def test_resize_images(spark):
    media = synthetic_media_df(spark, 12, partitions=2)
    got = resize_images(media, out_w=4, out_h=4).collect()
    for r in got:
        assert len(r["resized"]) == 16  # 4x4 uint8


def test_sample_frames(spark):
    media = synthetic_media_df(spark, 12, partitions=2)
    got = sample_frames(media, every=3).collect()
    vids = {r["media_id"]: r["meta"]["n_frames"] for r in media.collect() if r["kind"] == "video"}
    per_vid = {}
    for r in got:
        per_vid.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, idxs in per_vid.items():
        assert idxs == list(range(0, vids[mid], 3))


def test_media_generation_partition_independent(spark):
    a = {tuple(r) for r in synthetic_media_df(spark, 20, partitions=1).collect()}
    b = {tuple(r) for r in synthetic_media_df(spark, 20, partitions=7).collect()}
    assert a == b


def test_ivf_topk_recall_vs_brute(spark):
    """IVF with nprobe=half the lists must recover most of brute top-k on
    clustered data; with nprobe == n_centroids it must match brute exactly
    (full scan through the inverted lists)."""
    from graph_embeddings_spark.datapipe.ann import brute_topk, ivf_topk

    rng = np.random.default_rng(11)
    dim = 8
    rows = []
    vid = 0
    for c in range(4):
        center = rng.normal(size=dim)
        for _ in range(10):
            v = center + 0.05 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    probes = emb.filter("vec_id < 3")
    brute = {
        (r["probe_id"], r["vec_id"])
        for r in brute_topk(emb, probes, k=5).collect()
    }
    full = {
        (r["probe_id"], r["vec_id"])
        for r in ivf_topk(emb, probes, k=5, n_centroids=4, nprobe=4).collect()
    }
    assert full == brute  # nprobe = all lists -> exact
    part = {
        (r["probe_id"], r["vec_id"])
        for r in ivf_topk(emb, probes, k=5, n_centroids=4, nprobe=2).collect()
    }
    assert len(part & brute) / len(brute) >= 0.8


def test_ivf_centroids_deterministic(spark):
    from graph_embeddings_spark.datapipe.ann import ivf_train_centroids

    emb = _emb_df(spark, n=30)
    a = ivf_train_centroids(emb, 4, iters=2, seed=5)
    b = ivf_train_centroids(emb.repartition(7), 4, iters=2, seed=5)
    assert np.allclose(a, b)


def test_winnowing_guarantee_and_edges(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    share at least one fingerprint; short docs degrade gracefully."""
    from graph_embeddings_spark.datapipe.textstats import winnowing_fingerprints

    shared = "a very distinctive shared passage"
    docs = spark.createDataFrame(
        [
            (0, f"prefix one {shared} suffix alpha"),
            (1, f"other beginning {shared} and another end"),
            (2, "totally unrelated content here"),
            (3, "tinydoc"),  # >= k chars but fewer grams than one window
            (4, "ab"),       # shorter than k -> no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnowing_fingerprints(docs, k=5, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1], "shared >= k+w-1 substring must share a fingerprint"
    assert len(fps[3]) == 1   # single global-min fingerprint
    assert 4 not in fps       # no k-grams at all
    # fingerprints are a sparse selection, not all grams
    n_grams_0 = len(docs.collect()[0]["text"]) - 4
    assert 0 < len(fps[0]) < n_grams_0


def test_ngram_jaccard_max_df_sizes_from_filtered_universe(spark):
    """Identical docs whose shingles include ubiquitous ones must still
    score jac=1.0 under max_df: sizes and intersections both come from the
    df-capped shingle relation (unfiltered sizes would underestimate)."""
    from graph_embeddings_spark.datapipe.dedup import ngram_jaccard_pairs

    common = "zzzz" * 5  # shingles shared by EVERY doc -> df-capped away
    rows = [(i, common + f" unique text block number {i}") for i in range(12)]
    rows += [(100, common + " twin document alpha"), (101, common + " twin document alpha")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["jac"]
        for r in ngram_jaccard_pairs(docs, threshold=0.9, k=3, max_df=5).collect()
    }
    assert got.get((100, 101)) == pytest.approx(1.0)


def test_shingle_hash_k8_is_byte_packing():
    """At k=8 the code must be the big-endian byte packing (a bijection) —
    base 257 wraps mod 2^64 at k=8 and can collide."""
    import numpy as np

    from graph_embeddings_spark.datapipe.dedup import _shingle_hashes_np

    s = "the quick brown fox"

    def fin(z):
        m = (1 << 64) - 1
        z &= m
        z ^= z >> 30
        z = (z * 0xBF58476D1CE4E5B9) & m
        z ^= z >> 27
        z = (z * 0x94D049BB133111EB) & m
        z ^= z >> 31
        return z - (1 << 64) if z >= 1 << 63 else z

    b = s.encode()
    expected = {fin(int.from_bytes(b[i : i + 8], "big")) for i in range(len(b) - 7)}
    got = {int(v) for v in _shingle_hashes_np(s, 8)}
    assert got == expected


def test_ivf_nprobe_exceeds_centroids(spark):
    """nprobe > available centroids (explicitly or because the corpus is
    tiny) must clamp, not crash with a reshape mismatch mid-job."""
    from graph_embeddings_spark.datapipe.ann import ivf_topk

    rows = [(i, [float(i), 1.0, 0.0]) for i in range(6)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = corpus.limit(2)
    got = ivf_topk(corpus, probes, k=3, n_centroids=4, nprobe=9, iters=1)
    assert got.count() > 0


def test_lsh_topk_bands_must_divide_planes(spark):
    from graph_embeddings_spark.datapipe.ann import lsh_topk

    rows = [(i, [float(i)] * 4) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="divide"):
        lsh_topk(df, df, k=2, n_planes=8, bands=3, dim=4)


def _brute_components(edges):
    """Python union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_shapes(spark):
    """Chain (diameter > round count of naive propagation), two components,
    ties, reversed edges."""
    from graph_embeddings_spark.datapipe.dedup import connected_components

    edges = [(2, 1), (2, 3), (4, 3), (5, 4), (10, 11), (12, 11), (20, 20)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_matches_union_find(spark):
    """Seeded random graph parity vs a driver-side union-find."""
    import random

    from graph_embeddings_spark.datapipe.dedup import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _brute_components(edges)


def test_connected_components_long_chain(spark):
    """A 120-node path: component min must reach the far end (log-round
    star contraction, not diameter-bound propagation)."""
    from graph_embeddings_spark.datapipe.dedup import connected_components

    edges = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["id"]: r["component"] for r in connected_components(df, max_rounds=12).collect()}
    assert set(got.values()) == {0} and len(got) == 121


def test_sample_stratified_deterministic(spark):
    """Fraction sampling: engine-reproducible (partitioning-independent),
    approximately proportional, and strata without a fraction are dropped."""
    from graph_embeddings_spark.datapipe.sample import sample_stratified

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(3000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    picked = sample_stratified(docs, {"en": 0.5, "de": 0.1}, seed=42)
    got = {r["doc_id"] for r in picked.collect()}
    # re-partitioned rerun selects the SAME rows
    got2 = {
        r["doc_id"]
        for r in sample_stratified(docs.repartition(7), {"en": 0.5, "de": 0.1}, seed=42).collect()
    }
    assert got == got2
    by_lang = {r["lang"]: r["n"] for r in picked.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "zh" not in by_lang
    assert abs(by_lang["en"] / 1000 - 0.5) < 0.08
    assert abs(by_lang["de"] / 1000 - 0.1) < 0.05


def test_sample_n_per_stratum_exact_counts(spark):
    from graph_embeddings_spark.datapipe.sample import sample_n_per_stratum

    rows = [(i, ["en", "de"][i % 2]) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    picked = sample_n_per_stratum(docs, 25, seed=7)
    counts = {r["lang"]: r["n"] for r in picked.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 25, "de": 25}
    # seed changes the selection; same seed is stable across partitionings
    a = {r["doc_id"] for r in picked.collect()}
    b = {r["doc_id"] for r in sample_n_per_stratum(docs.repartition(5), 25, seed=7).collect()}
    c = {r["doc_id"] for r in sample_n_per_stratum(docs, 25, seed=8).collect()}
    assert a == b and a != c


def test_pii_scrub_hand_cases(spark):
    from graph_embeddings_spark.datapipe.scrub import pii_scrub

    rows = [
        (0, "mail me at jane.doe+x@sub.example.org today"),
        (1, "server 192.168.0.1 and phone +31 20 123 4567 ok"),
        (2, "no pii here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in pii_scrub(docs).collect()}
    assert got[0] == "mail me at <EMAIL> today"
    assert got[1] == "server <IP> and phone <PHONE> ok"
    assert got[2] == "no pii here"


def test_remove_boilerplate_lines(spark):
    from graph_embeddings_spark.datapipe.scrub import remove_boilerplate_lines

    banner = "ACCEPT COOKIES"
    rows = [(i, f"{banner}\nunique line {i}\nsecond {i}") for i in range(10)]
    rows.append((99, banner))  # all-boilerplate doc
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines(docs, max_df=5).collect()}
    assert len(got) == 11
    assert got[3] == "unique line 3\nsecond 3"  # order preserved, banner gone
    assert got[99] == ""  # kept as empty, downstream length filter decides


def test_pack_assignments_invariants(spark):
    """Concat-and-chunk packing: offsets tile the stream exactly, chunks
    are consistent with offsets, and the assignment is partitioning-
    independent (deterministic hash permutation)."""
    from graph_embeddings_spark.datapipe.pack import pack_assignments

    rows = [(i, " ".join(["tok"] * (5 + (i * 13) % 90))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    registry: list = []
    out = pack_assignments(docs, capacity=64, seed=42, cache_registry=registry).collect()
    by_off = sorted(out, key=lambda r: r["start_offset"])
    pos = 0
    for r in by_off:
        assert r["start_offset"] == pos  # gap-free tiling
        assert r["chunk_first"] == pos // 64
        end = max(pos + r["n_tokens"] - 1, pos)
        assert r["chunk_last"] == end // 64
        pos += r["n_tokens"]
    again = {
        r["doc_id"]: r["start_offset"]
        for r in pack_assignments(
            docs.repartition(7), capacity=64, seed=42, cache_registry=registry
        ).collect()
    }
    assert again == {r["doc_id"]: r["start_offset"] for r in out}
    # the two-pass prefix sum must be invariant to its OWN bucket count
    # (adversarial: 1 bucket, a prime count, more buckets than rows)
    base = {r["doc_id"]: tuple(r) for r in out}
    for n_parts in (1, 3, 257):
        got = {
            r["doc_id"]: tuple(r)
            for r in pack_assignments(
                docs, capacity=64, seed=42, num_partitions=n_parts,
                cache_registry=registry,
            ).collect()
        }
        assert got == base, f"num_partitions={n_parts} changed the assignment"
    for df in registry:
        df.unpersist()
    # omitting the registry is a flagged contract violation, not a silence
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pack_assignments(docs, capacity=64, seed=42).collect()
    assert any(issubclass(c.category, RuntimeWarning) for c in caught)


def test_unit_hash_survives_huge_ids(spark):
    """Ids past int32 (routine at 10^12 rows) must hash without ANSI
    overflow in every operator built on _unit_hash."""
    from graph_embeddings_spark.datapipe.sample import sample_n_per_stratum

    rows = [(4_000_000_000 + i, "en") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    assert sample_n_per_stratum(docs, 10, seed=7).count() == 10


def test_contamination_check_detects_verbatim_overlap(spark):
    from graph_embeddings_spark.datapipe.textstats import contamination_check

    bench = spark.createDataFrame(
        [(0, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "totally unrelated content about weather patterns today"),
            (2, "quiz: the secret benchmark answer is forty two exactly, copy it"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in contamination_check(train, bench, k=5, w=4).collect()}
    assert got[1]["overlap"] < 0.2  # no shared >=8-char substring families
    assert got[2]["n_hit"] > 0 and got[2]["overlap"] > 0.4  # quoted verbatim
    # winnowing guarantee: the quoting doc shares fingerprints


def test_hashed_shingles_jaccard_matches_column_form(spark):
    """For k <= 8 the numpy shingle hash is a bijection of the byte k-gram
    (injective base-256 code + bijective splitmix64 finalizer), so jaccard
    over hashed shingles EQUALS jaccard over char_ngrams_distinct on ASCII
    text — the parity that lets ngram_jaccard_pairs and the J1
    canonicalization block on the vectorized kernel while the column form
    stays the oracle."""
    from pyspark.sql import functions as F

    from graph_embeddings_spark.datapipe.dedup import char_ngrams_distinct, hashed_shingles

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumped over a lazy dog",
        "  Mixed   CASE   and	whitespace  runs ",
        "ab",          # shorter than k -> empty shingle set
        "",
        "aaaaaaa",     # degenerate repeats -> single distinct shingle
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for k in (3, 5):
        col_sets = {
            r["doc_id"]: set(r["sh"])
            for r in docs.select(
                "doc_id", char_ngrams_distinct(F.col("text"), k).alias("sh")
            ).collect()
        }
        hash_sets = {
            r["id"]: set(r["_sh"])
            for r in hashed_shingles(docs, k, 2).collect()
        }
        for i in range(len(texts)):
            a_col, a_hash = col_sets[i], hash_sets[i]
            # set SIZES match (bijection) ...
            assert len(a_col) == len(a_hash), (k, i)
            # ... and pairwise jaccard matches exactly
            for j in range(i + 1, len(texts)):
                b_col, b_hash = col_sets[j], hash_sets[j]
                uc = len(a_col | b_col)
                jac_col = len(a_col & b_col) / uc if uc else 0.0
                uh = len(a_hash | b_hash)
                jac_hash = len(a_hash & b_hash) / uh if uh else 0.0
                assert jac_col == jac_hash, (k, i, j, jac_col, jac_hash)


def test_winnowing_np_kernel_matches_column_form(spark):
    """The shipping Arrow winnowing kernel must be BYTE-IDENTICAL to the
    column form (same md5-prefix hash, same window-min total order) —
    that identity is what keeps the DuckDB oracle valid. Covers: normal
    docs, shorter-than-one-window, shorter-than-k, empty, whitespace runs,
    and tie-heavy repeats."""
    from graph_embeddings_spark.datapipe.textstats import (
        winnowing_fingerprints_col,
        winnowing_fingerprints_np,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog and keeps running",
        "tiny",            # < k: no fingerprints
        "sixchr",          # k-grams exist but < one window: global min only
        "",
        "  MIXED   Case\twith\nweird   whitespace  ",
        "aaaaaaaaaaaaaaaa",  # all identical grams: ties everywhere
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    col_rows = {
        (r["doc_id"], r["fp"]) for r in winnowing_fingerprints_col(docs, k=5, w=4).collect()
    }
    np_rows = {
        (r["doc_id"], r["fp"]) for r in winnowing_fingerprints_np(docs, k=5, w=4).collect()
    }
    assert col_rows == np_rows
    assert any(d == 2 for d, _ in np_rows)   # single-global-min branch hit
    assert not any(d in (1, 3) for d, _ in np_rows)
