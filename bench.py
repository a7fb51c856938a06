"""Benchmark harness. Prints ONE COMPACT JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "queries_norm": {...host-
     normalized sec...}, "sf": <sf>, "triples_per_sec": ...,
     "glove_epoch_sec": ..., "glove_scale": {...N-vs-4N efficiency...}}

and writes the COMPLETE result (trial arrays, per-stage breakdowns,
per-query host spin, child-JVM host snapshots) to BENCH/last_run.json —
the printed line is sized to survive the round driver's bounded
stdout-tail capture (r04's full-result line did not: parsed null).

Env knobs:
    SPARK_GRAFT_SF_DIR   table dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[N] cores (default 32, clamped by
                         session.effective_cores)
    SPARK_GRAFT_PAGES    synthetic corpus size for the pipeline section
                         (default 100000 — BENCH/BASELINE.md's scale)
    SPARK_GRAFT_SCALING  "1" -> ALSO run the full pipeline section at
                         local[2] and local[8] child JVMs and report
                         triples/sec scaling efficiency

Always included (no flag): the GloVe-epoch scaling evidence — two child
JVMs train a compute-dominated 8M-entry synthetic cooc at 2 and 8 cores
(the north rule's N-vs-4N stand-in; see BENCH/GLOVE_SCALING.md).

Timings use a noop-format write to force full evaluation without driver
collection (count() would let Catalyst prune computed columns).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 100k pages matches BENCH/BASELINE.md's measurement scale (fixed costs —
# broadcast build, codegen, Python worker spin-up — amortize; 20k pages
# under-reports steady-state throughput by ~2x)
PAGES = int(os.environ.get("SPARK_GRAFT_PAGES", "100000"))

HEADLINE = [
    "pricing_summary",
    "star_join_rollup",
    "latest_event_per_user",
    "a1_vertex_dedup",
    "cooc_upsert_sum",
    "window_topn",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_brute_topk",
    "lang_id",
    "text_quality",
    "token_counts",
]


def _force(df):
    df.write.mode("overwrite").format("noop").save()


def _spin(_):
    s = 0
    for i in range(10_000_000):
        s += i
    return s


def host_calibration(n_procs: int = 8) -> dict:
    """Raw-CPU snapshot taken WITH the benchmark: this Firecracker host is
    shared and co-tenant load swings measured throughput 2-6x between runs
    (see BENCH/BASELINE.md trials). Reporting the concurrent hardware
    capacity lets any reader normalize a bench number to host conditions
    instead of mistaking co-tenant noise for an engine change."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    with mp.Pool(n_procs) as p:
        p.map(_spin, range(n_procs))
    dt = time.perf_counter() - t0
    return {
        "spin_units_per_sec": round(n_procs / dt / 3, 3),  # /3: 10M vs 30M loop
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def run_queries(spark) -> tuple[dict[str, float], dict[str, float]]:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # queries() ships the driver's check-shaped 400-doc probe; the bench
    # headline stays at the 1000-doc probe r01-r04 measured so the
    # cross-round series remains comparable
    qs["dedup_minhash_lsh"] = lambda spark, sf: entry_mod.q_dedup_minhash_lsh(
        spark, sf, n_docs=1000
    )
    # warm the JVM + page cache: one untimed scan of each input table so the
    # first timed query doesn't absorb JIT/IO warmup
    for t in ("lineitem", "orders", "customer", "nation", "region", "part",
              "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    out = {}
    host = {}
    for name in HEADLINE:
        # one untimed run pays codegen/JIT for this query's plan shape, so
        # the timed run measures steady-state throughput — the same warmup
        # policy the pipeline section documents (capacity at 100 TB is a
        # steady-state number; JVM compile latency is a fixed cost)
        _force(qs[name](spark, SF_DIR))
        t0 = time.perf_counter()
        _force(qs[name](spark, SF_DIR))
        out[name] = round(time.perf_counter() - t0, 3)
        # per-query host snapshot (VERDICT r3 #9): a spin probe taken right
        # AFTER each timed run, so a query-level regression across rounds is
        # separable from a co-tenant burst that landed on that query. Probe
        # runs between timings, never concurrent with one, so it cannot
        # distort the measurement it annotates.
        host[name] = host_calibration(n_procs=4)["spin_units_per_sec"]
    return out, host


def run_minhash_attribution(spark) -> dict:
    """The 'log what you drop' numbers for the headline dedup_minhash_lsh
    query (VERDICT r2 #6): candidate pairs before/after the signature-
    estimate prefilter and the final >= θ pairs, so a reader can attribute
    the query's cost between intrinsic pair density (the synthetic corpus
    shares one vocabulary) and operator overhead. Untimed."""
    from pyspark.sql import functions as F

    from graph_embeddings_spark.datapipe.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(F.col("doc_id") < 1000)
    diag: dict = {}
    registry: list = []
    pairs = minhash_lsh_dedup(docs, threshold=0.8, diagnostics=diag, cache_registry=registry)
    # per-stage wall times (VERDICT r3 #4 — 'log what you drop' applied to
    # time). What each count actually executes:
    #  * shingle_sig_bandjoin: shingle + signature + banding (fills the
    #    persisted shingle/banded caches) + one band self-join + distinct.
    #  * bandjoin_prefilter: a SECOND band self-join over the cached banded
    #    relation ('candidates' is not downstream of 'candidates_raw' — the
    #    prefilter applies before the distinct) + codegen prefilter +
    #    distinct; persisted here so the rescore doesn't run it a third time.
    #  * exact_rescore: ONLY the shingle-array joins + array_intersect —
    #    candidates come from the cache just filled.
    stage_sec: dict[str, float] = {}
    t0 = time.perf_counter()
    n_docs = docs.count()
    stage_sec["docs_scan"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n_raw = diag["candidates_raw"].count()
    stage_sec["shingle_sig_bandjoin"] = round(time.perf_counter() - t0, 3)
    cand = diag["candidates"].persist()
    registry.append(cand)
    t0 = time.perf_counter()
    n_pref = cand.count()
    stage_sec["bandjoin_prefilter"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n_final = pairs.count()
    stage_sec["exact_rescore"] = round(time.perf_counter() - t0, 3)
    out = {
        "minhash_docs": n_docs,
        "minhash_candidates_raw": n_raw,
        "minhash_candidates_post_prefilter": n_pref,
        "minhash_pairs_final": n_final,
        "minhash_banding": diag["banding"],
        "minhash_stage_sec": stage_sec,
    }
    for df in registry:
        df.unpersist()
    return out


# the scaling-evidence corpus is shared with tools/*_probe.py so bench and
# BENCH/GLOVE_SCALING.md always measure the same workload
from graph_embeddings_spark.glove.synth import synthetic_cooc  # noqa: E402


def run_glove_scale_section(spark, n_entries: int) -> dict:
    """GloVe epoch at compute-dominated scale (>=10x the pipeline section's
    cooc): shards sized by shards_for(co_count) — a pure function of the
    work, so the logical job is identical at every core count and the
    2-vs-8-core children measure executor scaling, not plan drift."""
    from pyspark.sql import functions as F

    from graph_embeddings_spark.glove.train import (
        init_params_df, preshard_cooc, shards_for, static_epoch_plan, train_epoch,
    )

    # vocab grows with the corpus (same rule as tools/glove_scale_probe /
    # BENCH/GLOVE_SCALING.md) so param-copy traffic stays scale-representative
    raw = synthetic_cooc(spark, n_entries, vocab=max(25_000, n_entries // 40)).persist()
    co_count = raw.count()
    nodes = raw.select(F.col("i").alias("node_id")).union(raw.select("j")).distinct()
    n_shards = shards_for(co_count)
    # fixed-shard relation persisted once — the optimize() path; the
    # one-time shuffle happens here, outside the per-epoch timings
    cooc = preshard_cooc(raw, seed=42, n_shards=n_shards).persist()
    cooc.count()
    params = init_params_df(nodes, 32, 42, "adagrad").persist()
    params.count()
    raw.unpersist()
    trials = []
    with static_epoch_plan(spark):  # the optimize() loop's static plan
        # 3 per child x 2 alternated children = 6 samples per core count;
        # min() finds the noise floor across both load windows
        for it in range(3):
            t0 = time.perf_counter()
            new_params, _obs = train_epoch(
                cooc, params, dim=32, method="adagrad", cost="glove", max_x=5.0,
                iteration=it, seed=42, n_shards=n_shards, batch=4096,
            )
            _force(new_params)
            trials.append(round(time.perf_counter() - t0, 3))
    return {
        "entries": co_count,
        "n_shards": n_shards,
        "trials": trials,
        # min over ALL trials: codegen can only inflate trial 1, never
        # deflate it, and co-tenant bursts (2-6x on this host) can land on
        # any trial — min is the noise-floor estimator either way
        "epoch_sec": min(trials),
        "host": host_calibration(),
    }


def run_pipeline_section(spark, n_pages: int) -> dict:
    """Corpus -> text extraction -> triples (throughput), then graph -> BCA
    -> one GloVe epoch (wall time). The north-rule metrics.

    Partition counts are FIXED (64) and GloVe shards come from
    shards_for(co_count) — both pure functions of the input, never of the
    core count, so the scaling comparison runs the identical logical job
    at every parallelism level — only the executor slots differ."""
    from pyspark.sql import functions as F

    from graph_embeddings_spark.corpus import alias_dict_df, build_world, web_pages_df
    from graph_embeddings_spark.extract.text import latest_texts, with_extracted_text
    from graph_embeddings_spark.extract.triples import extract_surface_triples, link_triples
    from graph_embeddings_spark.graph.materialize import materialize_graph
    from graph_embeddings_spark.bca.cooc import bca_cooccurrence
    from graph_embeddings_spark.glove.train import init_params_df, train_epoch
    from graph_embeddings_spark.pipeline import default_weights

    world = build_world(42, 120)

    def extraction(pages_df):
        # extract FIRST (narrow, on the generator's 64 partitions), dedup
        # after: the tier's one shuffle then moves ~300B text/page, not
        # multi-KB html (see extract.text.latest_texts)
        texted_all = with_extracted_text(pages_df, min_parallelism=0).select(
            "url", "warc_ts", "lang", F.col("extracted_text").alias("text")
        )
        texted = latest_texts(texted_all, target_partitions=64).select("url", "text")
        surface = extract_surface_triples(texted, sorted(world.alias_map), min_parallelism=0)
        return link_triples(surface, alias_dict_df(spark, world)).select(
            "subj", "pred", "obj",
            F.when(F.col("kind") == "literal", F.lit(2)).otherwise(F.lit(0)).alias("obj_kind"),
        )

    # warmup: identical plan shape on a small slice — pays codegen, Python
    # worker startup and broadcast build ONCE so the timed window measures
    # steady-state throughput (the capacity number that matters at 100 TB)
    warm = web_pages_df(spark, world, 2000, partitions=64).persist()
    warm.count()
    extraction(warm).count()
    warm.unpersist()

    pages = web_pages_df(spark, world, n_pages, partitions=64).persist()
    pages.count()  # materialize generation outside the timed region

    # Best-of-2 per phase: consecutive identical runs on this shared host
    # swing 2-3x with co-tenant load (measured; see BENCH/BASELINE.md) —
    # best-of is the repo's documented noise estimator, and all trials are
    # reported so the variance itself is visible.
    t0 = time.perf_counter()
    triples = extraction(pages).persist()
    n_triples = triples.count()
    e_trials = [time.perf_counter() - t0]
    for t in range(2):
        # re-trials add a no-op literal column upstream so the plan can
        # NEVER canonicalize to the persisted `triples` relation above —
        # the trial must measure a full recompute, not a cache scan
        t0 = time.perf_counter()
        extraction(pages.withColumn("_trial", F.lit(t))).count()
        e_trials.append(time.perf_counter() - t0)
    extract_sec = min(e_trials)

    nodes, edges, _ = materialize_graph(triples, default_weights())
    nodes = nodes.persist()
    edges = edges.persist()
    nodes.count(), edges.count()  # materialize OUTSIDE the BCA timing
    b_trials, res = [], None
    for _ in range(2):
        t1 = time.perf_counter()
        res = bca_cooccurrence(nodes, edges, alpha=0.1, epsilon=1e-3, directed=False)
        b_trials.append(time.perf_counter() - t1)
        if len(b_trials) < 2:
            res.cooc.unpersist()

    # the beyond-memory path gets its own tracked number (BENCH would
    # otherwise only ever exercise the broadcast strategy). Two trials,
    # min — the broadcast path's discipline (r3 ran ONE cold trial, which
    # made bca_loop_sec the only first-run-JIT-inclusive headline and its
    # r2->r3 'regression' unattributable) — plus the per-round breakdown
    # from the loop diagnostics so cost is attributable to rounds vs the
    # final union-merge.
    bl_trials, bl_diags = [], []
    for _ in range(2):
        diag: dict = {}
        t1b = time.perf_counter()
        res_loop = bca_cooccurrence(
            nodes, edges, alpha=0.1, epsilon=1e-3, directed=False,
            strategy="loop", diagnostics=diag,
        )
        bl_trials.append(time.perf_counter() - t1b)
        res_loop.cooc.unpersist()
        bl_diags.append(diag)
    # the breakdown must describe the SAME trial as the headline min —
    # a burst on the other trial would otherwise leave round_sec summing
    # to a multiple of bca_loop_sec and defeat the attribution
    bca_loop_diag = bl_diags[bl_trials.index(min(bl_trials))]
    bca_loop_sec = min(bl_trials)

    params = init_params_df(nodes, 32, 42, "adagrad").persist()
    params.count()
    g_trials = []
    from graph_embeddings_spark.glove.train import (
        preshard_cooc, shards_for, static_epoch_plan,
    )

    pipeline_shards = shards_for(res.co_count)  # work-sized, like optimize()
    cooc = preshard_cooc(res.cooc, seed=42, n_shards=pipeline_shards).persist()
    cooc.count()  # one-time fixed-shard shuffle, outside the epoch timings
    with static_epoch_plan(spark):  # the optimize() loop's static plan
        for it in range(2):
            t2 = time.perf_counter()
            new_params, _obs = train_epoch(
                cooc, params, dim=32, method="adagrad", cost="glove", max_x=res.max_x,
                iteration=it, seed=42, n_shards=pipeline_shards, batch=4096,
            )
            _force(new_params)
            g_trials.append(time.perf_counter() - t2)

    pages.unpersist()
    return {
        "pages": n_pages,
        "host": host_calibration(),
        "n_triples": n_triples,
        "extract_sec": round(extract_sec, 3),
        "extract_trials_sec": [round(t, 3) for t in e_trials],
        "triples_per_sec": round(n_triples / extract_sec, 1),
        "pages_per_sec": round(n_pages / extract_sec, 1),
        "bca_sec": round(min(b_trials), 3),
        "bca_trials_sec": [round(t, 3) for t in b_trials],
        "bca_loop_sec": round(bca_loop_sec, 3),
        "bca_loop_trials_sec": [round(t, 3) for t in bl_trials],
        "bca_loop_rounds": bca_loop_diag.get("rounds"),
        "bca_loop_round_sec": bca_loop_diag.get("round_sec"),
        "bca_loop_adj_build_sec": bca_loop_diag.get("adj_build_sec"),
        "bca_loop_merge_sec": bca_loop_diag.get("merge_sec"),
        "cooc_entries": res.co_count,
        "glove_epoch_sec": round(min(g_trials), 3),
        "glove_trials_sec": [round(t, 3) for t in g_trials],
    }


# 8M entries -> 16 work-sized shards (grid 4): enough kernel tasks to
# occupy 8 cores for 2 exact waves (640k gave 4 shards — the 2-vs-8
# comparison then measured a 4-task ceiling, not executor scaling), and
# the same operating point as BENCH/GLOVE_SCALING.md
GLOVE_SCALE_ENTRIES = int(os.environ.get("SPARK_GRAFT_GLOVE_ENTRIES", "8000000"))


def _run_child(section: str, cores: int, pages: int) -> dict:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_BENCH_CHILD="1",
        SPARK_GRAFT_BENCH_SECTION=section,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_PAGES=str(pages),
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("CHILD")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench child {section}@{cores} failed (rc={proc.returncode}); "
            f"stderr tail:\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1][5:])


def main():
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD"):
        # child mode: one section in a fresh JVM, emit JSON on stdout
        from graph_embeddings_spark.session import get_spark

        # fixed shuffle partitioning: identical logical job at every core count
        spark = get_spark("bench-child", cores=CPUS, shuffle_partitions=32)
        if os.environ.get("SPARK_GRAFT_BENCH_SECTION") == "glove_scale":
            stats = run_glove_scale_section(spark, GLOVE_SCALE_ENTRIES)
        else:
            stats = run_pipeline_section(spark, PAGES)
        print("CHILD" + json.dumps(stats))
        spark.stop()
        return

    from graph_embeddings_spark.session import get_spark

    # cores are clamped to the host's measured effective parallelism inside
    # get_spark (session.effective_cores) — local[32] on this VM regresses
    spark = get_spark("bench", cores=CPUS)
    queries, query_host_spin = run_queries(spark)
    # host-normalized seconds alongside raw (VERDICT r4 #7): sec scaled by
    # (that query's concurrent spin throughput / the quiet-window reference
    # from BENCH/BASELINE.md). Co-tenant load LOWERS spin and INFLATES raw
    # seconds proportionally for CPU-bound work, so norm_sec estimates the
    # quiet-host time and cross-round per-query deltas self-adjudicate
    # (e.g. r3->r4's spurious lang_id +9% was a 2.36-vs-3.8 spin window).
    REF_SPIN = 4.1
    queries_norm = {
        k: round(v * query_host_spin[k] / REF_SPIN, 3) for k, v in queries.items()
    }
    minhash_attr = run_minhash_attribution(spark)
    spark.stop()

    # pipeline section in a FRESH child JVM (the same isolation policy the
    # scaling trials use): the query section leaves caches + GC pressure
    # behind, which measurably depresses the pipeline's steady-state numbers
    pipe = _run_child("pipeline", CPUS, PAGES)

    result = {
        "metric": "headline queries + KG pipeline (triples/sec, GloVe epoch sec)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "queries_norm": queries_norm,
        "query_host_spin": query_host_spin,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        **minhash_attr,
        # shared-host context: BENCH/BASELINE.md quiet-window reference is
        # spin_units_per_sec ~ 4.1; proportionally lower means co-tenant
        # load was compressing every number in this run
        **pipe,
    }

    # GloVe epoch scaling evidence at compute-dominated cooc size (VERDICT
    # r2 #5: the pipeline section's 63k entries are overhead-bound and
    # anti-scale). N vs 4N cores = 2 vs 8 on this VM (raw-CPU calibration
    # shows ~18 effective cores; counts past 8 measure oversubscription).
    # ALTERNATED children (2, 8, 2, 8 — the scaling_bench.py discipline):
    # a co-tenant burst that lands in one core count's window is escaped
    # by that core count's other child, so load drift across the section
    # can't masquerade as (anti-)scaling. min over both children per count.
    # in-run raw-CPU ceiling (BENCH/GLOVE_SCALING.md method, inline):
    # aggregate spin throughput at 2 vs 8 procs bounds the scaling this
    # shared host can physically deliver DURING this section —
    # efficiency_vs_ceiling separates engine loss from host (DRAM/
    # co-tenant) loss. Probed before AND after the children; co-tenant
    # load only ever LOWERS spin throughput, so max per proc count is the
    # noise-floor estimator (the min-time discipline applied to rates).
    spin2 = host_calibration(2)["spin_units_per_sec"]
    spin8 = host_calibration(8)["spin_units_per_sec"]
    gs2a = _run_child("glove_scale", 2, PAGES)
    gs8a = _run_child("glove_scale", 8, PAGES)
    gs2b = _run_child("glove_scale", 2, PAGES)
    gs8b = _run_child("glove_scale", 8, PAGES)
    spin2 = max(spin2, host_calibration(2)["spin_units_per_sec"])
    spin8 = max(spin8, host_calibration(8)["spin_units_per_sec"])
    t2 = min(gs2a["epoch_sec"], gs2b["epoch_sec"])
    t8 = min(gs8a["epoch_sec"], gs8b["epoch_sec"])
    eff = round(t2 / (4 * t8), 3)
    ceiling = round(spin8 / (4 * spin2), 3)
    result["glove_scale"] = {
        "entries": gs8a["entries"],
        "n_shards": gs8a["n_shards"],
        "local2_epoch_sec": t2,
        "local8_epoch_sec": t8,
        "local2_trials": gs2a["trials"] + gs2b["trials"],
        "local8_trials": gs8a["trials"] + gs8b["trials"],
        "efficiency_2_to_8": eff,
        "spin_ceiling_2_to_8": ceiling,
        "efficiency_vs_ceiling": round(eff / ceiling, 3) if ceiling else None,
        "host_local2": [gs2a["host"], gs2b["host"]],
        "host_local8": [gs8a["host"], gs8b["host"]],
    }

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        # full-pipeline N vs 4N evidence (north_rule two-cluster-size
        # stand-in) — triples/sec at 2 vs 8 cores on the same input.
        scaling = {}
        for cores in (2, 8):
            scaling[f"local[{cores}]"] = _run_child("pipeline", cores, PAGES)
        tp2 = scaling["local[2]"]["triples_per_sec"]
        tp8 = scaling["local[8]"]["triples_per_sec"]
        result["scaling"] = {
            "local2_triples_per_sec": tp2,
            "local8_triples_per_sec": tp8,
            "efficiency": round(tp8 / (4 * tp2), 3),
            "local2_glove_epoch_sec": scaling["local[2]"]["glove_epoch_sec"],
            "local8_glove_epoch_sec": scaling["local[8]"]["glove_epoch_sec"],
        }

    # the COMPLETE result goes to disk: r04's single giant JSON line outgrew
    # the round driver's bounded stdout-tail capture and the authoritative
    # artifact recorded parsed:null. The printed line below is a compact
    # subset (trial arrays / per-stage breakdowns / host snapshots live only
    # in the file) sized to always fit a tail buffer.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "last_run.json"), "w") as f:
        json.dump(result, f, indent=1)

    gs = result["glove_scale"]
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "queries": queries,
        "queries_norm": queries_norm,
        "pages": result["pages"],
        "n_triples": result["n_triples"],
        "extract_sec": result["extract_sec"],
        "triples_per_sec": result["triples_per_sec"],
        "pages_per_sec": result["pages_per_sec"],
        "bca_sec": result["bca_sec"],
        "bca_loop_sec": result["bca_loop_sec"],
        "cooc_entries": result["cooc_entries"],
        "glove_epoch_sec": result["glove_epoch_sec"],
        "minhash_candidates_raw": result["minhash_candidates_raw"],
        "minhash_pairs_final": result["minhash_pairs_final"],
        "host_spin": result["host"]["spin_units_per_sec"],
        "glove_scale": {
            k: gs[k]
            for k in (
                "entries", "n_shards", "local2_epoch_sec", "local8_epoch_sec",
                "efficiency_2_to_8", "spin_ceiling_2_to_8", "efficiency_vs_ceiling",
            )
        },
        "full": "BENCH/last_run.json",
    }
    if "scaling" in result:
        compact["scaling"] = result["scaling"]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
