"""One-off probe: GloVe epoch wall time at a given core count / cooc size /
shard count, on a deterministic synthetic co-occurrence (zipf-ish skew).
Used to size shards_for() and to produce the 2-vs-8-core scaling evidence.

    python tools/glove_scale_probe.py <cores> <n_entries> [n_shards]

Prints one line: PROBE {json}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# shared with bench.py — one corpus rule for all scaling evidence
from graph_embeddings_spark.glove.synth import synthetic_cooc  # noqa: E402


def main():
    cores = int(sys.argv[1])
    n_entries = int(sys.argv[2])
    n_shards = int(sys.argv[3]) if len(sys.argv) > 3 else None

    from graph_embeddings_spark.session import get_spark
    from graph_embeddings_spark.glove.train import (
        init_params_df, preshard_cooc, shards_for, static_epoch_plan, train_epoch,
    )

    extra = json.loads(os.environ.get("GLOVE_PROBE_CONF", "{}"))
    spark = get_spark("glove-scale", cores=cores, shuffle_partitions=32,
                      extra_conf=extra or None)
    # vocab grows with the corpus (a bigger crawl has more entities), so
    # per-shard working sets and copy duplication stay scale-representative
    vocab = max(25_000, n_entries // 40)
    cooc = synthetic_cooc(spark, n_entries, vocab).persist()
    co_count = cooc.count()
    nodes = cooc.select(F_col("i").alias("node_id")).union(cooc.select("j")).distinct()

    if n_shards is None:
        n_shards = shards_for(co_count)
    # the optimize() path: fixed-shard relation persisted once for the run
    raw = cooc
    cooc = preshard_cooc(raw, seed=42, n_shards=n_shards).persist()
    cooc.count()
    params = init_params_df(nodes, 32, 42, "adagrad").persist()
    params.count()
    raw.unpersist()

    n_trials = int(os.environ.get("GLOVE_PROBE_TRIALS", "3"))
    trials = []
    with static_epoch_plan(spark):  # the optimize() loop's static plan
        for it in range(n_trials):
            t0 = time.perf_counter()
            new_params, _obs = train_epoch(
                cooc, params, dim=32, method="adagrad", cost="glove", max_x=5.0,
                iteration=it, seed=42, n_shards=n_shards, batch=4096,
            )
            new_params.write.mode("overwrite").format("noop").save()
            trials.append(round(time.perf_counter() - t0, 3))
            print(f"TRIAL {it}: {trials[-1]}s", file=sys.stderr, flush=True)
    print("PROBE" + json.dumps({
        "cores": cores, "entries": co_count, "n_shards": n_shards,
        # first trial pays codegen — but with GLOVE_PROBE_TRIALS=1 it is
        # the only measurement, so keep it rather than crash on min(())
        "trials": trials, "best": min(trials[1:] or trials),
    }))
    spark.stop()


from pyspark.sql.functions import col as F_col  # noqa: E402

if __name__ == "__main__":
    main()
