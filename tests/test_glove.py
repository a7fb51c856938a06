"""GloVe training: kernel math vs hand-computed reference updates, cost
decrease, deterministic init, the hybrid combine."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.glove.kernel import (
    init_params,
    init_state,
    inner_and_weight,
    train_shard,
)
from graph_embeddings_spark.glove.train import (
    extract_embeddings,
    init_params_df,
    optimize,
    preshard_cooc,
    train_epoch,
)


# ---------------------------------------------------------------------------
# Kernel math (reference-exact at batch=1)
# ---------------------------------------------------------------------------

def test_glove_cost_values():
    """GloveCost.java:7-20: inner = dot + bf + bc - log(X); w = (X/max)^.75
    capped to 1 above max."""
    dots = np.array([0.5])
    inner, w = inner_and_weight("glove", np.array([2.0]), dots, np.array([0.1]), np.array([0.2]), max_x=8.0)
    assert inner[0] == pytest.approx(0.5 + 0.1 + 0.2 - math.log(2.0))
    assert w[0] == pytest.approx((2.0 / 8.0) ** 0.75)
    _, w2 = inner_and_weight("glove", np.array([10.0]), dots, np.array([0.0]), np.array([0.0]), max_x=8.0)
    assert w2[0] == 1.0


def test_pglove_cost_values():
    """PGloveCost.java:7-21: logit link, weight = Xij."""
    inner, w = inner_and_weight("pglove", np.array([0.25]), np.array([0.0]), np.array([0.0]), np.array([0.0]), max_x=1.0)
    assert inner[0] == pytest.approx(-math.log(0.25 / 0.75))
    assert w[0] == 0.25


def test_adagrad_single_step_hand_computed():
    """One entry, one step, G init = 1 (Adagrad.java:28-33): update is
    param -= lr * grad (vectors) and bias -= weightedCost WITHOUT lr
    (Adagrad.java:88-89)."""
    dim = 2
    focus = np.array([[0.1, 0.2]], dtype=np.float32)
    context = np.array([[0.3, -0.1]], dtype=np.float32)
    fb = np.array([0.05], dtype=np.float32)
    cb = np.array([-0.02], dtype=np.float32)
    state = init_state("adagrad", dim, 1)
    x = 2.0
    max_x = 4.0

    dot = 0.1 * 0.3 + 0.2 * -0.1
    inner = dot + 0.05 - 0.02 - math.log(x)
    w = (x / max_x) ** 0.75
    wc = w * inner
    exp_focus = np.array([0.1, 0.2]) - 0.05 * wc * np.array([0.3, -0.1])
    exp_context = np.array([0.3, -0.1]) - 0.05 * wc * np.array([0.1, 0.2])
    exp_fb = 0.05 - wc  # NO learning rate on the bias step
    exp_cb = -0.02 - wc

    cost = train_shard(
        np.array([0]), np.array([0]), np.array([x]),
        focus, context, fb, cb, state,
        method="adagrad", cost="glove", max_x=max_x, iteration=0, batch=1,
    )
    assert cost == pytest.approx(0.5 * w * inner * inner, rel=1e-5)
    assert focus[0] == pytest.approx(exp_focus, rel=1e-5)
    assert context[0] == pytest.approx(exp_context, rel=1e-5)
    assert fb[0] == pytest.approx(exp_fb, rel=1e-5)
    assert cb[0] == pytest.approx(exp_cb, rel=1e-5)
    # squared grads accumulated: G = 1 + grad^2
    assert state[0, 0] == pytest.approx(1 + (wc * 0.3) ** 2, rel=1e-5)
    assert state[0, 2 * dim] == pytest.approx(1 + wc * wc, rel=1e-5)


def test_adam_single_step_hand_computed():
    """Adam.java:84,113-124: correction-folded step, beta1=.9 beta2=.999."""
    dim = 1
    focus = np.array([[0.2]], dtype=np.float32)
    context = np.array([[0.4]], dtype=np.float32)
    fb = np.zeros(1, dtype=np.float32)
    cb = np.zeros(1, dtype=np.float32)
    state = init_state("adam", dim, 1)
    x, max_x = 1.0, 2.0
    inner = 0.2 * 0.4 - math.log(x)
    w = (x / max_x) ** 0.75
    wc = w * inner
    g = wc * 0.4  # focus grad
    m1 = 0.1 * g
    v1 = 0.001 * g * g
    corr = 0.05 * math.sqrt(1 - 0.999) / (1 - 0.9)
    exp_focus = 0.2 - corr * m1 / (math.sqrt(v1) + 1e-7)

    train_shard(
        np.array([0]), np.array([0]), np.array([x]),
        focus, context, fb, cb, state,
        method="adam", cost="glove", max_x=max_x, iteration=0, batch=1,
    )
    assert focus[0, 0] == pytest.approx(exp_focus, rel=1e-4)


def test_amsgrad_uses_max_moment():
    dim = 1
    focus = np.array([[0.2]], dtype=np.float32)
    context = np.array([[0.4]], dtype=np.float32)
    fb = np.zeros(1, dtype=np.float32)
    cb = np.zeros(1, dtype=np.float32)
    state = init_state("amsgrad", dim, 1)
    state[0, 1] = 100.0  # pre-existing huge v_f: max() must keep it
    train_shard(
        np.array([0]), np.array([0]), np.array([1.0]),
        focus, context, fb, cb, state,
        method="amsgrad", cost="glove", max_x=2.0, iteration=0, batch=1,
    )
    assert state[0, 1] == pytest.approx(100.0 * 0.999 + 0, abs=1.0) or state[0, 1] >= 99.0


def test_sequential_vs_batched_converge_alike():
    """batch=1 is reference-exact; larger batches take a different path but
    must converge to a comparable cost (metric-based acceptance per
    north_star — hogwild vs averaged SGD differ the same way). The fixture
    is adversarial: 200 entries over 20 nodes = every node duplicated ~10×
    per batch (the hub-skew case the segmented-prefix denominator handles)."""
    rng = np.random.default_rng(7)
    n, dim, entries = 20, 8, 200
    iu = rng.integers(0, n, entries)
    jv = rng.integers(0, n, entries)
    x = rng.uniform(0.5, 5.0, entries)

    def run(batch, epochs=8):
        focus, context, fb, cb = init_params(np.arange(n), dim, 42)
        state = init_state("adagrad", dim, n)
        c = 0.0
        for e in range(epochs):
            c = train_shard(iu.copy(), jv.copy(), x.copy(), focus, context, fb, cb, state,
                            method="adagrad", cost="glove", max_x=5.0, iteration=e, batch=batch)
        return c / entries

    c_seq = run(1)
    c_b64 = run(64)
    c_b256 = run(256)
    assert c_seq < 0.1  # sequential converges
    assert c_b64 < 0.15 and c_b256 < 0.15  # batched lands in the same basin


def test_init_params_deterministic_and_ranged():
    a = init_params(np.array([5, 9, 123456789]), 16, 42)
    b = init_params(np.array([123456789, 5, 9]), 16, 42)
    # same node -> same vector regardless of position/partition
    assert np.array_equal(a[0][0], b[0][1])
    assert np.array_equal(a[0][2], b[0][0])
    # U(-0.5, 0.5)/dim bound (Optimizer.java:50-57)
    assert np.abs(a[0]).max() <= 0.5 / 16
    c = init_params(np.array([5]), 16, 43)
    assert not np.array_equal(a[0][0], c[0][0])  # seed matters


# ---------------------------------------------------------------------------
# Spark harness
# ---------------------------------------------------------------------------

def _tiny_cooc(spark):
    rows = [
        (0, 1, 2.0), (1, 0, 2.0), (0, 2, 1.0), (2, 0, 1.0),
        (1, 2, 3.0), (2, 1, 3.0), (3, 0, 0.5), (0, 3, 0.5),
    ]
    cooc = spark.createDataFrame(rows, "i long, j long, x double")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node_id long")
    return cooc, nodes


# optimize's two parameter transports (train.py module docstring), forced
# through the size limit: 0 sends every vocabulary down the grid path
TRANSPORT_LIMITS = {"broadcast": 1 << 30, "grid": 0}


@pytest.fixture(params=sorted(TRANSPORT_LIMITS))
def transport(request, monkeypatch):
    from graph_embeddings_spark.glove import train

    monkeypatch.setattr(train, "_BROADCAST_PARAMS_LIMIT", TRANSPORT_LIMITS[request.param])
    return request.param


def test_optimize_cost_decreases(spark):
    cooc, nodes = _tiny_cooc(spark)
    res = optimize(
        cooc, nodes, dim=8, co_count=8, max_x=3.0, cost="glove", method="adagrad",
        maxiter=6, tolerance=0.0, seed=42, n_shards=2, batch=1,
    )
    assert len(res.cost_history) == 6
    assert res.cost_history[-1] < res.cost_history[0]
    emb = extract_embeddings(res.params)
    got = emb.orderBy("node_id").collect()
    assert len(got) == 4 and len(got[0]["vec"]) == 8


def test_presharded_epoch_trains_at_iteration1(spark):
    """Block membership is fixed by preshard_cooc for the whole run (the
    reference's shuffle re-permutes order only), so a later epoch over the
    same relation still trains: only the within-shard order re-draws."""
    cooc, nodes = _tiny_cooc(spark)
    params = init_params_df(nodes, 4, 42, "adagrad")
    pre = preshard_cooc(cooc, seed=42, n_shards=4).persist()
    new_params, obs = train_epoch(
        pre, params, dim=4, method="adagrad", cost="glove", max_x=3.0,
        iteration=1, seed=42, n_shards=4, batch=1,
    )
    assert new_params.count() == 4
    assert obs.get["cost"] > 0
    pre.unpersist()


def test_train_epoch_requires_presharded_cooc(spark):
    """A cooc without a `shard` column fails loudly and names the fix."""
    cooc, nodes = _tiny_cooc(spark)
    params = init_params_df(nodes, 4, 42, "adagrad")
    with pytest.raises(ValueError, match="preshard_cooc"):
        train_epoch(
            cooc, params, dim=4, method="adagrad", cost="glove", max_x=3.0,
            iteration=0, seed=42, n_shards=2, batch=1,
        )


def test_extract_embeddings_is_average(spark):
    params = init_params_df(
        spark.createDataFrame([(0,), (1,)], "node_id long"), 4, 42, "adagrad"
    )
    joined = params.join(extract_embeddings(params), "node_id").collect()
    for r in joined:
        for f, c, v in zip(r["focus"], r["context"], r["vec"]):
            assert v == pytest.approx((f + c) / 2, rel=1e-6)


def test_untouched_nodes_keep_params(spark):
    cooc, _ = _tiny_cooc(spark)
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node_id long")  # 4,5 untouched
    params = init_params_df(nodes, 4, 42, "adagrad")
    before = {r["node_id"]: r["focus"] for r in params.collect()}
    new_params, obs = train_epoch(
        preshard_cooc(cooc, seed=42, n_shards=2), params, dim=4, method="adagrad",
        cost="glove", max_x=3.0, iteration=0, seed=42, n_shards=2, batch=1,
    )
    after = {r["node_id"]: r["focus"] for r in new_params.collect()}
    assert obs.get["cost"] > 0
    assert after[4] == before[4] and after[5] == before[5]
    assert after[0] != before[0]  # touched node moved


def test_checkpoint_resume(spark, tmp_path):
    cooc, nodes = _tiny_cooc(spark)
    ckpt = str(tmp_path / "ckpt")
    res = optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, maxiter=2, tolerance=0.0,
        seed=42, n_shards=2, batch=1, checkpoint_dir=ckpt,
    )
    from graph_embeddings_spark.glove.train import resume_params

    reloaded = resume_params(spark, ckpt, 1)
    a = {r["node_id"]: list(r["focus"]) for r in res.params.collect()}
    b = {r["node_id"]: list(r["focus"]) for r in reloaded.collect()}
    assert a == b


def test_find_completed_epochs_and_midrun_resume(spark, tmp_path, transport):
    """A 2-epoch call, then a maxiter=4 call on the same checkpoint dir,
    must equal an uninterrupted 4-epoch call (same seed: the per-epoch
    shuffle key is seed+iteration, so the resumed epochs replay the
    identical permutations), on either transport. The second call runs only
    epochs 2 and 3, and a third call on the finished dir trains nothing."""
    from graph_embeddings_spark.glove.train import find_completed_epochs

    cooc, nodes = _tiny_cooc(spark)
    ck1 = str(tmp_path / "interrupted")
    optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, maxiter=2, tolerance=0.0,
        seed=42, n_shards=2, batch=1, checkpoint_dir=ck1,
    )
    assert find_completed_epochs(ck1) == [0, 1]
    resumed = optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, maxiter=4, tolerance=0.0,
        seed=42, n_shards=2, batch=1, checkpoint_dir=ck1,
    )
    assert len(resumed.cost_history) == 2
    assert find_completed_epochs(ck1) == [0, 1, 2, 3]
    ck2 = str(tmp_path / "straight")
    straight = optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, maxiter=4, tolerance=0.0,
        seed=42, n_shards=2, batch=1, checkpoint_dir=ck2,
    )
    assert resumed.cost_history == pytest.approx(straight.cost_history[2:], rel=1e-9)
    a = {r["node_id"]: list(r["focus"]) for r in resumed.params.collect()}
    b = {r["node_id"]: list(r["focus"]) for r in straight.params.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-6)
    again = optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, maxiter=4, tolerance=0.0,
        seed=42, n_shards=2, batch=1, checkpoint_dir=ck1,
    )
    assert again.cost_history == []
    assert {r["node_id"]: list(r["focus"]) for r in again.params.collect()} == a
    assert find_completed_epochs(str(tmp_path / "missing")) == []


def test_shards_for_sizing():
    """Work-sized sharding: small coocs get few fat shards (the r2 bench
    anti-scaled at ~2k entries/shard), huge coocs saturate any cluster."""
    from graph_embeddings_spark.glove.train import shards_for

    assert shards_for(63_000) == 4  # lo clamp area
    assert shards_for(640_000) == 4  # fat shards: duplication ~2*sqrt(S)
    assert shards_for(25_000_000) == 50
    assert shards_for(8_000_000) == 16  # measured sweet spot (GLOVE_SCALING)
    assert shards_for(10**12) == 4096  # hi clamp
    assert shards_for(0) == 4  # lo clamp


def test_combine_epoch_matches_hand_values(spark):
    """The Arrow combine reproduces the documented hybrid formula exactly:
    delta-sum arrays + per-side mean biases, untouched rows (and untouched
    SIDES of touched rows) pass through."""
    import numpy as np
    from graph_embeddings_spark.glove.train import (
        PARAMS_SCHEMA,
        _SIDE_SCHEMA,
        _combine_epoch,
    )

    hw, tail = 2, 1  # dim-2 adagrad layout: [f0 f1 c0 c1 ftail ctail]

    def row(nid, base, fb):
        return (
            nid,
            [float(base)] * 2,          # focus
            [float(base + 1)] * 2,      # context
            float(fb), float(fb + 1),   # biases
            [float(base + 2)] * 6,      # state
        )

    def copy(nid, side, base, b):
        # packed _SIDE_SCHEMA blob: [vec(2) | state_half(3) | bias]
        return (nid, side, [float(base)] * 2 + [float(base + 2)] * 3 + [float(b)])

    params = spark.createDataFrame([row(1, 10.0, 1.0), row(2, 20.0, 2.0)], PARAMS_SCHEMA)
    # node 1: focus side touched by two shards (11, 13), context side by ONE
    copies = spark.createDataFrame(
        [copy(1, 0, 11.0, 3.0), copy(1, 0, 13.0, 5.0), copy(1, 1, 12.0, 6.0)],
        _SIDE_SCHEMA,
    )
    got = {r["node_id"]: r for r in _combine_epoch(copies, params, hw, tail).collect()}
    assert np.allclose(got[1]["focus"], [14.0, 14.0])          # 10 + (11-10) + (13-10)
    assert np.allclose(got[1]["context"], [12.0, 12.0])        # 11 + (12-11)
    assert got[1]["f_bias"] == pytest.approx(4.0)              # mean(3, 5)
    assert got[1]["c_bias"] == pytest.approx(6.0)              # mean over trained copies only
    # state halves recombined into the full layout
    assert np.allclose(got[1]["state"], [16.0, 16.0, 14.0, 14.0, 16.0, 14.0])
    assert np.allclose(got[2]["focus"], [20.0, 20.0])          # untouched
    assert got[2]["f_bias"] == pytest.approx(2.0)
    assert np.allclose(got[2]["state"], [22.0] * 6)


def test_missing_param_node_fails_loudly(spark, monkeypatch):
    """A cooc endpoint absent from params (or a preshard built under a
    different seed/n_shards than the param shipping) must raise, not
    silently train a neighbouring node's row through the vectorized
    searchsorted mapping — on the grid epoch and on the broadcast one."""
    cooc, _ = _tiny_cooc(spark)  # touches node ids 0..3
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node_id long")  # 3 missing
    params = init_params_df(nodes, 4, 42, "adagrad")
    import py4j.protocol
    with pytest.raises((py4j.protocol.Py4JJavaError, Exception)) as exc:
        new_params, _ = train_epoch(
            preshard_cooc(cooc, seed=42, n_shards=2), params, dim=4, method="adagrad",
            cost="glove", max_x=3.0, iteration=0, seed=42, n_shards=2, batch=1,
        )
        new_params.collect()
    assert "missing from shipped params" in str(exc.value)
    from graph_embeddings_spark.glove import train

    monkeypatch.setattr(train, "_BROADCAST_PARAMS_LIMIT", TRANSPORT_LIMITS["broadcast"])
    with pytest.raises(Exception, match="missing from shipped params"):
        optimize(cooc, nodes, dim=4, co_count=8, max_x=3.0, maxiter=1, seed=42, n_shards=2)


def test_convergence_marker_and_final_cost(spark, tmp_path, transport):
    """A tolerance break writes _CONVERGED; a maxiter run reports the last
    epoch's cost as final_cost instead of the 0.0 placeholder — on either
    transport."""
    from graph_embeddings_spark.glove.train import converged_epoch, optimize

    cooc, nodes = _tiny_cooc(spark)
    ckpt = str(tmp_path / "params")
    # huge tolerance: the second epoch's |diff| is within it -> early break
    res = optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, cost="glove", method="adagrad",
        maxiter=10, tolerance=1e9, seed=42, n_shards=2, batch=1, checkpoint_dir=ckpt,
    )
    conv = converged_epoch(ckpt)
    assert conv is not None and conv == res.epochs_run - 1
    assert res.final_cost == pytest.approx(res.cost_history[-1])
    # maxiter run (zero tolerance): final_cost must be the last real cost
    res2 = optimize(
        cooc, nodes, dim=4, co_count=8, max_x=3.0, cost="glove", method="adagrad",
        maxiter=3, tolerance=0.0, seed=42, n_shards=2, batch=1,
    )
    assert res2.final_cost == pytest.approx(res2.cost_history[-1])
    assert res2.final_cost > 0.0


def test_pglove_rejects_out_of_domain_x():
    """The logit link is undefined for x >= 1: raw counts must raise, not
    silently train NaN into every touched row."""
    import numpy as np

    from graph_embeddings_spark.glove.kernel import inner_and_weight

    z = np.zeros(1)
    with pytest.raises(ValueError, match="pglove"):
        inner_and_weight("pglove", np.array([1.0]), z, z, z, max_x=1.0)
    with pytest.raises(ValueError, match="pglove"):
        inner_and_weight("pglove", np.array([3.0]), z, z, z, max_x=1.0)
    inner, w = inner_and_weight("pglove", np.array([0.5]), z, z, z, max_x=1.0)
    assert np.isfinite(inner).all()


def _rand_cooc(spark, n_nodes=60, entries=600):
    """Random cooc with x in (0, 1), valid for both costs, over n_nodes + 3
    nodes (the last 3 untouched)."""
    rng = np.random.default_rng(11)
    pairs = {
        (int(i), int(j)): float(x)
        for i, j, x in zip(
            rng.integers(0, n_nodes, entries), rng.integers(0, n_nodes, entries),
            rng.uniform(0.05, 0.95, entries),
        )
    }
    cooc = spark.createDataFrame(
        [(i, j, x) for (i, j), x in sorted(pairs.items())], "i long, j long, x double"
    )
    nodes = spark.range(n_nodes + 3).select(F.col("id").alias("node_id"))
    return cooc, nodes, len(pairs)


@pytest.mark.parametrize(
    "method,cost", [("adagrad", "glove"), ("adam", "glove"), ("adagrad", "pglove")]
)
def test_transports_agree(spark, monkeypatch, method, cost):
    """The broadcast and grid transports run the same kernel and combine,
    so they give the same cost history and embeddings; each forced run
    takes only its own epoch path."""
    from graph_embeddings_spark.glove import train

    def counted(fn, key):
        def wrapper(*a, **k):
            calls[key] += 1
            return fn(*a, **k)
        return wrapper

    cooc, nodes, co_count = _rand_cooc(spark)
    got = {}
    for name, limit in TRANSPORT_LIMITS.items():
        calls = {"broadcast": 0, "grid": 0}
        monkeypatch.setattr(train, "_BROADCAST_PARAMS_LIMIT", limit)
        monkeypatch.setattr(train, "_broadcast_epoch", counted(train._broadcast_epoch, "broadcast"))
        monkeypatch.setattr(train, "train_epoch", counted(train.train_epoch, "grid"))
        res = optimize(
            cooc, nodes, dim=6, co_count=co_count, max_x=1.0, cost=cost, method=method,
            maxiter=3, tolerance=0.0, seed=5, n_shards=4, batch=32,
        )
        monkeypatch.undo()
        assert calls == {k: 3 if k == name else 0 for k in calls}
        vecs = {r["node_id"]: np.array(r["vec"]) for r in extract_embeddings(res.params).collect()}
        got[name] = (res.cost_history, vecs)
    (h_b, v_b), (h_g, v_g) = got["broadcast"], got["grid"]
    assert h_b == pytest.approx(h_g, rel=1e-9, abs=0.0)
    assert set(v_b) == set(v_g) and len(v_b) == 63
    for k in v_b:
        np.testing.assert_allclose(v_b[k], v_g[k], rtol=0, atol=1e-6)
