"""BCA co-occurrence: kernel semantics vs sequential oracle + conservation.

Oracles are small pure-Python simulators written from the documented
semantics (SURVEY.md §2.5; bca/jobs/DirectedWeighted.java:31-101):
  * seq_bca  — the reference's node-id-ordered sequential queue;
  * sync_bca — the level-synchronous rounds our Spark loop implements.
On trees/DAGs both produce identical values (no re-visit merge-timing
differences), so tree cases assert exact (1e-9) equality against seq_bca;
cyclic cases assert against sync_bca exactly plus conservation bounds.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graph_embeddings_spark.bca.cooc import (
    bca_cooccurrence,
    build_adjacency,
    max_rounds_bound,
    normalize_bcvs,
)
from graph_embeddings_spark.config import NORM_COUNTS, NORM_NONE, NORM_UNITY


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

def _adj(edges, direction):
    """edges: list[(src, dst, w)] -> {node: [(nbr, w)]} for the direction."""
    out: dict[int, list[tuple[int, float]]] = {}
    for s, d, w in edges:
        if direction in ("out", "both"):
            out.setdefault(s, []).append((d, w))
        if direction in ("in", "both"):
            out.setdefault(d, []).append((s, w))
    return out


def seq_bca(edges, root, alpha, eps, direction):
    """Sequential id-ordered queue (DirectedWeighted.java:46-99)."""
    adj = _adj(edges, direction)
    bcv: dict[int, float] = {}
    queue: dict[int, float] = {root: 1.0}
    while queue:
        node = min(queue)
        paint = queue.pop(node)
        bcv[node] = bcv.get(node, 0.0) + alpha * paint
        if paint < eps:
            continue
        nbrs = adj.get(node, [])
        total = sum(w for _, w in nbrs)
        if total == 0:
            continue
        for nbr, w in nbrs:
            part = (1 - alpha) * paint * (w / total)
            if part < eps:
                continue
            queue[nbr] = queue.get(nbr, 0.0) + part
    return bcv


def sync_bca(edges, root, alpha, eps, direction):
    """Level-synchronous rounds — the Spark loop's exact semantics."""
    adj = _adj(edges, direction)
    bcv: dict[int, float] = {}
    wet = {root: 1.0}
    for _ in range(200):
        if not wet:
            break
        nxt: dict[int, float] = {}
        for node, paint in wet.items():
            bcv[node] = bcv.get(node, 0.0) + alpha * paint
            if paint < eps:
                continue
            nbrs = adj.get(node, [])
            total = sum(w for _, w in nbrs)
            if total == 0:
                continue
            for nbr, w in nbrs:
                part = (1 - alpha) * paint * (w / total)
                if part >= eps:
                    nxt[nbr] = nxt.get(nbr, 0.0) + part
        wet = nxt
    return bcv


def seq_directed_merged(edges, root, alpha, eps):
    """Forward + reverse merge (BCAJob.java:32-36)."""
    fwd = seq_bca(edges, root, alpha, eps, "out")
    rev = seq_bca(edges, root, alpha, eps, "in")
    for k, v in rev.items():
        fwd[k] = fwd.get(k, 0.0) + v
    return fwd


# ---------------------------------------------------------------------------
# Fixtures
# ---------------------------------------------------------------------------

CHAIN = [(0, 1, 1.0), (1, 2, 1.0)]
STAR = [(0, 1, 1.0), (0, 2, 1.0), (0, 3, 1.0), (0, 4, 1.0)]
FORK = [(0, 1, 3.0), (0, 2, 1.0), (1, 3, 1.0)]  # weighted fork
CYCLE = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)]
ALPHA, EPS = 0.1, 1e-3


def _graph_dfs(spark, edges, n_nodes):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "node_id long")
    edf = spark.createDataFrame(
        [(s, d, 1, w) for s, d, w in edges], "src long, dst long, etype int, weight float"
    )
    return nodes, edf


def _collect_bcvs(cooc_df):
    out: dict[int, dict[int, float]] = {}
    for r in cooc_df.collect():
        out.setdefault(r["i"], {})[r["j"]] = r["x"]
    return out


# ---------------------------------------------------------------------------
# Exact parity on trees (seq == sync == spark)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("edges,n", [(CHAIN, 3), (STAR, 5), (FORK, 4)])
def test_directed_tree_exact(spark, edges, n):
    nodes, edf = _graph_dfs(spark, edges, n)
    res = bca_cooccurrence(nodes, edf, ALPHA, EPS, directed=True, normalize=NORM_NONE)
    got = _collect_bcvs(res.cooc)
    for root in range(n):
        want = seq_directed_merged(edges, root, ALPHA, EPS)
        assert set(got.get(root, {})) == set(want), f"root {root} support mismatch"
        for j, v in want.items():
            assert got[root][j] == pytest.approx(v, abs=1e-9), f"root {root} node {j}"


def test_chain_closed_form(spark):
    """Hand-computed: fwd from 0 over 0->1->2 retains alpha*(1-alpha)^k."""
    nodes, edf = _graph_dfs(spark, CHAIN, 3)
    res = bca_cooccurrence(nodes, edf, ALPHA, EPS, directed=True, normalize=NORM_NONE)
    got = _collect_bcvs(res.cooc)
    # root 0: fwd {0:.1, 1:.09, 2:.081}; rev {0:.1} -> merged 0:.2
    assert got[0][0] == pytest.approx(0.2, abs=1e-12)
    assert got[0][1] == pytest.approx(0.09, abs=1e-12)
    assert got[0][2] == pytest.approx(0.081, abs=1e-12)


def test_undirected_cycle_loop_matches_sync_oracle(spark):
    """The level-synchronous DataFrame loop == the sync oracle exactly."""
    nodes, edf = _graph_dfs(spark, CYCLE, 3)
    res = bca_cooccurrence(
        nodes, edf, ALPHA, EPS, directed=False, normalize=NORM_NONE, strategy="loop"
    )
    got = _collect_bcvs(res.cooc)
    for root in range(3):
        want = sync_bca(CYCLE, root, ALPHA, EPS, "both")
        assert set(got[root]) == set(want)
        for j, v in want.items():
            assert got[root][j] == pytest.approx(v, abs=1e-9)


def test_undirected_cycle_broadcast_matches_seq_oracle(spark):
    """The broadcast fast path == the reference's sequential queue exactly
    (TreeMap pop order), including on cyclic graphs where the sync loop's
    merge timing differs."""
    nodes, edf = _graph_dfs(spark, CYCLE, 3)
    res = bca_cooccurrence(
        nodes, edf, ALPHA, EPS, directed=False, normalize=NORM_NONE, strategy="broadcast"
    )
    got = _collect_bcvs(res.cooc)
    for root in range(3):
        want = seq_bca(CYCLE, root, ALPHA, EPS, "both")
        assert set(got[root]) == set(want)
        for j, v in want.items():
            assert got[root][j] == pytest.approx(v, abs=1e-9)


def test_strategies_agree_on_weighted_fork(spark):
    nodes, edf = _graph_dfs(spark, FORK, 4)
    a = _collect_bcvs(
        bca_cooccurrence(nodes, edf, ALPHA, EPS, directed=True, strategy="loop").cooc
    )
    b = _collect_bcvs(
        bca_cooccurrence(nodes, edf, ALPHA, EPS, directed=True, strategy="broadcast").cooc
    )
    assert set(a) == set(b)
    for root in a:
        assert set(a[root]) == set(b[root])
        for j in a[root]:
            assert a[root][j] == pytest.approx(b[root][j], abs=1e-9)


def test_paint_conservation(spark):
    """Sum of retained paint per root <= 1 per pass (paint only leaks via
    epsilon drops / dead ends); >= alpha (the root always retains)."""
    nodes, edf = _graph_dfs(spark, FORK, 4)
    res = bca_cooccurrence(nodes, edf, ALPHA, EPS, directed=False, normalize=NORM_NONE)
    sums = {r["i"]: r["s"] for r in res.cooc.groupBy("i").agg(F.sum("x").alias("s")).collect()}
    for root in range(4):
        assert ALPHA - 1e-12 <= sums[root] <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# Normalization quirks (BCV.java:52-70)
# ---------------------------------------------------------------------------

def _bcv_df(spark, rows):
    return spark.createDataFrame(rows, "i long, j long, x double")


def test_normalize_none_keeps_root(spark):
    df = _bcv_df(spark, [(0, 0, 0.2), (0, 1, 0.3)])
    got = normalize_bcvs(df, NORM_NONE).collect()
    assert len(got) == 2


def test_normalize_unity(spark):
    """toUnity: drop root FIRST, divide by remaining sum, minus 1e-6."""
    df = _bcv_df(spark, [(0, 0, 0.2), (0, 1, 0.3), (0, 2, 0.1)])
    got = {r["j"]: r["x"] for r in normalize_bcvs(df, NORM_UNITY).collect()}
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(0.3 / 0.4 - 1e-6, abs=1e-12)
    assert got[2] == pytest.approx(0.1 / 0.4 - 1e-6, abs=1e-12)


def test_normalize_counts(spark):
    """toCounts: min/max INCLUDE the root, x*999/(max-min)+1 (BCV.java:89-91
    — no min subtraction), THEN drop root."""
    df = _bcv_df(spark, [(0, 0, 0.5), (0, 1, 0.1), (0, 2, 0.3)])
    got = {r["j"]: r["x"] for r in normalize_bcvs(df, NORM_COUNTS).collect()}
    assert set(got) == {1, 2}
    # min=0.1 max=0.5 (root included): x -> x*999/0.4 + 1
    assert got[1] == pytest.approx(0.1 * 999 / 0.4 + 1.0, abs=1e-9)
    assert got[2] == pytest.approx(0.3 * 999 / 0.4 + 1.0, abs=1e-6)


def test_normalize_counts_degenerate(spark):
    """max==min root (single off-root entry value): guarded to 1.0 (the
    reference's float divide-by-zero Infinity, deliberately fixed)."""
    df = _bcv_df(spark, [(0, 0, 0.2), (0, 1, 0.2)])
    got = {r["j"]: r["x"] for r in normalize_bcvs(df, NORM_COUNTS).collect()}
    assert got == {1: pytest.approx(1.0)}


def test_cooc_result_metadata(spark):
    nodes, edf = _graph_dfs(spark, CHAIN, 3)
    res = bca_cooccurrence(nodes, edf, ALPHA, EPS, directed=True, normalize=NORM_NONE)
    assert res.vocab_size == 3
    assert res.co_count == res.cooc.count()
    assert res.max_x == pytest.approx(
        res.cooc.agg(F.max("x")).collect()[0][0], abs=1e-12
    )


def test_adjacency_wsum(spark):
    _, edf = _graph_dfs(spark, FORK, 4)
    adj = build_adjacency(edf, "out")
    w0 = {r["dst"]: (r["weight"], r["wsum"]) for r in adj.filter("node = 0").collect()}
    assert w0[1] == (3.0, 4.0)
    assert w0[2] == (1.0, 4.0)


def test_max_rounds_bound():
    assert max_rounds_bound(0.1, 1e-3) >= math.log(1e-3) / math.log(0.9)


def test_max_rounds_bound_alpha_one():
    """alpha=1.0 retains all paint at the root — legal config, one round,
    not a math domain error."""
    from graph_embeddings_spark.bca.cooc import max_rounds_bound

    assert max_rounds_bound(1.0, 1e-3) == 1
    assert max_rounds_bound(0.5, 1e-3) >= 4
