"""Bookmark-Coloring (BCA) co-occurrence as a level-synchronous DataFrame loop.

The reference runs one sequential paint-propagation job per vertex on a
thread pool (bca/BookmarkColoring.java:47-71, bca/jobs/DirectedWeighted.java:
31-101, bca/jobs/UndirectedWeighted.java:31-114). Spark inverts that: ALL
roots propagate simultaneously as rows of one state DataFrame

    wet(root long, node long, paint double)

and each round is a join-explode-aggregate over the adjacency table — the
Pregel shape, expressed purely relationally so Catalyst/AQE pick the
physical plan. Per round (kernel semantics, DirectedWeighted.java:46-99):

    retain:  bcv += (root, node, alpha * paint)          # always, even tiny paint
    expand:  only rows with paint >= epsilon             # :56 'continue'
    spread:  partial = (1-alpha) * paint * w / wsum      # :83
    prune:   drop partial < epsilon                      # :85-86
    merge:   groupBy(root, node).sum(partial)            # TreeMap addPaint :89-93

Semantic delta vs the reference (SURVEY.md §7): the reference's node-id-
ordered sequential queue merges paint only for not-yet-popped nodes; the
level-synchronous rounds merge everything arriving in the same round. Paint
totals are conserved identically; epsilon-truncation points can differ
slightly, which the tests gate with conservation properties and tolerances
instead of float-exact goldens.

Scale design:
  * adjacency is a flat (node, dst, weight, wsum) table repartitioned by
    `node` ONCE; every round's join reuses that partitioning (one shuffle
    per round for the groupBy, none for the join side).
  * per-round state is localCheckpoint()ed to truncate lineage — an
    unbounded iterative plan otherwise blows up the optimizer; on a real
    cluster this maps to checkpoint dirs / Iceberg round tables.
  * rounds are bounded: paint decays by >= (1-alpha) per hop, so
    #rounds <= log(eps)/log(1-alpha); max_rounds_bound enforces it.
  * hub-node skew (north_rule): the expansion join fans out by out-degree;
    AQE skew-join splits oversized partitions.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import NORM_COUNTS, NORM_NONE, NORM_UNITY

# 'auto' picks the broadcast strategy up to this many edges (CSR ≈ 24 B/edge,
# so ≈ 50 MB shipped to every task)
_BROADCAST_EDGE_LIMIT = 2_000_000

# the loop probes its checkpointed state for emptiness every this many rounds
_PROBE_EVERY = 4


def build_adjacency(edges: DataFrame, direction: str) -> DataFrame:
    """edges(src, dst, etype, weight) -> adj(node, dst, weight, wsum).

    direction: 'out' (follow src->dst), 'in' (reverse: dst->src), or 'both'
    (undirected kernel: out ∪ in per UndirectedWeighted.java:56-67 — wsum is
    the combined in+out weight sum).
    """
    out = edges.select(F.col("src").alias("node"), F.col("dst"), F.col("weight").cast("double"))
    rev = edges.select(F.col("dst").alias("node"), F.col("src").alias("dst"), F.col("weight").cast("double"))
    if direction == "out":
        adj = out
    elif direction == "in":
        adj = rev
    elif direction == "both":
        adj = out.unionAll(rev)
    else:
        raise ValueError(f"direction must be out/in/both, got {direction}")
    # wsum via ONE node-keyed exchange + an unbounded window: the
    # repartition('node') the loop needs anyway doubles as the window's
    # clustering, so the whole build is a single full-data shuffle plus a
    # local sort — the earlier groupBy+rejoin form paid a second full-data
    # exchange for the join (bench attribution showed the build at ~45% of
    # the loop path; A/B-measured faster at 10k pages and strictly fewer
    # exchanges at any scale). Window output keeps hash(node) partitioning,
    # exactly what the per-round co-partitioned join requires.
    return adj.repartition("node").withColumn(
        "wsum", F.sum("weight").over(Window.partitionBy("node"))
    )


def max_rounds_bound(alpha: float, epsilon: float) -> int:
    """Paint shrinks by at least (1-alpha) per hop (DirectedWeighted.java:83
    with a single neighbor), so depth <= log(eps)/log(1-alpha). alpha=1
    retains all paint at the root — nothing ever spreads, one round."""
    if alpha >= 1.0:
        return 1
    return max(4, int(math.ceil(math.log(epsilon) / math.log(1.0 - alpha))) + 2)


def expand_round(
    frontier: DataFrame,
    adj: DataFrame,
    alpha: float,
    epsilon: float,
) -> DataFrame:
    """One level-synchronous expansion: frontier ⋈ adjacency -> moved paint
    -> merged next frontier. The SINGLE definition of the round plan,
    shared by _one_direction, tools/plan_audit.py and tests/test_plans.py
    so the audited plan cannot drift from the shipping one.

    ONE exchange per round, keyed on node: repartition("node") lets the
    groupBy run exchange-free (HashPartitioning(node) satisfies
    ClusteredDistribution(root, node)) AND leaves the checkpointed frontier
    co-partitioned with the cached adjacency, so the NEXT round's join
    needs no frontier shuffle when adj is beyond broadcast size — the loop
    path's whole reason to exist. The naive groupBy(root, node) shuffled
    twice per round (join key 'node', then group key '(root, node)');
    map-side combine loses little here because a dst's in-neighbors hash
    across partitions. Measured 1.8x on the 10k-page bench graph."""
    moved = (
        frontier.join(adj, "node")
        .select(
            "root",
            F.col("dst").alias("node"),
            ((1.0 - alpha) * F.col("paint") * F.col("weight") / F.col("wsum")).alias(
                "paint"
            ),
        )
        .filter(F.col("paint") >= epsilon)
    )
    return (
        moved.repartition("node")
        .groupBy("root", "node")
        .agg(F.sum("paint").alias("paint"))
    )


def _one_direction(
    roots: DataFrame,
    adj: DataFrame,
    alpha: float,
    epsilon: float,
    max_rounds: int,
) -> DataFrame:
    """Run the paint loop for every root in `roots` (node_id long) against a
    prebuilt adjacency; returns un-normalized bcv(i, j, x) with the root
    entry present (i == root id, j == painted node).

    Every round is eagerly localCheckpoint'ed (the retained-paint parts
    reference each round's state — lazy rounds would be recomputed by the
    final union, measured 6x slower). The separate EMPTINESS probe is the
    second job per round; it only decides early exit, so it runs every
    _PROBE_EVERY (K) rounds — the decay bound caps wasted empty rounds at
    K-1, each of which is a no-op job over an empty checkpointed state."""
    wet = roots.select(
        F.col("node_id").alias("root"),
        F.col("node_id").alias("node"),
        F.lit(1.0).alias("paint"),
    )
    retained_parts: list[DataFrame] = []
    for _round in range(max_rounds):
        retained_parts.append(
            wet.select("root", "node", (F.lit(alpha) * F.col("paint")).alias("x"))
        )
        frontier = wet.filter(F.col("paint") >= epsilon)
        wet = expand_round(frontier, adj, alpha, epsilon).localCheckpoint(eager=True)
        if _round % _PROBE_EVERY == _PROBE_EVERY - 1 and not wet.take(1):
            break
    bcv = retained_parts[0]
    for p in retained_parts[1:]:
        bcv = bcv.unionAll(p)
    return bcv.groupBy("root", "node").agg(F.sum("x").alias("x")).select(
        F.col("root").alias("i"), F.col("node").alias("j"), F.col("x").cast("double").alias("x")
    )


def normalize_bcvs(bcv: DataFrame, mode: str) -> DataFrame:
    """Per-root normalization — BCV.java:52-70 exactly:

    counts: x * (1000-1)/(max-min) + 1 over ALL entries (root included;
            min/max per root), THEN drop the root entry (toCounts order).
            Note the reference's scale (BCV.java:89-91) does NOT subtract
            min from x — it is a pure rescale + offset, not a min-max map
            into [1,1000]. max==min divides by zero in the reference
            (float Infinity); we map that degenerate root to 1.0 instead —
            a deliberate, documented deviation like the Numeric s2hat fix.
    unity:  drop the root entry FIRST, divide by the remaining sum,
            subtract 1e-6 (toUnity order).
    none:   keep everything, root entry included.
    """
    if mode == NORM_NONE:
        return bcv
    if mode == NORM_COUNTS:
        stats = bcv.groupBy("i").agg(F.max("x").alias("_mx"), F.min("x").alias("_mn"))
        scaled = (
            bcv.join(stats, "i")
            .withColumn(
                "x",
                F.when(
                    F.col("_mx") == F.col("_mn"), F.lit(1.0)
                ).otherwise(
                    F.col("x") * (1000.0 - 1.0) / (F.col("_mx") - F.col("_mn")) + 1.0
                ),
            )
            .filter(F.col("i") != F.col("j"))
        )
        return scaled.select("i", "j", "x")
    if mode == NORM_UNITY:
        rest = bcv.filter(F.col("i") != F.col("j"))
        sums = rest.groupBy("i").agg(F.sum("x").alias("_sum"))
        return (
            rest.join(sums, "i")
            .withColumn("x", F.col("x") / F.col("_sum") - 1e-6)
            .select("i", "j", "x")
        )
    raise ValueError(f"unknown normalize mode {mode}")


def _edges_to_pandas(edges: DataFrame):
    """Arrow-batched transfer of (src, dst, weight) — never driver-side Row
    objects (a 5M-edge Row collect is multi-GB of boxed heap; the Arrow
    frame is three primitive columns, ~100 MB)."""
    return edges.select("src", "dst", "weight").toPandas()


def _csr_from_pandas(pdf, direction: str, n: int):
    """pandas (src, dst, weight) -> CSR (indptr, indices, weights, wsum),
    all numpy from the Arrow columns, zero Python-object boxing. Requires
    node ids in [0, n)."""
    import numpy as np

    s = pdf["src"].to_numpy(dtype=np.int64, copy=False)
    d = pdf["dst"].to_numpy(dtype=np.int64, copy=False)
    w0 = pdf["weight"].to_numpy(dtype=np.float64, copy=False)
    if direction == "out":
        src, dst, w = s, d, w0
    elif direction == "in":
        src, dst, w = d, s, w0
    else:  # both
        src = np.concatenate([s, d])
        dst = np.concatenate([d, s])
        w = np.concatenate([w0, w0])
    order = np.argsort(src, kind="stable")
    src, dst, w = src[order], dst[order], np.ascontiguousarray(w[order])
    indptr = np.searchsorted(src, np.arange(n + 1))
    wsum = np.zeros(n)
    np.add.at(wsum, src, w)
    return indptr, dst, w, wsum


def _bca_root_kernel(root: int, indptr, indices, weights, wsum, alpha: float, epsilon: float, scratch):
    """Exact reference kernel for ONE root: sequential queue popped in
    ascending node-id order (DirectedWeighted.java:46-99's TreeMap). numpy
    scratch buffers are reused across roots within a task; hub-node
    distributions are numpy-vectorized (a hub pop touches thousands of
    neighbors — the scalar loop is the bottleneck otherwise)."""
    import heapq

    import numpy as np

    paint, inq = scratch
    bcv: dict[int, float] = {}
    heap = [root]
    paint[root] = 1.0
    inq[root] = True
    while heap:
        u = heapq.heappop(heap)
        if not inq[u]:
            continue
        p = paint[u]
        paint[u] = 0.0
        inq[u] = False
        bcv[u] = bcv.get(u, 0.0) + alpha * p
        if p < epsilon:
            continue
        s, e = int(indptr[u]), int(indptr[u + 1])
        if s == e or wsum[u] == 0:
            continue
        factor = (1.0 - alpha) * p / wsum[u]
        if e - s <= 16:  # scalar path: cheaper than numpy setup for low degree
            for k in range(s, e):
                part = factor * weights[k]
                if part < epsilon:
                    continue
                v = int(indices[k])
                paint[v] += part
                if not inq[v]:
                    inq[v] = True
                    heapq.heappush(heap, v)
        else:
            part = factor * weights[s:e]
            m = part >= epsilon
            if not m.any():
                continue
            vs = indices[s:e][m]
            np.add.at(paint, vs, part[m])
            fresh = vs[~inq[vs]]
            if len(fresh):
                fresh = np.unique(fresh)
                inq[fresh] = True
                for v in fresh:
                    heapq.heappush(heap, int(v))
    return bcv


def _broadcast_bca(
    nodes: DataFrame,
    edges: DataFrame,
    alpha: float,
    epsilon: float,
    directed: bool,
    n: int,
    edge_pdf=None,
) -> DataFrame:
    """Broadcast fast path: ship the CSR adjacency to every task (like a
    broadcast hash join's build side) and run the exact per-root reference
    kernel over a partition of roots — one task per root chunk, zero
    shuffles, sequential-queue parity with the reference (better than the
    level-synchronous loop's merge-timing approximation). Used when the
    adjacency fits in executor memory; the iterative loop is the beyond-
    memory path."""
    import numpy as np
    import pandas as pd

    spark = nodes.sparkSession
    if edge_pdf is None:
        edge_pdf = _edges_to_pandas(edges)
    if directed:
        csrs = [_csr_from_pandas(edge_pdf, "out", n), _csr_from_pandas(edge_pdf, "in", n)]
    else:
        csrs = [_csr_from_pandas(edge_pdf, "both", n)]
    bc = spark.sparkContext.broadcast(csrs)

    def run(batches):
        local = bc.value
        paint = np.zeros(n)
        inq = np.zeros(n, dtype=bool)
        for pdf in batches:
            ii, jj, xx = [], [], []
            for root in pdf["node_id"]:
                root = int(root)
                merged: dict[int, float] = {}
                for indptr, indices, weights, wsum in local:
                    bcv = _bca_root_kernel(
                        root, indptr, indices, weights, wsum, alpha, epsilon, (paint, inq)
                    )
                    for k, v in bcv.items():
                        merged[k] = merged.get(k, 0.0) + v
                for k, v in merged.items():
                    ii.append(root)
                    jj.append(k)
                    xx.append(v)
            yield pd.DataFrame({"i": ii, "j": jj, "x": xx})

    parallelism = spark.sparkContext.defaultParallelism
    return (
        nodes.select("node_id")
        .repartition(max(parallelism, 8))
        .mapInPandas(run, "i long, j long, x double")
    )


@dataclass
class CoocResult:
    """The CoOccurrenceMatrix seam (util/CoOccurrenceMatrix.java:6-17):
    cooc(i, j, x) + vocab_size + co_count + global max."""

    cooc: DataFrame
    vocab_size: int
    co_count: int
    max_x: float


def bca_cooccurrence(
    nodes: DataFrame,
    edges: DataFrame,
    alpha: float,
    epsilon: float,
    directed: bool = False,
    normalize: str = NORM_NONE,
    strategy: str = "auto",
) -> CoocResult:
    """Full BCA stage (BookmarkColoring.java:32-120 analog).

    directed=True: forward pass over out-edges + reverse pass over in-edges,
    sum-merged (BCAJob.java:32-36, BCV.merge) BEFORE normalization.
    directed=False: single pass over the combined in∪out neighborhood.

    strategy: physical plan choice, mirroring Spark's broadcast-vs-shuffle
    join decision —
      'broadcast': collect the adjacency CSR to the driver, broadcast it,
        run the exact sequential per-root reference kernel in mapInPandas
        (zero shuffles; one task per root chunk — the reference's one-job-
        per-bookmark thread pool, BookmarkColoring.java:47-71, mapped to
        tasks). Right whenever the graph fits in memory (CSR ≈ 24 B/edge;
        2M edges ≈ 50 MB broadcast). Edges travel driver-side as ONE Arrow
        frame (toPandas), never boxed Rows.
      'loop': the level-synchronous DataFrame loop — the beyond-memory path
        for graphs too big to broadcast.
      'auto': broadcast iff edge count <= _BROADCAST_EDGE_LIMIT, probed with
        a single limit+1 Arrow pull that doubles as the build-side data
        (no separate count() action).
    """
    rounds = max_rounds_bound(alpha, epsilon)
    roots = nodes.select("node_id")
    n_nodes = nodes.count()

    edge_pdf = None
    if strategy == "auto":
        # ONE action decides the strategy AND feeds the broadcast build:
        # pull at most limit+1 edge rows via Arrow; under the limit the
        # frame IS the CSR input (no second scan), over it -> loop path
        # (the analog of a broadcast join's build-side size probe)
        probe = _edges_to_pandas(edges.limit(_BROADCAST_EDGE_LIMIT + 1))
        if len(probe) <= _BROADCAST_EDGE_LIMIT:
            strategy, edge_pdf = "broadcast", probe
        else:
            strategy = "loop"
    adj_caches: list[DataFrame] = []
    if strategy == "broadcast":
        bcv = _broadcast_bca(
            nodes, edges, alpha, epsilon, directed, int(n_nodes), edge_pdf=edge_pdf
        )
    elif directed:
        # persisted: every round's expansion join reads the adjacency; an
        # unpersisted plan would re-shuffle (and re-scan) it per round, and
        # the cached InMemoryTableScan keeps the repartition('node') output
        # partitioning so the join only exchanges the frontier side
        adj_out = build_adjacency(edges, "out").persist()
        adj_in = build_adjacency(edges, "in").persist()
        adj_caches += [adj_out, adj_in]
        fwd = _one_direction(roots, adj_out, alpha, epsilon, rounds)
        rev = _one_direction(roots, adj_in, alpha, epsilon, rounds)
        bcv = (
            fwd.unionAll(rev)
            .groupBy("i", "j")
            .agg(F.sum("x").alias("x"))
        )
    else:
        adj = build_adjacency(edges, "both").persist()
        adj_caches.append(adj)
        bcv = _one_direction(roots, adj, alpha, epsilon, rounds)

    normed = normalize_bcvs(bcv, normalize)
    normed = normed.persist()
    # A6/A7: global max + co-occurrence count + vocab size
    # (BookmarkColoring.java:95-97,143-164) — one aggregate pass.
    agg = normed.agg(
        F.count("*").alias("n"), F.max("x").alias("mx")
    ).collect()[0]
    for a in adj_caches:  # bcv is materialized now; drop the round caches
        a.unpersist()
    return CoocResult(
        cooc=normed,
        vocab_size=int(n_nodes),
        co_count=int(agg["n"]),
        max_x=float(agg["mx"]) if agg["mx"] is not None else 0.0,
    )
