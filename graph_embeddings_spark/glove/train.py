"""Distributed GloVe training: sharded kernels + per-epoch parameter averaging.

The reference trains hogwild: numThreads jobs race on shared float arrays
(opt/Optimizer.java:77-94, no locks in opt/grad/Adagrad.java:43-97). Spark
executors share no memory, so (per BASELINE.json north_star) each epoch:

  1. T1 epoch shuffle — the reference re-permutes entry ORDER each epoch
     (Permutation.java:5-24, Fisher-Yates). Here the cooc is grid-sharded
     ONCE per run (preshard_cooc: shard = (hash(i), hash(j)) grid block,
     persisted) and each epoch re-draws only the deterministic WITHIN-
     shard order key `_ord` = xxhash64(j, i, seed*31+epoch) — order
     re-permutes per epoch exactly as upstream, while the epoch's biggest
     relation never re-shuffles.
  2. param transport — every shard receives the side rows it can train
     (packed [vec | state_half | bias] blobs, _SIDE_SCHEMA).
  3. shard kernel — _make_train_fn runs the exact reference update math
     vectorized (kernel.train_shard) over one shard in `_ord` order,
     emitting the trained side copies + a per-shard partial cost.
  4. parameter combine — _combine_sides: numpy segment delta-sum for
     vectors/state, per-side trained-copy mean for biases, sides re-zipped
     into full param rows; untouched rows/sides pass through.
  5. cost reduction + tolerance check in the driver (Optimizer.java:85-107);
     params checkpointed per epoch -> any run resumes mid-training
     (north_rule).

Transports. optimize picks one per run from the input size; both run the
same kernel (steps 1, 3) and the same combine (step 4), so they give the
same params and cost history up to float64 summation order:

  * broadcast — when the bytes the driver holds in one epoch (the side
    blobs, 2·vocab·(dim+hw+tail+1)·4 B, plus at most G times that in
    trained copies collected back, G = grid side) fit under
    _BROADCAST_PARAMS_LIMIT (64 MB: ~42k nodes at dim 32, AdaGrad, 4
    shards). The params live on the driver as one Arrow
    table sorted by node_id, like the reference's in-memory arrays
    (Optimizer.java:27-28); an epoch broadcasts the side table, runs ONE
    mapInArrow over the presharded cooc cache (one shard per partition
    via the collision-free labels) with no exchange, pulls the copies back
    with toArrow() and combines them on the driver. The driver also writes
    the checkpoint, with pyarrow, in the grid path's layout.
  * grid — bigger vocabularies: train_epoch ships each param HALF straight
    to the G shards of its grid row (focus) or column (context),
    cogroup(cooc_shard, side_rows).applyInArrow runs the kernel, and the
    combine is one shuffle on node_id into a mapInArrow; params never pass
    through the driver. The epoch is one job (the cost rides an
    Observation). n_shards should be sized so a shard's touched params fit
    executor memory (#entries*dim*~40B). Skewed hub nodes appear in many
    shards — they are averaged over more copies, which is exactly the
    variance damping wanted.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F

from ..functions.partitioning import collision_free_labels
from .kernel import half_state_size, init_params, init_state, train_shard


def _side_layout(method: str, dim: int) -> tuple[int, int]:
    """Split of ONE side's optimizer-state half into (per-component width
    hw, per-bias tail): AdaGrad [gsq(dim) | gsq_bias], Adam/AMSGrad
    [m(dim),v(dim) | m_bias,v_bias]. The packed blob is
    [vec(dim), state_half(hw+tail), bias]; the invariant the kernel relies
    on is hw + tail == half_state_size — checked here once instead of
    hand-duplicated at each call site."""
    hw, tail = (dim, 1) if method == "adagrad" else (2 * dim, 2)
    assert hw + tail == half_state_size(method, dim)
    return hw, tail

PARAMS_SCHEMA = (
    "node_id long, focus array<float>, context array<float>, "
    "f_bias double, c_bias double, state array<float>"
)
# Side-split shard traffic: one row per (touched node, side) carrying only
# that side's vector / state half / bias — a grid shard in a node's grid
# ROW trains only its focus side, so shipping the context half there (and
# back) would double the epoch's dominant shuffle for bytes nobody reads.
# PACKED layout: blob = [vec(dim) | state_half(hw+tail) | bias], ONE
# array<float> column instead of (vec, bias, state_h). Epoch task-seconds
# are dominated by exchange ser/de, which pays per FIELD and per array
# header, not just per byte — packing cut the kernel-stage row from 5
# value fields (two of them separate arrays) to 3 on every epoch exchange
# (ship, copies, combine union). The kernel unpacks by column slice,
# zero-copy on the Arrow side.
_SIDE_SCHEMA = "node_id long, side int, blob array<float>"
_OUT_SCHEMA = _SIDE_SCHEMA + ", cost double"


def _state_half_slices(hw: int, tail: int):
    """(focus_half, context_half) column expressions slicing the combined
    state layout [f_block(hw), c_block(hw), f_tail(tail), c_tail(tail)]
    (both AdaGrad and Adam/AMSGrad follow this shape — kernel.py module
    docstring) into per-side halves of width hw+tail."""
    f_half = F.concat(F.slice("state", 1, hw), F.slice("state", 2 * hw + 1, tail))
    c_half = F.concat(F.slice("state", hw + 1, hw), F.slice("state", 2 * hw + tail + 1, tail))
    return f_half, c_half


def _packed_side_blobs(params: DataFrame, hw: int, tail: int):
    """(focus_blob, context_blob) column expressions building each side's
    packed [vec | state_half | bias] float32 array from the public params
    columns — all codegen (concat/slice/cast)."""
    f_half, c_half = _state_half_slices(hw, tail)
    f_blob = F.concat("focus", f_half, F.array(F.col("f_bias").cast("float")))
    c_blob = F.concat("context", c_half, F.array(F.col("c_bias").cast("float")))
    return f_blob, c_blob


def _init_batch(ids: np.ndarray, dim: int, seed: int, method: str):
    """node ids -> their initial PARAMS_SCHEMA record batch (kernel.init_params
    and init_state, a pure function of (seed, node_id))."""
    import pyarrow as pa

    focus, context, fb, cb = init_params(ids, dim, seed)
    return pa.record_batch(
        {
            "node_id": pa.array(ids, type=pa.int64()),
            "focus": _f32_list(focus),
            "context": _f32_list(context),
            "f_bias": pa.array(fb.astype(np.float64)),
            "c_bias": pa.array(cb.astype(np.float64)),
            "state": _f32_list(init_state(method, dim, len(ids))),
        }
    )


def init_params_df(nodes: DataFrame, dim: int, seed: int, method: str) -> DataFrame:
    """Deterministic param init per node (kernel.init_params; replaces
    Optimizer.java:50-57's wall-clock-seeded init)."""

    def gen(batches):
        for b in batches:
            yield _init_batch(b.column("node_id").to_numpy(), dim, seed, method)

    return nodes.select("node_id").mapInArrow(gen, PARAMS_SCHEMA)


def _flat_f32(tbl, name: str, n: int) -> np.ndarray:
    """list<float32> column -> (n, width) float32 matrix, zero-copy.

    Every row of the params/copies relations carries uniform-length vectors
    by construction (init_params_df / the kernel), so the Arrow list column
    is one contiguous float32 buffer — flatten() + reshape reads it without
    materializing per-row numpy objects. The Arrow->pandas path this
    replaces created one small ndarray PER CELL (~110k objects per combine
    task), which made combine tasks 3.6x slower when 8 ran side-by-side
    (allocator churn)."""
    import pyarrow  # noqa: F401  (imported lazily on executors)

    col = tbl.column(name).combine_chunks()
    vals = col.flatten().to_numpy(zero_copy_only=True)
    return vals.reshape(n, vals.size // n) if n else vals.reshape(0, 0)


def _f32_list(mat: np.ndarray, tail_empty: int = 0):
    """(n, d) float32 matrix -> Arrow list<float32> array (optionally with
    `tail_empty` trailing zero-length rows, used for the kernel's cost row)."""
    import pyarrow as pa

    n, d = mat.shape
    offs = np.arange(n + 1, dtype=np.int32) * d
    if tail_empty:
        offs = np.concatenate([offs, np.full(tail_empty, offs[-1], dtype=np.int32)])
    return pa.ListArray.from_arrays(
        pa.array(offs, type=pa.int32()),
        pa.array(np.ascontiguousarray(mat.reshape(-1)), type=pa.float32()),
    )


def _combine_sides(
    ids: np.ndarray,
    side: np.ndarray,
    is_old: np.ndarray,
    mat: np.ndarray,
    hw: int,
    tail: int,
):
    """The epoch combine's arithmetic, shared by both transports: side rows
    (node_id, side, packed blob matrix) where every node contributes BOTH
    pre-epoch side rows (is_old = 1) plus its trained shard copies
    (is_old = 0) -> one PARAMS_SCHEMA record batch sorted by node_id.

    ONE segment-sum over the packed [vec | state_half | bias] matrix, then
    delta-sum for the array body and the trained-copy mean for the bias
    column (the hybrid rule, documented on _combine_epoch). The update
    new = (sum − old) + (1 − n) · old degrades to `old` at n = 0, so
    untouched sides need no separate branch."""
    import pyarrow as pa

    # group key (node, side); secondary sort: old row FIRST in its group
    key = ids * 2 + side
    order = np.lexsort((1 - is_old, key))
    key_s = key[order]
    uniq, starts, counts = np.unique(key_s, return_index=True, return_counts=True)
    n = (counts - 1).astype(np.float64)  # TRAINED shard copies per (node, side)
    touched = n > 0

    # Reorder in float32 (half the temp bytes), accumulate in float64 via
    # reduceat's dtype — bit-identical to casting up front, since each
    # element upcasts exactly.
    mat = mat[order]
    dim_ = mat.shape[1] - 1 - (hw + tail)
    total = np.add.reduceat(mat, starts, axis=0, dtype=np.float64)
    old = mat[starts].astype(np.float64)
    csum = total - old
    out = csum + (1.0 - n)[:, None] * old
    out[touched, -1] = csum[touched, -1] / n[touched]
    bias = out[:, -1]
    body = out[:, :-1].astype(np.float32)

    # every node contributes BOTH old side rows, so (node,0)/(node,1)
    # groups alternate: even positions are focus halves, odd context
    vec = body[:, :dim_]
    sth = body[:, dim_:]
    sf, sc = sth[0::2], sth[1::2]
    state_full = np.hstack([sf[:, :hw], sc[:, :hw], sf[:, hw:], sc[:, hw:]])
    return pa.record_batch(
        {
            "node_id": pa.array(uniq[0::2] >> 1, type=pa.int64()),
            "focus": _f32_list(vec[0::2]),
            "context": _f32_list(vec[1::2]),
            "f_bias": pa.array(bias[0::2], type=pa.float64()),
            "c_bias": pa.array(bias[1::2], type=pa.float64()),
            "state": _f32_list(np.ascontiguousarray(state_full)),
        }
    )


def _combine_epoch(
    copies: DataFrame,
    params: DataFrame,
    hw: int,
    tail: int,
    n_shards: int = 8,
) -> DataFrame:
    """Shard copies + pre-epoch params -> new params, ONE Arrow stage.

    Hybrid combine: vectors & optimizer state accumulate their shard deltas
    (new = old + Σ_s(θ_s − old) — the shared-memory-free equivalent of the
    reference's hogwild sum, Optimizer.java:77-94), while the biases take
    the MEAN of the shard copies. The lr-free bias step
    (Adagrad.java:88-89) is a fixed-point iteration, not a descent step —
    summing its deltas across k shards overshoots k× (cost spikes 30× in
    epoch 2-3), while the mean of per-shard fixed points sits at the
    global fixed point. Measured on the synthetic corpus (12 epochs, dim
    16, 4-16 shards): MRR parity with the single-shard run (0.89 vs 0.89),
    where delta-summing the biases too got 0.22 and plain parameter
    averaging of everything 0.03. Under side-split shipping the bias mean
    runs over the copies that actually TRAINED that side (an untrained
    side's copy would equal `old` exactly, so dropping it leaves the delta
    sum unchanged and stops diluting the fixed-point average toward the
    stale value — MRR gates re-verified).

    Physical shape (replaces r2's collect_list + interpreted aggregate/
    zip_with combine, which was 65 of an 84 s epoch at 640k entries — the
    same interpreted-HOF inversion as the MinHash shingler and SimHash
    kernels): copies ∪ old params are repartitioned ONCE on node_id, then a
    per-partition numpy segment-sum (_combine_sides: np.add.reduceat over
    the id-sorted block, old row first per group) computes the combine,
    the old-params join, AND the untouched carry-through in the same pass.

    Arrow-native (mapInArrow): the list<float32> columns flatten zero-copy
    into contiguous matrices and the output is rebuilt as one ListArray —
    no per-row numpy objects on either side of the combine."""
    spark = params.sparkSession
    # copies volume grows with the shard count (each shard returns its
    # touched halves), so the combine's partitioning must too — at 8M
    # entries / 121 shards a fixed 8 partitions meant ~144 MB per combine
    # task and the epoch tail ran 8-wide regardless of input size
    pp = max(8, spark.sparkContext.defaultParallelism, n_shards)
    f_blob, c_blob = _packed_side_blobs(params, hw, tail)
    old_sides = params.select(
        "node_id",
        F.lit(0).alias("side"),
        f_blob.alias("blob"),
        F.lit(1).alias("_old"),
    ).unionByName(
        params.select(
            "node_id",
            F.lit(1).alias("side"),
            c_blob.alias("blob"),
            F.lit(1).alias("_old"),
        )
    )
    unioned = copies.withColumn("_old", F.lit(0)).unionByName(old_sides).repartition(pp, "node_id")

    def gen(batches):
        import pyarrow as pa

        bl = list(batches)
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        if tbl.num_rows == 0:
            return
        yield _combine_sides(
            tbl.column("node_id").to_numpy(),
            tbl.column("side").to_numpy(),
            tbl.column("_old").to_numpy(),
            _flat_f32(tbl, "blob", tbl.num_rows),
            hw,
            tail,
        )

    return unioned.mapInArrow(gen, PARAMS_SCHEMA)


def _make_train_fn(dim: int, method: str, cost: str, max_x: float, iteration: int, batch: int):
    """Arrow-native cogrouped kernel (applyInArrow): the params side's
    list<float32> columns flatten zero-copy into the (n, dim) matrices
    train_shard mutates (one memcpy each — Arrow buffers are immutable),
    and the output is rebuilt as ListArrays with a trailing zero-length
    cost row. No per-row numpy objects in either direction.

    Params arrive side-split and PACKED (_SIDE_SCHEMA): each row's blob is
    [vec(dim) | state_half | bias] for one side of one node; column slices
    unpack it (the fancy-index below copies anyway, so slicing costs no
    extra pass). iu indexes the focus-side arrays and jv the context-side
    ones — the sides have independent node axes."""
    hw, tail = _side_layout(method, dim)

    def train_fn(cooc_tbl, params_tbl):
        import pyarrow as pa

        def empty():
            return pa.table(
                {
                    "node_id": pa.array([], type=pa.int64()),
                    "side": pa.array([], type=pa.int32()),
                    "blob": pa.array([], type=pa.list_(pa.float32())),
                    "cost": pa.array([], type=pa.float64()),
                }
            )

        n = params_tbl.num_rows
        if cooc_tbl.num_rows == 0 or n == 0:
            return empty()
        node_ids = params_tbl.column("node_id").to_numpy()
        side = params_tbl.column("side").to_numpy()
        blob = _flat_f32(params_tbl, "blob", n)  # (n, dim + hw + tail + 1)

        # per-side sorted node axes (ids unique within a side)
        f_rows = np.flatnonzero(side == 0)
        c_rows = np.flatnonzero(side != 0)
        f_rows = f_rows[np.argsort(node_ids[f_rows])]
        c_rows = c_rows[np.argsort(node_ids[c_rows])]
        f_ids, c_ids = node_ids[f_rows], node_ids[c_rows]
        fb_, cb_ = blob[f_rows], blob[c_rows]  # fancy-index = writable copies
        focus, state_f = fb_[:, :dim], fb_[:, dim:dim + hw + tail]
        context, state_c = cb_[:, :dim], cb_[:, dim:dim + hw + tail]
        f_bias = np.ascontiguousarray(fb_[:, -1])
        c_bias = np.ascontiguousarray(cb_[:, -1])

        # deterministic within-shard order (the shard's slice of the epoch
        # permutation): sort by the precomputed shuffle key
        perm = np.argsort(cooc_tbl.column("_ord").to_numpy(), kind="stable")
        # vectorized global->local id mapping (every i/j is in its side's
        # params by construction: each node's half ships to its whole grid
        # row/column, a superset of the shards its entries land in)
        i_g = cooc_tbl.column("i").to_numpy()[perm]
        j_g = cooc_tbl.column("j").to_numpy()[perm]
        iu = np.searchsorted(f_ids, i_g)
        jv = np.searchsorted(c_ids, j_g)
        # fail loudly if an endpoint is NOT in the shipped params (preshard
        # seed/n_shards mismatch, or a cooc id absent from nodes): a bare
        # searchsorted miss would silently train a neighbouring node's row
        if (
            f_ids.size == 0 or c_ids.size == 0
            or (np.take(f_ids, np.minimum(iu, f_ids.size - 1)) != i_g).any()
            or (np.take(c_ids, np.minimum(jv, c_ids.size - 1)) != j_g).any()
        ):
            raise ValueError(
                "glove shard: cooc node id missing from shipped params "
                "(preshard/param grid mismatch)"
            )
        x = cooc_tbl.column("x").to_numpy()[perm].astype(np.float64)

        shard_cost = train_shard(
            iu, jv, x, focus, context, f_bias, c_bias, None,
            method=method, cost=cost, max_x=max_x, iteration=iteration, batch=batch,
            state_f=state_f, state_c=state_c,
        )
        # direct shipping delivers each side's full grid row/column — drop
        # the rows this shard never trained so the return traffic (and the
        # combine's bias mean) sees only genuine copies, exactly what the
        # join-based plan shipped
        f_used = np.zeros(len(f_rows), dtype=bool)
        f_used[iu] = True
        c_used = np.zeros(len(c_rows), dtype=bool)
        c_used[jv] = True
        nf, nc = int(f_used.sum()), int(c_used.sum())
        # vec/state updates landed in fb_/cb_ through the slice views; the
        # bias vectors were contiguous copies — fold them back in, then the
        # output blob is just the used rows of the already-packed matrices
        fb_[:, -1] = f_bias
        cb_[:, -1] = c_bias
        return pa.table(
            {
                "node_id": pa.array(
                    np.concatenate([f_ids[f_used], c_ids[c_used], [-1]]),
                    type=pa.int64(),
                ),
                "side": pa.array(
                    np.concatenate(
                        [np.zeros(nf, np.int32), np.ones(nc, np.int32), [-1]]
                    ).astype(np.int32),
                    type=pa.int32(),
                ),
                "blob": _f32_list(
                    np.vstack([fb_[f_used], cb_[c_used]]), tail_empty=1
                ),
                "cost": pa.array(
                    np.append(np.zeros(nf + nc), float(shard_cost)), type=pa.float64()
                ),
            }
        )

    return train_fn


def _grid_size(n_shards: int) -> int:
    """G, the side of the G x G shard grid (_grid_blocks)."""
    return max(1, round(n_shards ** 0.5))


def _order_key(seed: int, iteration: int):
    """The epoch's within-shard order key `_ord` (module docstring, step 1)."""
    return F.xxhash64("j", "i", F.lit(seed * 31 + iteration)).alias("_ord")


def _grid_blocks(seed: int, n_shards: int):
    """The run's grid sharding, defined once for preshard_cooc and the
    param shipping in train_epoch -> (grid, row_h, col_h, label).

    GRID sharding (block-partitioned SGD): nodes hash into G row-blocks
    (focus side, row_h) x G column-blocks (context side, col_h), G =
    round(sqrt(n_shards)), and entry (i, j) trains in shard
    label(row_h(i)·G + col_h(j)). A node's params then ship to at most 2G
    of the G² shards (its grid row + column) instead of potentially all of
    them: at 640k synthetic entries the hub-skewed corpus shipped 717k
    param-copy rows for a 50k vocab (14x duplication) under flat hashing —
    the copy traffic, not the update math, was the epoch's scaling
    ceiling.

    label remaps a block index through driver-mined collision-free labels
    (functions/partitioning.py): repartition(n, key) routes by
    pmod(murmur3(key), n), and n small ids in n buckets is a balls-in-bins
    draw — measured 2-3 shards on one task (5.3 s critical path vs 1.5 s
    balanced) with several empty tasks. The label map makes
    shard->partition a bijection; grouping content (and therefore kernel
    output) is unchanged."""
    grid = _grid_size(n_shards)
    # labels are mined for the LONG hash — a bare F.lit(int) would make an
    # IntegerType array and route by hashInt, voiding the bijection
    lab_arr = F.array(*[F.lit(int(v)).cast("long") for v in collision_free_labels(grid * grid)])

    def row_h(c):
        return F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(grid))

    def col_h(c):
        return F.pmod(F.xxhash64(c, F.lit(seed + 7919)), F.lit(grid))

    def label(idx):
        return F.element_at(lab_arr, idx.cast("int") + 1)

    return grid, row_h, col_h, label


def train_epoch(
    cooc: DataFrame,
    params: DataFrame,
    *,
    dim: int,
    method: str,
    cost: str,
    max_x: float,
    iteration: int,
    seed: int,
    n_shards: int,
    batch: int = 4096,
) -> tuple[DataFrame, Observation]:
    """One epoch over a `preshard_cooc` relation -> (new params DF,
    Observation). Lazy, and fused into ONE job: a CollectMetrics node
    (`Observation`) sums the per-shard cost rows during the same
    materialization that produces the new params. The caller MUST
    materialize new_params exactly once (checkpoint / write / count;
    verified to fire for all of these incl. localCheckpoint) and then read
    `obs.get["cost"]`.

    seed and n_shards must be the ones the cooc was presharded with: the
    params ship to the same grid blocks (a mismatch fails loudly in the
    kernel)."""
    if "shard" not in cooc.columns:
        raise ValueError(
            "train_epoch needs a presharded cooc (no `shard` column): pass it "
            "through preshard_cooc(cooc, seed=seed, n_shards=n_shards) first"
        )
    grid, row_h, col_h, label = _grid_blocks(seed, n_shards)
    n_shards = grid * grid
    # The reference's T1 epoch shuffle permutes ENTRY ORDER on one machine
    # (Permutation.java:21-23): block membership stays fixed for the run
    # and only the within-shard order key re-draws per epoch. A narrow
    # projection over the persisted sharded relation keeps its partition
    # layout (HashPartitioning(shard, n_shards)), so the cogroup below
    # reads the cache with NO exchange on this side.
    sharded = cooc.select("i", "j", "x", "shard", _order_key(seed, iteration))
    hw, tail = _side_layout(method, dim)
    # SIDE-SPLIT DIRECT param shipping: a shard in a node's grid ROW trains
    # only its focus half, so only (focus, f_bias, f-state) ships to the G
    # shards of that row, and the context half to the G shards of its grid
    # COLUMN — both computable from the node hash alone. Each side row
    # therefore explodes straight to its G candidate blocks: no
    # touched-sides distinct over the 2·|cooc| exploded endpoints and no
    # params join (the join-based plan shuffled the touched list AND the
    # joined heavy rows — one extra exchange of the epoch's biggest
    # relation). The kernel drops the rows it never trained from its
    # output, so the combine input is exactly the join-based plan's:
    # superset in, identical copies out (parity-tested bit-exact).
    # The state-half slice/concat runs once per (node, side) — the explode
    # duplicates already-computed rows, Catalyst keeps the generate above
    # the projection.
    f_blob, c_blob = _packed_side_blobs(params, hw, tail)
    params_sides = params.select(
        "node_id",
        F.lit(0).alias("pside"),
        f_blob.alias("blob"),
    ).unionByName(
        params.select(
            "node_id",
            F.lit(1).alias("pside"),
            c_blob.alias("blob"),
        )
    )
    shard_params = params_sides.withColumn(
        "_blk", F.explode(F.sequence(F.lit(0), F.lit(grid - 1)))
    ).select(
        label(
            F.when(F.col("pside") == 0, row_h("node_id") * grid + F.col("_blk"))
            .otherwise(F.col("_blk") * grid + col_h("node_id"))
        ).alias("gshard"),
        "node_id",
        F.col("pside").alias("side"),
        "blob",
    )
    train_fn = _make_train_fn(dim, method, cost, max_x, iteration, batch)
    # explicit repartition on the params side as well: a bare groupBy leaves
    # that exchange AQE-owned, and AQE's byte-targeted coalescing (64 MB
    # advisory) merges several ~14 MB cogroup partitions into one task —
    # measured 3 shards/task at 4M entries, i.e. a 5.3 s critical-path task
    # where balanced 16-way tasks run 1.7 s. Kernel tasks are CPU-bound
    # Python, so bytes are exactly the wrong coalescing signal here (same
    # trap as corpus.latest_pages).
    raw = (
        sharded.groupBy("shard")
        .cogroup(shard_params.repartition(n_shards, "gshard").groupBy("gshard"))
        .applyInArrow(train_fn, _OUT_SCHEMA)
    )
    obs = Observation(f"epoch_cost_{iteration}")
    out = raw.observe(obs, F.sum("cost").alias("cost"))
    copies = out.filter(F.col("node_id") >= 0).select("node_id", "side", "blob")
    return _combine_epoch(copies, params, hw, tail, n_shards), obs


# Driver bytes above which optimize keeps the grid transport: the side
# table an epoch broadcasts plus the trained copies it collects back
# (_broadcast_node_bytes per node). The BCA stage makes the same
# size-based choice (bca/cooc._BROADCAST_EDGE_LIMIT).
_BROADCAST_PARAMS_LIMIT = 64 << 20


def _broadcast_node_bytes(dim: int, method: str, n_shards: int) -> int:
    """Driver bytes one vocabulary node costs a broadcast epoch: its two
    packed side blobs, 2·(dim+hw+tail+1)·4 B, plus at most G trained copies
    of each collected back (a side trains in at most its G grid row/column
    shards)."""
    hw, tail = _side_layout(method, dim)
    return 2 * (dim + hw + tail + 1) * 4 * (1 + _grid_size(n_shards))


def _side_arrays(params, hw: int, tail: int):
    """PARAMS_SCHEMA Arrow table sorted by node_id -> (node_id, side, blob
    matrix) of its packed side rows, focus then context per node — the
    numpy twin of _packed_side_blobs (the bias cast to float32 rounds
    exactly as Spark's cast does)."""
    n = params.num_rows
    state = _flat_f32(params, "state", n)

    def side(vec: str, half: np.ndarray, bias: str) -> np.ndarray:
        b = params.column(bias).to_numpy().astype(np.float32)
        return np.hstack([_flat_f32(params, vec, n), state[:, half], b[:, None]])

    blob = np.stack(
        [
            side("focus", np.r_[0:hw, 2 * hw:2 * hw + tail], "f_bias"),
            side("context", np.r_[hw:2 * hw, 2 * hw + tail:2 * hw + 2 * tail], "c_bias"),
        ],
        axis=1,
    ).reshape(2 * n, -1)
    ids = params.column("node_id").to_numpy()
    return np.repeat(ids, 2), np.tile(np.array([0, 1], np.int32), n), blob


def _broadcast_train(
    cooc: DataFrame,
    sides,
    *,
    dim: int,
    method: str,
    cost: str,
    max_x: float,
    iteration: int,
    seed: int,
    batch: int,
) -> DataFrame:
    """The broadcast epoch's one Spark stage: a mapInArrow over the
    presharded cooc cache (no exchange) whose task trains every shard it
    holds — exactly one under the collision-free labels — with the grid
    path's kernel against the broadcast side table `sides`, and emits the
    same copies + cost row (_OUT_SCHEMA)."""
    train_fn = _make_train_fn(dim, method, cost, max_x, iteration, batch)

    def run(batches):
        import pyarrow as pa

        bl = list(batches)
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        shard = tbl.column("shard").to_numpy()
        for s in np.unique(shard):
            yield from train_fn(tbl.filter(pa.array(shard == s)), sides.value).to_batches()

    return cooc.select("i", "j", "x", "shard", _order_key(seed, iteration)).mapInArrow(
        run, _OUT_SCHEMA
    )


def _broadcast_epoch(cooc: DataFrame, params, *, dim: int, method: str, **kw):
    """One epoch of the broadcast transport (module docstring) -> (new
    params Arrow table sorted by node_id, summed shard cost). `params` is
    the pre-epoch PARAMS_SCHEMA table, sorted by node_id; `cooc` the
    presharded cache; `kw` the rest of _broadcast_train's arguments. The
    driver runs the grid path's combine on the pre-epoch sides + the
    copies the stage returns."""
    import pyarrow as pa

    hw, tail = _side_layout(method, dim)
    ids, side, blob = _side_arrays(params, hw, tail)
    sides = cooc.sparkSession.sparkContext.broadcast(
        pa.table({
            "node_id": pa.array(ids, type=pa.int64()),
            "side": pa.array(side, type=pa.int32()),
            "blob": _f32_list(blob),
        })
    )
    try:
        out = _broadcast_train(cooc, sides, dim=dim, method=method, **kw).toArrow()
    finally:
        sides.destroy()
    total_cost = float(np.sum(out.column("cost").to_numpy()))
    keep = out.column("node_id").to_numpy() >= 0  # drop the cost rows
    copies = out.filter(pa.array(keep))
    n = copies.num_rows
    new = _combine_sides(
        np.concatenate([ids, copies.column("node_id").to_numpy()]),
        np.concatenate([side, copies.column("side").to_numpy()]),
        np.concatenate([np.ones(len(ids), np.int64), np.zeros(n, np.int64)]),
        np.vstack([blob, _flat_f32(copies, "blob", n).reshape(n, blob.shape[1])]),
        hw,
        tail,
    )
    return pa.Table.from_batches([new]), total_cost


@contextmanager
def static_epoch_plan(spark):
    """Scope epoch materializations with the training-loop conf profile.

    * AQE off: every exchange in the epoch is REPARTITION_BY_NUM (shard
      bijection / node_id combine) — AQE can neither coalesce nor re-plan
      them, so its per-query-stage coordination barriers are pure latency
      (~0.4 s/epoch measured at 16 shards, local[8]).
    * Arrow batch 65536 (vs the session's row-size-conservative 10000):
      the epoch's rows are slim, fixed-width float blocks, and the kernel
      and combine both materialize whole groups anyway — fewer batch
      boundaries cut the exchange/IPC overhead that dominates epoch
      task-seconds (measured 11.7 -> 9.2 s at 8M entries, local[8]).

    Restores the previous settings on exit."""
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    }
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def preshard_cooc(cooc: DataFrame, *, seed: int, n_shards: int) -> DataFrame:
    """Fixed-shard cooc relation for a whole training run: grid-label once
    (_grid_blocks), repartition by the collision-free labels. Caller
    persists; every epoch then reads the cache with no cooc-side exchange —
    faithful to the reference, whose epoch shuffle re-permutes entry ORDER
    only (Permutation.java:21-23); the order still re-draws per epoch via
    `_ord` inside train_epoch."""
    grid, row_h, col_h, label = _grid_blocks(seed, n_shards)
    shard_key = label(row_h("i") * grid + col_h("j"))
    return cooc.select("i", "j", "x", shard_key.alias("shard")).repartition(
        grid * grid, "shard"
    )


def shards_for(co_count: int, entries_per_shard: int = 500_000, lo: int = 4, hi: int = 4096) -> int:
    """Shard count sized from the WORK (cooc entries), not the cluster.

    A fixed function of co_count keeps the logical job identical at every
    parallelism level (the two-cluster-size scaling comparison then differs
    only in executor slots), and entries-per-shard targets keep the
    per-shard kernel compute well above the fixed cogroup/Arrow overhead:
    BASELINE.md r2 measured the epoch ANTI-scaling 2->8 cores at 63k
    entries × 32 fixed shards (~2k entries/shard — overhead-dominated;
    6.59 s at local[2] vs 8.00 s at local[8]). At 10^12-doc scale co_count
    dwarfs entries_per_shard and this saturates any executor count up to
    `hi`; a shard's touched params stay ~entries_per_shard·dim·40 B —
    executor-memory-safe.

    entries_per_shard targets FAT shards deliberately: under grid
    sharding the per-node copy duplication is ~2·sqrt(n_shards), so
    fewer/larger shards shrink the copies shuffle — the epoch's dominant
    byte mover — while a 500k-entry kernel task is still only ~2 s of
    numpy. Measured on the scale probe at local[8]: 1M entries ran 3.84 s
    at 16 shards vs 4.31/6.75 s at 40/120; at 8M entries the 62.5k target
    (121 shards, grid 11 -> 22 half-copies/node) shipped 1.15 GB of
    copies and tripled the epoch vs the 32-shard sizing, and the 500k
    target (16 shards, grid 4: 475 MB shipped vs 713 MB at grid 6, and an
    exact 2-wave tiling on 8 cores instead of 4.5 waves of 36 tasks) ran
    9.7 s vs 11.7 s — epoch task-seconds are dominated by exchange ser/de,
    which scales with the copy duplication ~2·sqrt(n_shards)."""
    return max(lo, min(hi, round(co_count / entries_per_shard)))


@dataclass
class TrainResult:
    """Optimum analog (opt/Optimum.java:9-41): final params + cost history."""

    params: DataFrame
    cost_history: list[float] = field(default_factory=list)
    final_cost: float = 0.0
    epochs_run: int = 0


def optimize(
    cooc: DataFrame,
    nodes: DataFrame,
    *,
    dim: int,
    co_count: int,
    max_x: float,
    cost: str = "glove",
    method: str = "adagrad",
    maxiter: int = 50,
    tolerance: float = 1e-5,
    seed: int = 42,
    n_shards: int | None = None,
    batch: int = 4096,
    checkpoint_dir: str | None = None,
) -> TrainResult:
    """Epoch loop (Optimizer.java:67-120 analog): shuffle -> shard-train ->
    average -> cost/tolerance check. With checkpoint_dir, params are written
    per epoch (parquet, `_SUCCESS` last) and a call resumes after the last
    complete epoch there; if that epoch reached maxiter or the tolerance
    break (`_CONVERGED`), the call trains nothing and returns its checkpoint.
    cost_history holds the epochs this call ran. The transport (broadcast or
    grid, module docstring) is picked once per run from the vocabulary
    size; both give the same params and cost history."""
    import pyarrow as pa

    spark = cooc.sparkSession
    start = 0
    done = find_completed_epochs(checkpoint_dir) if checkpoint_dir is not None else []
    if done:
        params = resume_params(spark, checkpoint_dir, done[-1])
        if done[-1] + 1 >= maxiter or converged_epoch(checkpoint_dir) == done[-1]:
            return TrainResult(params=params)
        start = done[-1] + 1
    else:
        params = init_params_df(nodes, dim, seed, method)
    if cost == "pglove":
        # boundary artifacts of LEGITIMATE inputs fall outside the logit
        # domain: unity normalization's -1e-6 floor can give x <= 0, and
        # raw BCA paint can give exactly 1.0 (isolated root). Drop exactly
        # those (documented) rather than NaN every touched row like the
        # reference would. Deliberately NOT `x < 1`: genuinely wrong
        # inputs (counts normalization, values in (1,1000]) must still
        # reach the kernel's loud domain guard, not vanish silently
        cooc = cooc.filter((F.col("x") > 0.0) & (F.col("x") != 1.0))
    if n_shards is None:
        n_shards = shards_for(co_count)
    # transport (module docstring): the broadcast path keeps the params as
    # one Arrow table on the driver, the grid path as a persisted relation.
    # The vocabulary is probed like BCA's edge list: at most `cap` node ids
    # fit the limit, and reading cap + 1 of them both sizes it and, for a
    # fresh run, gives the ids to initialize (a pure function of the ids:
    # no Python stage). An empty vocabulary has no side matrix to broadcast.
    cap = _BROADCAST_PARAMS_LIMIT // _broadcast_node_bytes(dim, method, n_shards)
    ids = nodes.select("node_id").limit(cap + 1).toArrow().column(0).to_numpy()
    table = None
    if 0 < len(ids) <= cap:
        table = (
            params.toArrow().sort_by("node_id")
            if start
            else pa.Table.from_batches([_init_batch(np.sort(ids), dim, seed, method)])
        )
    else:
        params = params.persist()
        params.count()  # materialize init once

    # shard the cooc ONCE for the run (fixed block membership; per-epoch
    # order re-draw happens inside the epoch) — removes the epoch's
    # biggest input shuffle from every iteration
    presharded_here = "shard" not in cooc.columns
    if presharded_here:
        cooc = preshard_cooc(cooc, seed=seed, n_shards=n_shards).persist()
        cooc.count()

    history: list[float] = []
    prev_cost = 0.0
    final_cost = 0.0
    epochs = 0
    converged = False
    # every epoch exchange is REPARTITION_BY_NUM — AQE's per-query-stage
    # barriers are pure latency here, so the whole loop runs under a
    # static plan (restored on exit)
    with static_epoch_plan(spark):
        for it in range(start, maxiter):
            path = None if checkpoint_dir is None else f"{checkpoint_dir}/params_epoch={it:04d}"
            if table is not None:
                table, total_cost = _broadcast_epoch(
                    cooc, table, dim=dim, method=method, cost=cost, max_x=max_x,
                    iteration=it, seed=seed, batch=batch,
                )
                if path is not None:
                    _write_params_table(table, path, spark)
            else:
                # fused single-job epoch: the cost is collected by an
                # observe() node DURING the checkpoint materialization below
                # — no shard-output cache, no separate aggregation pass
                new_params, obs = train_epoch(
                    cooc, params, dim=dim, method=method, cost=cost, max_x=max_x,
                    iteration=it, seed=seed, n_shards=n_shards, batch=batch,
                )
                # truncate lineage each epoch; optionally durable checkpoint
                if path is not None:
                    new_params.write.mode("overwrite").parquet(path)
                    new_params = resume_params(spark, checkpoint_dir, it)
                else:
                    new_params = new_params.localCheckpoint(eager=True)
                total_cost = float(obs.get["cost"] or 0.0)
                params.unpersist()
                params = new_params.persist()

            epoch_cost = total_cost / max(co_count, 1)
            history.append(epoch_cost)
            epochs = it + 1
            iter_diff = abs(prev_cost - epoch_cost)
            prev_cost = epoch_cost
            if iter_diff <= tolerance:
                final_cost = epoch_cost
                converged = True
                # durable convergence marker: a resumed run must treat this
                # training as COMPLETE (maxiter alone can't tell an early
                # tolerance break from a crash mid-run)
                if checkpoint_dir is not None:
                    mark_converged(checkpoint_dir, it, epoch_cost)
                break
    if presharded_here:
        cooc.unpersist()
    if table is not None and history:
        params = (
            resume_params(spark, checkpoint_dir, epochs - 1)
            if checkpoint_dir is not None
            else spark.createDataFrame(table, PARAMS_SCHEMA)
        )
    if not converged and history:
        # ran to maxiter without the tolerance break: the honest final cost
        # is the last epoch's, not the 0.0 placeholder
        final_cost = history[-1]
    return TrainResult(params=params, cost_history=history, final_cost=final_cost, epochs_run=epochs)


def _write_params_table(table, path: str, spark) -> None:
    """A broadcast epoch's checkpoint, written on the driver (no Spark job)
    in the files Spark writes for createDataFrame(table): n rows in
    min(n, leaf parallelism) consecutive slices, the split the PCA's
    per-partition moment sums read back; `_SUCCESS` last, as the commit
    find_completed_epochs looks for."""
    import os
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n = table.num_rows
    leaf = spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
    k = min(max(n, 1), int(leaf or spark.sparkContext.defaultParallelism))
    for i in range(k):
        lo, hi = i * n // k, (i + 1) * n // k
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def mark_converged(checkpoint_dir: str, epoch: int, final_cost: float) -> None:
    import json
    import os

    with open(os.path.join(checkpoint_dir, "_CONVERGED"), "w") as f:
        json.dump({"epoch": epoch, "final_cost": final_cost}, f)


def converged_epoch(checkpoint_dir: str) -> int | None:
    """Epoch at which a prior run's tolerance break fired, or None."""
    import json
    import os

    path = os.path.join(checkpoint_dir, "_CONVERGED")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(json.load(f)["epoch"])


def resume_params(spark, checkpoint_dir: str, epoch: int) -> DataFrame:
    # the declared schema spares a schema-inference job per read
    return spark.read.schema(PARAMS_SCHEMA).parquet(f"{checkpoint_dir}/params_epoch={epoch:04d}")


def find_completed_epochs(checkpoint_dir: str) -> list[int]:
    """Epoch numbers with a COMPLETE params checkpoint (parquet _SUCCESS
    marker — a half-written epoch from a killed run is not resumable)."""
    import os

    if not os.path.isdir(checkpoint_dir):
        return []
    out = []
    for d in os.listdir(checkpoint_dir):
        if d.startswith("params_epoch=") and os.path.exists(
            os.path.join(checkpoint_dir, d, "_SUCCESS")
        ):
            out.append(int(d.split("=", 1)[1]))
    return sorted(out)


def extract_embeddings(params: DataFrame) -> DataFrame:
    """final vec = (focus + context) / 2 (Optimizer.java:129-140) — JVM-side
    zip_with, no Python."""
    return params.select(
        "node_id",
        F.zip_with("focus", "context", lambda f, c: (f + c) / 2.0).alias("vec"),
    )
