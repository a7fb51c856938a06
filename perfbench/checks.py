"""Output checks and quality metrics, read from what a call left in work_dir.

Runs in the benchmark's own process with pyarrow and numpy, after the
Spark process has ended, so none of it adds to the time of a run's Spark
work. The quality metrics follow the definitions in
graph_embeddings_spark/metrics.py exactly:

* mrr — cosine_neighbor_rank + mean_reciprocal_rank over the MRR_PAIRS
  highest co-occurrence entries (i != j): the rank of b among all other
  nodes by cosine to a, ties broken by the smaller node id.
* link_auc — link_prediction_auc(embeddings, edges, neg_per_pos=1,
  seed=42): one negative per edge row at node index
  pmod(xxhash64(src, dst, 0, 42), n), self-pairs and true edges removed,
  Mann-Whitney AUC with midranks.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

MRR_PAIRS = 50_000
AUC_SEED = 42


def _table(work_dir: str, stage: str):
    return pq.read_table(os.path.join(work_dir, stage, "data"))


def _part_lines(path: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                lines.extend(f.read().splitlines())
    return lines


def produced_triples(work_dir: str, workload: str, predicates: list[str]) -> set:
    """Distinct (subj, pred, obj) the call produced. web_kg checkpoints
    its linked triples; rdf_kg's are read back from the graph it built,
    whose edge types number the sorted predicates from 1 (type 0 is
    similarity), so `predicates` are the ones the input holds."""
    if workload == "web_kg":
        t = _table(work_dir, "triples").select(["subj", "pred", "obj"]).to_pydict()
        return set(zip(t["subj"], t["pred"], t["obj"]))
    nodes = _table(work_dir, "nodes").select(["node_id", "label"]).to_pydict()
    label = dict(zip(nodes["node_id"], nodes["label"]))
    e = _table(work_dir, "edges").select(["src", "dst", "etype"]).to_pydict()
    preds = sorted(predicates)
    return {
        (label[s], preds[t - 1] if t <= len(preds) else f"etype {t}", label[d])
        for s, d, t in zip(e["src"], e["dst"], e["etype"]) if t > 0
    }


def triple_scores(got: set, expected: set) -> tuple[float, float]:
    tp = len(got & expected)
    return (tp / len(got) if got else 0.0, tp / len(expected) if expected else 0.0)


def output_checks(work_dir: str, workload: str, cfg, cost_history: list[float],
                  precision: float, recall: float) -> dict[str, bool]:
    from graph_embeddings_spark.output import config_header_lines

    checks = {}
    if workload == "web_kg":
        checks["triple_precision_recall"] = precision >= 0.95 and recall >= 0.95
    types = _table(work_dir, "nodes").column("node_type").to_numpy()
    kept = int(np.isin(types, cfg.output.enabled_types()).sum())
    export = os.path.join(work_dir, "export")
    vec_lines = _part_lines(os.path.join(export, f"{cfg.output.name}.vectors.tsv"))
    dict_lines = _part_lines(os.path.join(export, f"{cfg.output.name}.dict.tsv"))
    header = config_header_lines(cfg)
    h = len(header)
    checks["export_rows_match_filter"] = len(dict_lines) - h == kept
    checks["tsv_line_counts_match"] = len(vec_lines) == len(dict_lines)
    checks["tsv_headers"] = vec_lines[:h] == header and dict_lines[:h] == header
    rows = [line.split("\t") for line in vec_lines[h:]]
    checks["vectors_finite"] = (
        bool(rows) and len({len(r) for r in rows}) == 1
        and all(math.isfinite(float(x)) for r in rows for x in r)
    )
    checks["cost_finite_decreasing"] = (
        len(cost_history) == cfg.opt.maxiter
        and all(map(math.isfinite, cost_history))
        and all(b < a for a, b in zip(cost_history, cost_history[1:]))
    )
    return checks


def _embeddings(work_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(node ids ascending, float64 vectors)."""
    t = _table(work_dir, "embeddings").select(["node_id", "vec"]).to_pydict()
    order = np.argsort(t["node_id"])
    ids = np.asarray(t["node_id"], dtype=np.int64)[order]
    vecs = np.asarray(t["vec"], dtype=np.float64)[order]
    return ids, vecs


def _cosine(va: np.ndarray, vb: np.ndarray) -> np.ndarray:
    return (va * vb).sum(axis=-1) / (
        np.sqrt((va * va).sum(axis=-1)) * np.sqrt((vb * vb).sum(axis=-1)) + 1e-12
    )


def mrr(work_dir: str) -> float:
    ids, vecs = _embeddings(work_dir)
    pos = {int(n): k for k, n in enumerate(ids)}
    c = _table(work_dir, "cooc").select(["i", "j", "x"]).to_pydict()
    i, j, x = (np.asarray(c[k]) for k in ("i", "j", "x"))
    off = i != j
    i, j, x = i[off], j[off], x[off]
    top = np.lexsort((j, i, -x))[:MRR_PAIRS]
    i, j = i[top], j[top]
    recips = []
    for a in np.unique(i):
        cos = _cosine(vecs[pos[int(a)]][None, :], vecs)
        # position of every node when sorted by cosine desc, then node id
        place = np.empty(len(ids), dtype=np.int64)
        place[np.lexsort((ids, -cos))] = np.arange(len(ids))
        pa = place[pos[int(a)]]
        for b in j[i == a]:
            pb = place[pos[int(b)]]
            recips.append(1.0 / (pb + 1 - (pa < pb)))  # a itself is not a candidate
    return float(np.mean(recips))


def _midranks(s: np.ndarray) -> np.ndarray:
    order = np.argsort(s, kind="stable")
    ranks = np.empty(len(s))
    sorted_s = s[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_s)) + 1]
    ends = np.r_[starts[1:], len(s)]
    for lo, hi in zip(starts, ends):
        ranks[order[lo:hi]] = (lo + 1 + hi) / 2.0
    return ranks


def link_auc(work_dir: str) -> float:
    from graph_embeddings_spark.functions.xxh64 import xxh64_int_np, xxh64_long_np

    ids, vecs = _embeddings(work_dir)
    src, dst = [], []
    for stage in ("edges", "sim_edges"):
        if os.path.isdir(os.path.join(work_dir, stage, "data")):
            t = _table(work_dir, stage).select(["src", "dst"]).to_pydict()
            src += t["src"]
            dst += t["dst"]
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    h = np.full(len(src), 42, dtype=np.uint64)
    h = xxh64_long_np(src.view(np.uint64), h)
    h = xxh64_long_np(dst.view(np.uint64), h)
    h = xxh64_int_np(np.uint64(0), h)
    h = xxh64_int_np(np.uint64(AUC_SEED), h)
    n = len(ids)
    neg_b = ids[np.mod(h.view(np.int64), n)]
    edge_set = set(zip(src.tolist(), dst.tolist()))
    keep = [
        k for k, (a, b) in enumerate(zip(src.tolist(), neg_b.tolist()))
        if a != b and (a, b) not in edge_set
    ]
    neg_a, neg_b = src[keep], neg_b[keep]
    index = {int(x): k for k, x in enumerate(ids)}

    def scores(a, b):
        ia = np.fromiter((index[int(x)] for x in a), dtype=np.int64, count=len(a))
        ib = np.fromiter((index[int(x)] for x in b), dtype=np.int64, count=len(b))
        return _cosine(vecs[ia], vecs[ib])

    s = np.r_[scores(src, dst), scores(neg_a, neg_b)]
    n_pos, n_neg = len(src), len(neg_a)
    if not n_pos or not n_neg:
        raise ValueError("link_auc: no positives or no negatives to rank")
    r = _midranks(s)
    return float((r[:n_pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def cooc_meta(work_dir: str) -> dict:
    with open(os.path.join(work_dir, "cooc", "_meta.json")) as f:
        return json.load(f)
