"""Quality metrics and triple read-back on a small hand-made work_dir.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402


def _write(work, stage, table: dict):
    os.makedirs(os.path.join(work, stage, "data"))
    pq.write_table(pa.table(table), os.path.join(work, stage, "data", "part-0.parquet"))


@pytest.fixture
def work(tmp_path):
    w = str(tmp_path)
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [-1.0, 0.0]]
    _write(w, "embeddings", {"node_id": [0, 1, 2, 3], "vec": vecs})
    _write(w, "nodes", {"node_id": [0, 1, 2, 3], "label": ["a", "b", "c", "lit"]})
    _write(w, "cooc", {"i": [0, 0, 2, 1], "j": [1, 2, 2, 3], "x": [0.9, 0.5, 1.0, 0.1]})
    _write(w, "edges", {"src": [0, 1], "dst": [1, 3], "etype": [2, 1]})
    return w


def test_mrr_ranks_by_cosine_over_top_pairs(work, monkeypatch):
    monkeypatch.setattr(checks, "MRR_PAIRS", 2)
    # top pairs (i != j) by x: (0,1) then (0,2); from node 0, node 1 is
    # nearest (rank 1) and node 2 second (rank 2)
    assert checks.mrr(work) == pytest.approx((1 / 1 + 1 / 2) / 2)


def test_midranks_average_ties():
    assert checks._midranks(np.array([0.3, 0.1, 0.3, 0.2])).tolist() == [3.5, 1.0, 3.5, 2.0]


def test_link_auc_in_unit_interval(work):
    auc = checks.link_auc(work)
    assert 0.0 <= auc <= 1.0


def test_rdf_triples_read_back_from_graph(work):
    got = checks.produced_triples(work, "rdf_kg", ["p:z", "p:a"])
    assert got == {("a", "p:z", "b"), ("b", "p:a", "lit")}
