"""Seeded inputs are byte-identical for one seed and differ across seeds.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import inputs  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _make(tmp_path, workload: str, seed: int, tag: str) -> str:
    return inputs.ensure_inputs(str(tmp_path / tag), workload, seed)


def test_web_pages_same_seed_same_bytes(tmp_path):
    a = _make(tmp_path, "web_kg", 3, "a")
    b = _make(tmp_path, "web_kg", 3, "b")
    assert _digest(a) == _digest(b)


def test_web_pages_other_seed_other_bytes(tmp_path):
    assert _digest(_make(tmp_path, "web_kg", 3, "a")) != _digest(_make(tmp_path, "web_kg", 4, "a"))


def test_dblp_same_seed_same_bytes(tmp_path):
    a = _make(tmp_path, "rdf_kg", 3, "a")
    b = _make(tmp_path, "rdf_kg", 3, "b")
    assert _digest(a) == _digest(b)


def test_dblp_other_seed_other_bytes(tmp_path):
    assert _digest(_make(tmp_path, "rdf_kg", 3, "a")) != _digest(_make(tmp_path, "rdf_kg", 4, "a"))


def test_dblp_shape():
    rows = inputs.dblp_triples(5)
    preds = {p for _s, p, _o, _lit in rows}
    assert preds == {inputs.AUTHORED_BY, inputs.PUBLISHED_IN, inputs.YEAR, inputs.TITLE, inputs.NAME}
    papers = sum(1 for _s, p, _o, _lit in rows if p == inputs.YEAR)
    assert papers == inputs.DBLP_PAPERS
    # power-law author popularity: the busiest author writes far more than the median one
    counts: dict[str, int] = {}
    for _s, p, o, _lit in rows:
        if p == inputs.AUTHORED_BY:
            counts[o] = counts.get(o, 0) + 1
    ordered = sorted(counts.values())
    assert ordered[-1] >= 10 * ordered[len(ordered) // 2]


def test_cached_input_is_reused(tmp_path):
    path = _make(tmp_path, "rdf_kg", 7, "a")
    mtime = os.path.getmtime(path)
    assert _make(tmp_path, "rdf_kg", 7, "a") == path
    assert os.path.getmtime(path) == mtime
