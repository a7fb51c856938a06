"""Seeded benchmark inputs, written once per (workload, seed) before timing.

* web_kg: a parquet table of web pages, row for row what
  `corpus.web_pages_df` yields for the 120-entity world of the seed (about
  1% duplicate urls, 2% malformed html, 10% non-English pages, 5 hub
  entities), written by pyarrow as one file so the bytes are a function of
  the seed alone.
* rdf_kg: an N-Triples file shaped like DBLP: papers with power-law author
  popularity, Zipf venue popularity, Zipf-distributed title words, years
  skewed towards recent ones, and author names built from a small syllable
  set so near-duplicate names exist.

Both are byte-identical for a given seed; `ensure_inputs` writes into a
temporary name and renames, so a cached input is never half written.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

WEB_PAGES = 1_000
WORLD_ENTITIES = 120
# the entity universe (names, aliases, hubs) is the same for every seed;
# the seed draws the pages. Alias ambiguity then does not vary with it.
WORLD_SEED = 42

DBLP_PAPERS = 800
DBLP_AUTHORS = 500
DBLP_VENUES = 20

DBLP = "https://dblp.org/rdf/schema#"
AUTHORED_BY = DBLP + "authoredBy"
PUBLISHED_IN = DBLP + "publishedIn"
YEAR = DBLP + "yearOfPublication"
TITLE = DBLP + "title"
NAME = DBLP + "primaryFullPersonName"


def seeded_world(seed: int):
    """The fixed 120-entity world, with `seed` drawing every page plan."""
    import dataclasses

    from graph_embeddings_spark.corpus import build_world

    return dataclasses.replace(build_world(WORLD_SEED, WORLD_ENTITIES), seed=seed)


def write_web_pages(path: str, seed: int, n_pages: int = WEB_PAGES) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graph_embeddings_spark.corpus import _is_dup_page, render_page

    world = seeded_world(seed)
    rows = []
    for pid in range(n_pages):
        rows.append(render_page(world, pid, 0))
        if _is_dup_page(world, pid):
            rows.append(render_page(world, pid, 1))
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], unit="s").dt.tz_localize("UTC")
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def _syllable_words(rng, n: int, lo: int, hi: int) -> list[str]:
    onsets = ["b", "br", "c", "d", "f", "g", "gr", "h", "k", "l", "m", "n", "p",
              "r", "s", "st", "t", "tr", "v", "w", "z"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou"]
    codas = ["", "", "n", "r", "s", "l", "x"]
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(
            onsets[int(rng.integers(len(onsets)))] + vowels[int(rng.integers(len(vowels)))]
            for _ in range(k)
        ) + codas[int(rng.integers(len(codas)))]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def dblp_triples(
    seed: int, n_papers: int = DBLP_PAPERS, n_authors: int = DBLP_AUTHORS,
    n_venues: int = DBLP_VENUES,
) -> list[tuple[str, str, str, bool]]:
    """(subject IRI, predicate IRI, object, object-is-literal) rows."""
    # vocabularies are fixed; the seed draws the graph over them
    vocab = np.random.default_rng(0xDB1B)
    words = _syllable_words(vocab, 800, 1, 3)
    first = [w.capitalize() for w in _syllable_words(vocab, 60, 2, 2)]
    last = [w.capitalize() for w in _syllable_words(vocab, 150, 2, 3)]
    rng = np.random.default_rng([seed, 0xDB1B])
    word_p = _zipf_probs(len(words), 1.1)
    first_p = _zipf_probs(len(first), 0.8)
    last_p = _zipf_probs(len(last), 0.8)
    author_p = _zipf_probs(n_authors, 1.0)[rng.permutation(n_authors)]
    venue_p = _zipf_probs(n_venues, 1.0)
    years = np.arange(1990, 2026)
    year_p = np.linspace(1.0, 4.0, len(years))
    year_p /= year_p.sum()

    def iri(kind: str, i: int) -> str:
        return f"https://dblp.org/{kind}/{i:06d}"

    out = []
    for a in range(n_authors):
        name = f"{first[rng.choice(len(first), p=first_p)]} {last[rng.choice(len(last), p=last_p)]}"
        out.append((iri("pid", a), NAME, name, True))
    for v in range(n_venues):
        out.append((iri("venue", v), TITLE, " ".join(rng.choice(words, 2, p=word_p)) + " conference", True))
    for p in range(n_papers):
        paper = iri("rec", p)
        n_auth = 1 + int(rng.binomial(5, 0.3))
        for a in sorted(set(rng.choice(n_authors, n_auth, p=author_p).tolist())):
            out.append((paper, AUTHORED_BY, iri("pid", a), False))
        out.append((paper, PUBLISHED_IN, iri("venue", int(rng.choice(n_venues, p=venue_p))), False))
        out.append((paper, YEAR, str(int(rng.choice(years, p=year_p))), True))
        title = " ".join(rng.choice(words, 4 + int(rng.integers(6)), p=word_p))
        out.append((paper, TITLE, title, True))
    return out


def dblp_lines(seed: int) -> list[str]:
    return [
        f'<{s}> <{p}> "{o}" .' if lit else f"<{s}> <{p}> <{o}> ."
        for s, p, o, lit in dblp_triples(seed)
    ]


def write_dblp(path: str, seed: int) -> None:
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write("\n".join(dblp_lines(seed)) + "\n")


INPUT_FILES = {"web_kg": "pages.parquet", "rdf_kg": "dblp.nt"}


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Path of the workload's input for this seed, generated on first use."""
    final = os.path.join(root, f"{workload}-{seed}")
    path = os.path.join(final, INPUT_FILES[workload])
    if os.path.exists(path):
        return path
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    writer = write_web_pages if workload == "web_kg" else write_dblp
    writer(os.path.join(tmp, INPUT_FILES[workload]), seed)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return path
