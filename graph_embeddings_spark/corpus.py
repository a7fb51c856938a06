"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the pipeline input table (BASELINE.json input_hint shape):

    web_pages(url string, warc_ts timestamp, html binary, text string, lang string)

plus the side tables the tests need (FIXTURES.md §1-3):

    alias_dict(alias string, entity_id string, prior float)
    entities(entity_id string, name string, etype string)
    expected_triples(url string, subj string, pred string, obj string, kind string)

Everything is a pure function of (seed, page_id): pages are generated
DISTRIBUTED via ``spark.range(n).mapInPandas`` with a per-page
``np.random.default_rng([seed, page_id])``, so output is bit-identical at any
parallelism level (local[8] == local[32] == 1000 executors). No wall-clock
anywhere (the reference seeds its RNG with wall-clock,
Configuration.java:157-159 — deliberately fixed here).

Corpus properties (FIXTURES.md §1):
  * html and text come from the same template, so extractor(html) == text
    byte-for-byte per row;
  * ~1% duplicate urls (an older variant row with earlier warc_ts — the
    pipeline must keep the latest);
  * ~2% malformed html rows (invalid UTF-8 / no content blocks) whose golden
    text is '' — the extractor must not error;
  * 5 hub entities appear in ~20% of pages (exercises hub skew);
  * ~10% non-English rows carry no planted facts (exercises lang filtering).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# ---------------------------------------------------------------------------
# Closed predicate vocabulary (FIXTURES.md §3: ~20 template-derived predicates)
# subj/obj type tags: P=person O=org L=place S=school; literals: year, date
# ---------------------------------------------------------------------------
P, O, L, S = "person", "org", "place", "school"

# (pred, subj_type, obj_type_or_literal, sentence-template)
PRED_DEFS = [
    ("works_at", P, O, "{s} works at {o}."),
    ("born_in", P, L, "{s} was born in {o}."),
    ("founded", P, O, "{s} founded {o}."),
    ("located_in", O, L, "{s} is located in {o}."),
    ("ceo_of", P, O, "{s} is the chief executive of {o}."),
    ("acquired", O, O, "{s} acquired {o}."),
    ("partnered_with", O, O, "{s} partnered with {o}."),
    ("studied_at", P, S, "{s} studied at {o}."),
    ("married_to", P, P, "{s} is married to {o}."),
    ("subsidiary_of", O, O, "{s} is a subsidiary of {o}."),
    ("headquartered_in", O, L, "{s} is headquartered in {o}."),
    ("employs", O, P, "{s} employs {o}."),
    ("founded_year", O, "year", "{s} was founded in {o}."),
    ("born_on", P, "date", "{s} was born on {o}."),
]

# phrase (the text between the two argument spans) -> (pred, obj_kind)
PHRASE_TO_PRED = {
    "works at": ("works_at", "entity"),
    "was born in": ("born_in", "entity"),
    "founded": ("founded", "entity"),
    "is located in": ("located_in", "entity"),
    "is the chief executive of": ("ceo_of", "entity"),
    "acquired": ("acquired", "entity"),
    "partnered with": ("partnered_with", "entity"),
    "studied at": ("studied_at", "entity"),
    "is married to": ("married_to", "entity"),
    "is a subsidiary of": ("subsidiary_of", "entity"),
    "is headquartered in": ("headquartered_in", "entity"),
    "employs": ("employs", "entity"),
    "was founded in": ("founded_year", "year"),
    "was born on": ("born_on", "date"),
}

NOISE_SENTENCES = [
    "The weather that day was unremarkable.",
    "Little else survives from this period.",
    "Several sources disagree about minor details.",
    "More information can be requested by mail.",
    "This page was last reviewed by our editors.",
    "No further records have been digitised yet.",
    "The archive holds additional photographs.",
    "Readers should consult the bibliography below.",
    "An earlier draft contained several errors.",
    "The exhibit remains open to the public.",
    "Local newspapers covered the announcement briefly.",
    "The catalogue entry is incomplete.",
]

_FIRST = [
    "Alice", "Bram", "Carla", "Derek", "Elena", "Farid", "Greta", "Hugo",
    "Iris", "Joris", "Katja", "Lars", "Mona", "Nils", "Odette", "Pavel",
    "Quinn", "Rosa", "Sven", "Tessa", "Umar", "Vera", "Wouter", "Xenia",
    "Yusuf", "Zoe", "Anders", "Beatrix", "Casper", "Dora",
]
_LAST = [
    "Smith", "Jansen", "Okafor", "Lindqvist", "Moreau", "Takeda", "Novak",
    "Haddad", "Costa", "Ivanov", "Keller", "Larsen", "Mbeki", "Nilsson",
    "Oduya", "Petrov", "Quist", "Romero", "Sato", "Tanaka", "Uddin",
    "Vargas", "Weber", "Xiang", "Yilmaz", "Zhang", "Bakker", "Visser",
]
_ORG_ROOT = [
    "Vertex", "Quanta", "Helios", "Nimbus", "Aldera", "Borealis", "Cinder",
    "Deltawerk", "Everfield", "Fennel", "Gradient", "Harbor", "Ionward",
    "Juniper", "Kestrel", "Lumen", "Meridian", "Northgate", "Opaline",
    "Pinnacle", "Quarry", "Rivenoak", "Solstice", "Tidewater", "Umberline",
]
_ORG_SUFFIX = ["Systems", "Labs", "Industries", "Group", "Holdings", "Works"]
_PLACE_ROOT = [
    "Arden", "Brightwater", "Calder", "Dunmore", "Eastvale", "Fairhaven",
    "Glenrock", "Hollowbrook", "Inverness", "Jutland", "Kirkwall",
    "Larkspur", "Milldale", "Northam", "Oakridge", "Penrith",
]
_SCHOOL_ROOT = [
    "Arden", "Brightwater", "Calder", "Dunmore", "Eastvale", "Fairhaven",
    "Glenrock", "Hollowbrook",
]


@dataclass
class World:
    """Driver-side entity/alias universe; small, shipped in task closures."""

    seed: int
    entity_ids: list[str]
    names: list[str]
    etypes: list[str]
    # alias (lowercase) -> list[(entity_idx, prior)]
    alias_map: dict[str, list[tuple[int, float]]]
    # entity_idx -> [(surface_form, weight)] surface candidates for planting
    surfaces: list[list[str]]
    by_type: dict[str, list[int]]
    hub_idx: list[int]

    def linked_entity(self, alias: str) -> int:
        """Linking rule shared by generator accounting and the linker stage:
        argmax prior, ties broken by smaller entity_id."""
        cands = self.alias_map[alias.lower()]
        return min(cands, key=lambda c: (-c[1], self.entity_ids[c[0]]))[0]


def build_world(seed: int = 42, n_entities: int = 120) -> World:
    rng = np.random.default_rng([seed, 7])
    counts = {
        P: int(n_entities * 0.45),
        O: int(n_entities * 0.30),
        L: int(n_entities * 0.15),
    }
    counts[S] = n_entities - sum(counts.values())

    names: list[str] = []
    etypes: list[str] = []
    seen: set[str] = set()

    def fresh(candidate_fn):
        for k in range(64):
            cand = candidate_fn(k)
            if cand not in seen:
                seen.add(cand)
                return cand
        # the candidate spaces are BOUNDED (3 person variants, 5 place
        # suffixes, ...) and exhaust at large n_entities — fall back to a
        # deterministic numbered form instead of looping forever
        base = candidate_fn(0)
        k = 2
        while f"{base} {k}" in seen:
            k += 1
        seen.add(f"{base} {k}")
        return f"{base} {k}"

    for t, n in counts.items():
        for i in range(n):
            if t == P:
                f = _FIRST[int(rng.integers(len(_FIRST)))]
                ln = _LAST[int(rng.integers(len(_LAST)))]
                name = fresh(lambda k, f=f, ln=ln: f"{f} {ln}" if k == 0 else f"{f} {ln} {'Jr' if k == 1 else 'III'}")
            elif t == O:
                root = _ORG_ROOT[int(rng.integers(len(_ORG_ROOT)))]
                suf = _ORG_SUFFIX[int(rng.integers(len(_ORG_SUFFIX)))]
                name = fresh(lambda k, r=root, s=suf: f"{r} {s}" if k == 0 else f"{r} {s} {k + 1}")
            elif t == L:
                root = _PLACE_ROOT[int(rng.integers(len(_PLACE_ROOT)))]
                name = fresh(lambda k, r=root: r if k == 0 else f"{r} {'North South East West'.split()[k % 4]}")
            else:
                root = _SCHOOL_ROOT[int(rng.integers(len(_SCHOOL_ROOT)))]
                name = fresh(lambda k, r=root: f"University of {r}" if k == 0 else f"University of {r} {k + 1}")
            names.append(name)
            etypes.append(t)

    entity_ids = [f"E{i:05d}" for i in range(len(names))]

    alias_map: dict[str, list[tuple[int, float]]] = {}
    surfaces: list[list[str]] = []

    def add_alias(alias: str, idx: int, prior: float):
        alias_map.setdefault(alias.lower(), []).append((idx, round(prior, 4)))

    for idx, (name, t) in enumerate(zip(names, etypes)):
        cand = [name]
        add_alias(name, idx, 0.95)
        if t == P:
            last = name.split()[1]
            add_alias(last, idx, 0.30 + 0.05 * (idx % 5))
            cand.append(last)
        elif t == O:
            short = name.split()[0]
            add_alias(short, idx, 0.40 + 0.05 * (idx % 4))
            cand.append(short)
        elif t == S:
            short = "UO" + name.split()[-1] if not name.split()[-1].isdigit() else "UO" + name.split()[-2]
            add_alias(short, idx, 0.60)
            cand.append(short)
        surfaces.append(cand)

    by_type: dict[str, list[int]] = {t: [] for t in (P, O, L, S)}
    for idx, t in enumerate(etypes):
        by_type[t].append(idx)
    hub_idx = by_type[O][:5]  # 5 hub orgs (FIXTURES.md §1 skew)

    return World(seed, entity_ids, names, etypes, alias_map, surfaces, by_type, hub_idx)


# ---------------------------------------------------------------------------
# Per-page plan: pure function of (world, page_id, variant)
# ---------------------------------------------------------------------------

def _pick_pred(rng, subj_type: str):
    opts = [d for d in PRED_DEFS if d[1] == subj_type]
    return opts[int(rng.integers(len(opts)))]


def _surface(world: World, rng, idx: int) -> str:
    """~92% full name (unambiguous); ~8% short alias. A short alias that the
    argmax-prior linking rule would resolve to a DIFFERENT entity is still
    used ~20% of those times — real, bounded ambiguity noise (keeps the
    triple P/R gate honest at ~0.98, not synthetic-perfect 1.0)."""
    cands = world.surfaces[idx]
    if len(cands) > 1 and rng.random() < 0.08:
        short = cands[1]
        if world.linked_entity(short) == idx:
            return short
        if rng.random() < 0.20:
            return short
    return cands[0]


def page_plan(world: World, page_id: int, variant: int = 0):
    """Returns (kind, lang, facts, sentences, focus_idx).

    kind in {'normal','malformed'}; facts = list of
    (subj_idx, pred, obj_idx_or_literal, obj_kind, subj_surface, obj_surface).
    """
    rng = np.random.default_rng([world.seed, 1_000_003, page_id, variant])
    r = rng.random()
    if r < 0.02:
        return "malformed", "en", [], [], 0
    lang = "en" if r >= 0.02 + 0.10 else ("de" if r < 0.07 else "nl")

    hub = rng.random() < 0.20
    if hub:
        focus = world.hub_idx[int(rng.integers(len(world.hub_idx)))]
    else:
        focus = int(rng.integers(len(world.entity_ids)))

    sentences: list[str] = []
    facts = []
    if lang == "en":
        subj_pool = world.by_type[P] + world.by_type[O]  # only P/O have predicates
        n_facts = 3 + int(rng.integers(6))  # 3..8
        for _ in range(n_facts):
            subj = focus if rng.random() < 0.5 else subj_pool[int(rng.integers(len(subj_pool)))]
            if world.etypes[subj] not in (P, O):
                subj = subj_pool[int(rng.integers(len(subj_pool)))]
            pred, _st, obj_t, tmpl = _pick_pred(rng, world.etypes[subj])
            if obj_t == "year":
                lit = str(1900 + int(rng.integers(126)))
                s_sur = _surface(world, rng, subj)
                sentences.append(tmpl.format(s=s_sur, o=lit))
                facts.append((subj, pred, lit, "literal", s_sur, lit))
            elif obj_t == "date":
                y = 1920 + int(rng.integers(90))
                m = 1 + int(rng.integers(12))
                d = 1 + int(rng.integers(28))
                lit = f"{y:04d}-{m:02d}-{d:02d}"
                s_sur = _surface(world, rng, subj)
                sentences.append(tmpl.format(s=s_sur, o=lit))
                facts.append((subj, pred, lit, "literal", s_sur, lit))
            else:
                pool = world.by_type[obj_t]
                obj = pool[int(rng.integers(len(pool)))]
                if obj == subj:
                    obj = pool[(pool.index(obj) + 1) % len(pool)]
                    if obj == subj:
                        continue
                s_sur = _surface(world, rng, subj)
                o_sur = _surface(world, rng, obj)
                sentences.append(tmpl.format(s=s_sur, o=o_sur))
                facts.append((subj, pred, obj, "entity", s_sur, o_sur))
    n_noise = 2 + int(rng.integers(3))
    for _ in range(n_noise):
        pos = int(rng.integers(len(NOISE_SENTENCES)))
        ins = int(rng.integers(len(sentences) + 1))
        sentences.insert(ins, NOISE_SENTENCES[pos])
    return "normal", lang, facts, sentences, focus


_BOILER_HEAD = (
    '<head><title>{title}</title>'
    '<script type="text/javascript">window.__page={pid};function t(){{return 1;}}</script>'
    '<style>.main{{color:#333;margin:0 auto}}nav a{{text-decoration:none}}</style>'
    "</head>"
)
_BOILER_NAV = '<nav><a href="/">Home</a> | <a href="/about">About</a> | <a href="/contact">Contact</a></nav>'
_BOILER_HEADER = "<header><span>site index {site}</span></header>"
_BOILER_ASIDE = "<aside>Related links: archive, catalogue, errata</aside>"
_BOILER_FOOTER = "<footer>Copyright 2026 site{site}.example.test - all rights reserved</footer>"


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_page(world: World, page_id: int, variant: int = 0):
    """Returns (url, warc_ts_epoch, html_bytes, text, lang)."""
    kind, lang, facts, sentences, focus = page_plan(world, page_id, variant)
    site = page_id % 97
    url = f"https://site{site}.example.test/page/{page_id}"
    ts = 1_767_225_600 + page_id * 37 - (86_400 if variant else 0)  # 2026-01-01 UTC base
    if kind == "malformed":
        rng = np.random.default_rng([world.seed, 4_242, page_id])
        bad = bytes(rng.integers(128, 256, size=40, dtype=np.uint8))  # invalid UTF-8
        return url, ts, b"<html><body><div" + bad, "", lang

    title = f"About {world.names[focus]}"
    paras: list[str] = []
    for i in range(0, len(sentences), 3):
        paras.append(" ".join(sentences[i : i + 3]))
    text = "\n".join([title] + paras)

    body = [_BOILER_NAV, _BOILER_HEADER.format(site=site), f"<h1>{_esc(title)}</h1>"]
    for p in paras:
        body.append(f"<p>{_esc(p)}</p>")
    body.append(_BOILER_ASIDE)
    body.append(_BOILER_FOOTER.format(site=site))
    html = "<html>" + _BOILER_HEAD.format(title=_esc(title), pid=page_id) + "<body>" + "".join(body) + "</body></html>"
    return url, ts, html.encode("utf-8"), text, lang


def expected_triples_for_page(world: World, page_id: int):
    """Ground-truth (url, subj, pred, obj, kind) rows for the LATEST variant."""
    kind, lang, facts, _s, _f = page_plan(world, page_id, 0)
    if kind != "normal" or lang != "en":
        return []
    site = page_id % 97
    url = f"https://site{site}.example.test/page/{page_id}"
    out = []
    for subj, pred, obj, okind, _ss, _os in facts:
        obj_val = world.entity_ids[obj] if okind == "entity" else obj
        out.append((url, world.entity_ids[subj], pred, obj_val, okind))
    return out


def _is_dup_page(world: World, page_id: int) -> bool:
    rng = np.random.default_rng([world.seed, 555_001, page_id])
    return bool(rng.random() < 0.01)


# ---------------------------------------------------------------------------
# Spark-side distributed generation
# ---------------------------------------------------------------------------

WEB_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def web_pages_df(spark, world: World, n_pages: int, partitions: int | None = None):
    """Distributed deterministic generation: one row (or two, for the ~1%
    duplicate-url pages) per page_id, independent of partitioning."""
    import pandas as pd

    partitions = partitions or max(8, n_pages // 20_000)

    def gen(batches):
        for pdf in batches:
            rows = []
            for pid in pdf["id"]:
                pid = int(pid)
                url, ts, html, text, lang = render_page(world, pid, 0)
                rows.append((url, ts, html, text, lang))
                if _is_dup_page(world, pid):
                    url2, ts2, html2, text2, lang2 = render_page(world, pid, 1)
                    rows.append((url2, ts2, html2, text2, lang2))
            out = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
            out["warc_ts"] = pd.to_datetime(out["warc_ts"], unit="s")
            yield out

    return spark.range(0, n_pages, numPartitions=partitions).mapInPandas(gen, WEB_PAGES_SCHEMA)


def alias_dict_df(spark, world: World):
    rows = []
    for alias, cands in sorted(world.alias_map.items()):
        for idx, prior in cands:
            rows.append((alias, world.entity_ids[idx], float(prior)))
    return spark.createDataFrame(rows, "alias string, entity_id string, prior double")

