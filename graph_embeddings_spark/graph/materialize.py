"""Graph materialization: triples -> (nodes, edges) with the reference's
identity and dictionary semantics (SURVEY.md §2 F1/A1/A2/J2 mappings).

Reference semantics preserved exactly:
  * F1 predicate-weight filter: triples whose predicate is not in the weights
    map are dropped (Rdf2GrphConverter.java:84-90,116-118; weights are
    effectively mandatory — :96 NPEs without them).
  * A1 vertex identity: URIs/blanks dedup globally on label; literals dedup
    PER (predicate, label) — the same lexical literal under two predicates is
    two distinct vertices (Rdf2GrphConverter.java:197-217,202-213).
  * ids are consecutive ints assigned deterministically (sorted by
    (node_type, label, pred_ctx)) rather than first-seen order — the
    reference's encounter order is single-thread nondeterministic across
    inputs anyway, and a stable global order is what makes runs reproducible
    and resumable at cluster scale (north_rule).
  * A2 edge-type dictionary: predicate -> int 1..N, id 0 reserved for
    similarity edges (Rdf2GrphConverter.java:236-239,158-173).
  * J2 similarity edges: each accepted pair adds TWO directed edges with
    weight=similarity and etype=0 (Rdf2GrphConverter.java:158-173).

Scale notes: the node dictionary is a distinct + range sort — explicit,
deliberate exchanges (SURVEY.md §4.4). The weights dictionary and the
edge-type dictionary (numbered on the driver) are inlined as map literals.
Edge id resolution is two joins against the node dictionary; at
10^12-triple scale those joins shuffle on (label) / (pred,label), the
natural keys, and AQE handles skewed labels (hub entities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import BLANK, LITERAL, URI

# obj_kind values in the triples DF (NodeInfo.java:8-34 encoding)
OBJ_URI, OBJ_BLANK, OBJ_LITERAL = 0, 1, 2


def _map_lookup(mapping: dict, key_type: str, value_type: str, key):
    """mapping[key] as a map literal: a driver-side dictionary inlined in
    the plan (NULL for a missing key), with no relation to scan or join."""
    return F.map_from_arrays(
        F.array(*map(F.lit, mapping)).cast(f"array<{key_type}>"),
        F.array(*map(F.lit, mapping.values())).cast(f"array<{value_type}>"),
    )[key]


def filter_by_predicate_weights(triples: DataFrame, weights: dict[str, float] | None) -> DataFrame:
    """F1 — keep only weighted predicates, attach the weight column.

    The weight is a map-literal lookup and a predicate without one is
    filtered out, so the plan has no join and no driver-side relation (a
    broadcast of a local list plans as an RDD scan that starts Python
    workers). With no map (None) every predicate is kept at weight 1.0.
    """
    if weights is None:
        return triples.withColumn("weight", F.lit(1.0).cast("float"))
    weight = _map_lookup(weights, "string", "float", F.col("pred"))
    return triples.withColumn("weight", weight).filter(F.col("weight").isNotNull())


def node_kind_expr():
    """Map triples.obj_kind (entity/literal strings or 0/1/2 ints) to node_type."""
    c = F.col("obj_kind").cast("string")
    return (
        F.when(c.isin("literal", str(OBJ_LITERAL)), F.lit(LITERAL))
        .when(c.isin("blank", str(OBJ_BLANK)), F.lit(BLANK))
        .otherwise(F.lit(URI))
        .cast("tinyint")
    )


def observed_predicates(triples: DataFrame) -> list[str]:
    """Sorted distinct predicates: one aggregate (<= 127 entries, A2)."""
    return triples.agg(F.sort_array(F.collect_set("pred"))).first()[0]


def edge_type_ids(predicates, weights: dict[str, float] | None) -> dict[str, int]:
    """A2 — predicate -> etype 1..N over the sorted observed predicates that
    survive the F1 filter; 0 is reserved for similarity edges."""
    kept = set(predicates) if weights is None else set(predicates) & weights.keys()
    return {p: i for i, p in enumerate(sorted(kept), 1)}


# monotonically_increasing_id() puts the partition index above this bit
# and the row's index within its partition below it
_ROW_BITS = 33


def assign_consecutive_ids(
    df: DataFrame, order_cols: list, id_col: str = "node_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """Deterministic consecutive ids [0, n) in global sort order WITHOUT a
    single-task global window: range-partition on the sort key (parallel
    sort), number each sorted partition with monotonically_increasing_id(),
    then add per-partition offsets (one count job, a driver-side cumulative
    sum). The ids are a pure function of the global sort order — range
    boundaries only choose split points, so the result is identical at any
    parallelism (the resumability/stability contract of SURVEY.md §4.4).
    JVM-only: no Python stage."""
    # persisted: consumed twice (per-partition counts, then the ids);
    # callers that checkpoint the result pass cache_registry to unpersist it
    local = (
        df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(local)
    pid = F.shiftright("_mid", _ROW_BITS)
    counts = dict(local.groupBy(pid).count().collect())
    offsets, acc = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(F.lit(acc).cast("long"))
        acc += counts.get(p, 0)
    row = F.col("_mid").bitwiseAND((1 << _ROW_BITS) - 1)
    return local.withColumn(
        id_col, F.element_at(F.array(*offsets), (pid + 1).cast("int")) + row
    ).drop("_mid")


def build_nodes(triples: DataFrame, cache_registry: list | None = None) -> DataFrame:
    """A1 — nodes(node_id long, label string, node_type tinyint, pred_ctx string).

    pred_ctx is NULL for URI/blank nodes (global identity) and the predicate
    for literal nodes (per-predicate identity, Rdf2GrphConverter.java:202-213).
    Ids are consecutive in (node_type, label, pred_ctx) order via the
    parallel range-sort assigner (no single-task global window).
    """
    subjects = triples.select(
        F.col("subj").alias("label"),
        F.when(F.col("subj").startswith("_:"), F.lit(BLANK)).otherwise(F.lit(URI)).cast("tinyint").alias("node_type"),
        F.lit(None).cast("string").alias("pred_ctx"),
    )
    objs = triples.withColumn("node_type", node_kind_expr()).select(
        F.col("obj").alias("label"),
        "node_type",
        F.when(F.col("node_type") == LITERAL, F.col("pred")).otherwise(F.lit(None)).alias("pred_ctx"),
    )
    distinct_nodes = subjects.unionByName(objs).distinct()
    return assign_consecutive_ids(
        distinct_nodes,
        [F.col("node_type"), F.col("label"), F.col("pred_ctx").asc_nulls_first()],
        cache_registry=cache_registry,
    )


def build_edges(
    triples_weighted: DataFrame, nodes: DataFrame, etypes: dict[str, int]
) -> DataFrame:
    """edges(src long, dst long, etype int, weight float).

    Two node-dictionary joins: subjects on (label), objects on (label) for
    entities and (label, pred_ctx) for literals — one join with a null-safe
    pred_ctx condition expresses both. The etype is a lookup in the
    driver-side A2 dictionary, inlined as a map literal.
    """
    etype = _map_lookup(etypes, "string", "int", F.col("pred"))
    t = triples_weighted.withColumn("obj_type", node_kind_expr()).withColumn(
        "obj_pred_ctx", F.when(F.col("obj_type") == LITERAL, F.col("pred"))
    )
    src_nodes = nodes.filter(F.col("node_type") != LITERAL).select(
        F.col("label").alias("subj"), F.col("node_id").alias("src")
    )
    dst_nodes = nodes.select(
        F.col("label").alias("obj"),
        F.col("node_type").alias("obj_type"),
        F.col("pred_ctx").alias("obj_pred_ctx"),
        F.col("node_id").alias("dst"),
    )
    return (
        t.join(src_nodes, "subj", "inner")
        .join(
            dst_nodes,
            (t.obj == dst_nodes.obj)
            & (t.obj_type == dst_nodes.obj_type)
            & (t.obj_pred_ctx.eqNullSafe(dst_nodes.obj_pred_ctx)),
            "inner",
        )
        .select(
            "src", "dst", etype.alias("etype"),
            F.col("weight").cast("float").alias("weight"),
        )
    )


def similarity_edges(pairs: DataFrame) -> DataFrame:
    """J2 — pairs(a long, b long, sim double) -> both directions, etype 0
    (Rdf2GrphConverter.java:158-173)."""
    fwd = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"), F.col("sim"))
    rev = pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), F.col("sim"))
    return fwd.unionByName(rev).select(
        "src", "dst", F.lit(0).alias("etype"), F.col("sim").cast("float").alias("weight")
    )


def materialize_graph(
    triples: DataFrame, weights: dict[str, float] | None, cache_registry: list | None = None,
    predicates: list[str] | None = None,
):
    """Full stage: returns (nodes, edges, etypes), etypes the A2 dictionary.
    triples needs columns (subj, pred, obj, obj_kind); a caller that already
    holds the observed `predicates` spares the aggregate that finds them."""
    if predicates is None:
        predicates = observed_predicates(triples)
    weighted = filter_by_predicate_weights(triples, weights)
    nodes = build_nodes(weighted, cache_registry=cache_registry)
    etypes = edge_type_ids(predicates, weights)
    edges = build_edges(weighted, nodes, etypes)
    return nodes, edges, etypes
