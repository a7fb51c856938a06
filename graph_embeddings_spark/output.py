"""Embedding output: type/prefix filtering + parquet/TSV sinks (S3/F2/F3).

Reference: util/write/EmbeddingTextWriter.java —
  * F2 node-type filter: only types with an enabled output group are written
    (:34-37,100-109);
  * F3 prefix filter: within a type, keep keys starting with ANY configured
    prefix; an empty prefix list keeps everything (:111-131);
  * S3 text sink: `<name>.vectors.tsv` rows of %11.6E floats and
    `<name>.dict.tsv` rows of `key<TAB>typename` (:133-145), both headed by
    config comment lines (:40-70).

Canonical sink here is parquet (embeddings survive as a table); the TSV
export reproduces the reference's byte format via format_string — all
JVM-side, one pass, no Python."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .config import BLANK, LITERAL, PREDICATE, URI, OutputConfig, PipelineConfig

_TYPE_NAMES = {URI: "URI", BLANK: "BLANK", LITERAL: "LITERAL", PREDICATE: "PREDICATE"}


def filter_embeddings(embeddings: DataFrame, out: OutputConfig) -> DataFrame:
    """embeddings(node_id, label, node_type, vec) filtered per F2+F3.

    One filter: each enabled type contributes a cond carrying its own
    node_type equality, so the OR of conds IS the F2 type filter — a
    separate isin() pre-filter would state the same semantics twice."""
    conds = []
    for ntype, prefixes in (
        (URI, out.uri), (BLANK, out.blank), (LITERAL, out.literal), (PREDICATE, out.predicate),
    ):
        if prefixes is None:
            continue
        type_match = F.col("node_type") == ntype
        if prefixes:  # any-prefix match (EmbeddingTextWriter.java:111-131)
            pref = None
            for p in prefixes:
                c = F.col("label").startswith(p)
                pref = c if pref is None else (pref | c)
            conds.append(type_match & pref)
        else:  # empty list = keep all of this type
            conds.append(type_match)
    keep = None
    for c in conds:
        keep = c if keep is None else (keep | c)
    # no type enabled -> empty result (out.enabled_types() is then empty)
    return embeddings.filter(keep) if keep is not None else embeddings.limit(0)


def vector_line() -> Column:
    """Vector floats %11.6E-joined by tabs (EmbeddingTextWriter.java:133-136)."""
    return F.array_join(F.transform(F.col("vec"), lambda v: F.format_string("%11.6E", v)), "\t")


def dict_line() -> Column:
    """'key<TAB>typename' with tabs/newlines stripped from keys
    (EmbeddingTextWriter.java:94,137-145)."""
    clean = F.regexp_replace(F.col("label"), r"[\t\n\r]", " ")
    tname = F.element_at(
        F.create_map(
            *[x for t, n in _TYPE_NAMES.items() for x in (F.lit(t), F.lit(n))]
        ),
        F.col("node_type").cast("int"),
    )
    return F.format_string("%s\t%s", clean, tname)


def config_header_lines(config: PipelineConfig) -> list[str]:
    """The '#' comment header both TSV files start with —
    EmbeddingTextWriter.writeConfig (:41-70) line for line."""
    lines = [
        "# Starting the embedding creation process with following settings:",
        f"# Graph File: {config.graph}",
        f"# Embedding dimensions: {config.dim}",
        f"# Threads: {config.threads}",
        f"# BCA Alpha: {config.bca.alpha}",
        f"# BCA Epsilon: {config.bca.epsilon}",
        f"# BCA Directed: {str(config.bca.directed).lower()}",
        f"# BCA normalize: {config.bca.normalize}",
        f"# Gradient Descent Algorithm: {config.opt.method}",
        f"# {config.method} Tolerance: {config.opt.tolerance}",
        f"# {config.method} Maximum Iterations: {config.opt.maxiter}",
        (
            f"# PCA Minimum Variance: {config.pca.variance}"
            if config.pca is not None
            else "# No PCA will be performed"
        ),
    ]
    if config.weights:
        lines.append("# Using weights, predicates that are not listed are ignored:")
        for k, v in config.weights.items():
            lines.append(f"# {k}: {v}")
    else:
        lines.append("# No weights specified, using linear weight")
    if config.similarity:
        lines.append("# Using the following similarity metrics:")
        for s in config.similarity:
            # SimilarityGroup.toString (Configuration.java:230-241); its
            # embedded '\n' becomes a separate '#' line in the writer
            desc = f"{s.source_predicate} -> {s.target_predicate}"
            detail = f" method:{s.method}, threshold: {s.threshold}"
            if s.method in ("ngram_jaccard", "ngram_cosine"):
                detail += f", ngram: {s.ngram}"
            elif s.method == "numeric":
                detail += f", smooth: {s.smooth}"
            elif s.method.startswith("date_"):
                detail += f", pattern:{s.pattern}, smooth: {s.smooth}, time: {s.time}"
            lines.append(f"# {desc}")
            lines.append(f"#{detail}")
    else:
        lines.append("# No similarity matching will be performed")
    return lines


def _sorted_with_header(rows: DataFrame, header: list[str]) -> DataFrame:
    """rows(node_id, *line columns) plus the header rows, in one global
    order. Header rows sort before every data row (order key -len(header)..-1
    vs node_id >= 0) and carry their line in every line column; the orderBy
    range-partitions, so part files read in order reproduce the reference's
    byte layout. The header rows are a range over an array literal: a
    driver-side list would plan as an RDD scan, whose every read (the sort's
    sample, its shuffle) starts Python workers."""
    n = len(header)
    lines = F.array(*map(F.lit, header)).cast("array<string>")
    line = F.element_at(lines, (F.col("id") + 1).cast("int"))
    hdr = rows.sparkSession.range(n).select(
        (F.col("id") - n).alias("node_id"), *[line.alias(c) for c in rows.columns if c != "node_id"]
    )
    return rows.unionByName(hdr).orderBy("node_id")


def write_tsv(
    embeddings: DataFrame,
    out_dir: str,
    name: str = "embedding",
    config: PipelineConfig | None = None,
) -> None:
    """Parity TSV export: <dir>/<name>.vectors.tsv + <name>.dict.tsv, rows
    aligned by a deterministic node_id order (the reference iterates the
    co-occurrence index order; any stable shared order preserves the
    vector<->key alignment contract). With a config, both files start with
    the reference's '#' settings header (EmbeddingTextWriter.java:41-70).
    Both files are written from one sort: a lazy local checkpoint keeps the
    sorted partitions the first write computes, and the second write reads
    them: 4 jobs, where a persist ran 5 (the cache fills in a job of its
    own) and a sort per file 6. A lost executor fails the export instead of
    recomputing it, and the export is redone on resume until both files
    commit."""
    header = config_header_lines(config) if config is not None else []
    rows = embeddings.select("node_id", vector_line().alias("vectors"), dict_line().alias("dict"))
    ordered = _sorted_with_header(rows, header).localCheckpoint(eager=False)
    for suffix in ("vectors", "dict"):
        ordered.select(suffix).write.mode("overwrite").text(f"{out_dir}/{name}.{suffix}.tsv")
