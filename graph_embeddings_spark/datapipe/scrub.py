"""Text scrubbing operators for training-data curation.

  * pii_scrub       — redact emails / phone numbers / IPv4 / long digit
                      runs with typed placeholders. Pure regexp_replace
                      chain (whole-stage codegen); patterns restricted to
                      the Java-regex ∩ RE2 common subset so the DuckDB
                      oracle replays them byte-for-byte.
  * boilerplate_lines / remove_boilerplate_lines — CCNet/C4-style line-
    level dedup across documents: a line occurring in more than `max_df`
    DISTINCT documents is boilerplate (nav bars, cookie banners, footers)
    and is dropped from every document; remaining lines are reassembled
    in original order. One explode + one distinct-count shuffle + one
    groupBy — all linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (pattern, replacement) — order matters: emails before digit runs so the
# local-part digits don't get half-redacted first
PII_RULES = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def pii_scrub_col(c):
    x = c
    for pat, rep in PII_RULES:
        x = F.regexp_replace(x, pat, rep)
    return x


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn(text_col, pii_scrub_col(F.col(text_col)))


def _doc_lines(docs: DataFrame, text_col: str):
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )


def _bp_from_lines(lines: DataFrame, max_df: int) -> DataFrame:
    """(doc_id, _t trimmed line) -> trimmed lines in > max_df distinct docs."""
    return (
        lines.groupBy("_t")
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
        .filter(F.col("doc_freq") > max_df)
    )


def boilerplate_lines(
    docs: DataFrame, max_df: int, text_col: str = "text"
) -> DataFrame:
    """-> (line, doc_freq) for trimmed lines present in more than max_df
    DISTINCT documents."""
    lines = _doc_lines(docs, text_col).select(
        "doc_id", F.trim(F.col("line")).alias("_t")
    )
    return _bp_from_lines(lines, max_df).select(F.col("_t").alias("line"), "doc_freq")


def remove_boilerplate_lines(
    docs: DataFrame, max_df: int, text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """Drop every line whose trimmed form appears in more than max_df
    distinct documents; reassemble the survivors in original order.
    Documents whose every line is boilerplate come back as empty text
    (kept, so downstream length filters make the drop decision)."""
    from pyspark import StorageLevel

    # ONE explode: the doc-frequency counts derive from the same PERSISTED
    # line relation the anti-join consumes (without the persist, Catalyst
    # evaluates the split+posexplode subtree once per consumer — doubling
    # the dominant scan at corpus scale)
    lines = (
        _doc_lines(docs, text_col)
        .withColumn("_t", F.trim(F.col("line")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_registry is not None:
        cache_registry.append(lines)
    bp = _bp_from_lines(lines.select("doc_id", "_t"), max_df).select("_t")
    kept = lines.join(bp, "_t", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            # struct sort = lexicographic on (pos, line) -> original order;
            # getField on array<struct> is codegen'd (GetArrayStructFields),
            # no interpreted HOF pass
            F.array_sort(F.collect_list(F.struct("pos", "line"))).getField("line"),
            "\n",
        ).alias(text_col)
    )
    # left join keeps all-boilerplate docs (empty text) and docs with no
    # line rows at all
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )
