"""Complementary-document matching and merging (SURVEY.md §2.3 J3, §2.2 F5,
§2.6 O2-O4).

The reference pairs a "Sumário" document with its "Texto" counterpart: an
equi-match on (Data, Número de Processo), a residual set-overlap test on
``Meio Processual`` after removing the literal "Sumário" marker, an
XOR completeness gate (exactly one body part present), and a content-array
merge that unions lines without duplicates and recomputes the hash
(checkAndMergeComplementary + mergeIntoDocument, sharepoint.ts:52-146).

Spark shape: a self-join on the match key with the arrays_overlap residual,
then array_union/array_except/array_remove to build the merged row — all
JVM built-ins (one shuffle on the match key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.functions.hashing import canonical_hash

SUMARIO_MARKER = "Sumário"


def match_complementary(
    docs: DataFrame,
    key_cols: list[str] = ("data", "num_proc"),
    mean_col: str = "meio",
    is_summary_col: str = "is_summary",
) -> DataFrame:
    """Pairs (summary, text) for the same logical document.

    Residual: ``Meio Processual`` sets overlap after stripping the marker
    (sharepoint.ts:76-85).  Returns one row per matched pair with both
    sides' columns prefixed s_/t_.
    """
    summaries = docs.where(F.col(is_summary_col))
    texts = docs.where(~F.col(is_summary_col))
    s = summaries.select([F.col(c).alias(f"s_{c}") for c in docs.columns])
    t = texts.select([F.col(c).alias(f"t_{c}") for c in docs.columns])
    cond = [s[f"s_{k}"] == t[f"t_{k}"] for k in key_cols]
    residual = F.arrays_overlap(
        F.array_remove(F.col(f"s_{mean_col}"), SUMARIO_MARKER),
        F.array_remove(F.col(f"t_{mean_col}"), SUMARIO_MARKER),
    )
    return s.join(t, cond, "inner").where(residual)


def merge_pair(
    pairs: DataFrame,
    key_cols: list[str] = ("data", "num_proc"),
    content_col: str = "content_lines",
    mean_col: str = "meio",
) -> DataFrame:
    """One merged row per pair: content lines unioned without duplicates
    (order preserved — O2/O3, sharepoint.ts:116-119), marker stripped from
    the joined mean set (O4, sharepoint.ts:121-126), canonical hash
    recomputed over the merged fields (aux.ts:101-111 via sharepoint.ts:128-137).
    """
    s_lines = F.col(f"s_{content_col}")
    t_lines = F.col(f"t_{content_col}")
    merged_lines = F.concat(s_lines, F.array_except(t_lines, s_lines))
    merged_mean = F.array_remove(
        F.array_union(F.col(f"s_{mean_col}"), F.col(f"t_{mean_col}")), SUMARIO_MARKER
    )
    return pairs.select(
        *[F.col(f"s_{k}").alias(k) for k in key_cols],
        merged_lines.alias(content_col),
        merged_mean.alias(mean_col),
        canonical_hash(
            *[F.col(f"s_{k}") for k in key_cols],
            F.array_join(merged_lines, "\n"),
            F.array_join(merged_mean, ";"),
        ).alias("merged_hash"),
    )


def merge_complementary(
    docs: DataFrame,
    key_cols: list[str] = ("data", "num_proc"),
    content_col: str = "content_lines",
    mean_col: str = "meio",
    is_summary_col: str = "is_summary",
) -> DataFrame:
    """Full pass: matched pairs become merged rows; unmatched docs pass
    through unchanged (the reference's skip/none outcomes,
    sharepoint.ts:303-321)."""
    pairs = match_complementary(docs, key_cols, mean_col, is_summary_col)
    merged = merge_pair(pairs, key_cols, content_col, mean_col)
    matched_keys = merged.select(*key_cols)
    unmatched = docs.join(matched_keys, list(key_cols), "left_anti").select(
        *key_cols,
        F.col(content_col),
        F.array_remove(F.col(mean_col), SUMARIO_MARKER).alias(mean_col),
        canonical_hash(
            *[F.col(k) for k in key_cols],
            F.array_join(F.col(content_col), "\n"),
            F.array_join(F.array_remove(F.col(mean_col), SUMARIO_MARKER), ";"),
        ).alias("merged_hash"),
    )
    return merged.unionByName(unmatched)
