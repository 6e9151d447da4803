"""The Arrow extraction/normalization stage (SURVEY.md §2.9, §3.2 steps 1-9).

The reference processes one document at a time: validate metadata
(sharepoint.ts:595-631), derive (date, area, section) from the path
(sharepoint.ts:472-498), normalize/clean fields through a spawned python
child process (sharepoint.ts:537-583 ↔ pdf_parser.py:14-54).  Per-row
round-trips are exactly what the north rule bans; here the one step Spark
has no builtin for is a scalar Arrow pandas UDF — columnar pandas ops on
thousands of rows per batch — and everything else is a JVM expression.

Split of labor:
  * JVM (whole-stage codegen, applied in ``with_jvm_derived``): sha256
    invariant, xxhash fingerprint, basename/dirname/extension, date-from-path,
    first-match section mapping.
  * Arrow batch (``extract_columnar``): NFD accent folding of ``path`` and
    ``fname`` (no Spark builtin); the whitespace canonicalization and the
    summary flag on the folded basename are JVM expressions over the fold —
    the field-cleaning the reference does in pdf_parser.py:40-53 and the
    Sumário detection at sharepoint.ts:256-258.

The stage only ADDS columns; ``content`` passes through untouched so the
sha256(content) invariant is preserved end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.functions.hashing import content_sha, quick_fingerprint
from jurisprudencia_privada_etl_spark.functions.paths import (
    basename,
    date_from_path,
    dirname,
    extension,
    first_match_map,
)
from jurisprudencia_privada_etl_spark.functions.text import nfd_fold_udf

# Area mapping mirrors the reference's ordered section dictionaries
# (sharepoint.ts:26-48): first key contained in the lowered path wins.
DEFAULT_AREA_MAP = [
    ("civel", "Área Cível"),
    ("criminal", "Área Criminal"),
    ("social", "Área Social"),
    ("contencioso", "Contencioso"),
    ("src", "Código"),
]


def with_jvm_derived(df: DataFrame, default_year: int = 2026) -> DataFrame:
    """Codegen-friendly derived columns — no Python involved."""
    return (
        df.withColumn("content_sha", content_sha("content"))
        .withColumn("fingerprint", quick_fingerprint("content"))
        .withColumn("folder", dirname("path"))
        .withColumn("fname", basename("path"))
        .withColumn("ext", extension("path"))
        .withColumn("path_date", date_from_path("path", default_year))
        .withColumn(
            "n_tokens",
            F.size(F.filter(F.split(F.col("content"), r"\s+"), lambda t: t != "")).cast("int"),
        )
    )


def extract_columnar(df: DataFrame) -> DataFrame:
    """Arrow stage: ``path_norm``, ``title_norm`` and ``is_summary``.

    Scalar Arrow pandas UDFs, not ``mapInPandas``: ``mapInPandas``
    serializes EVERY column through Arrow in both directions — for a wide
    changelog row (~400 B dominated by ``content``) that is ~10× more IPC
    traffic than the fold actually needs.  A scalar ``pandas_udf`` ships
    exactly one string column per call and leaves the rest of the row in
    the JVM, so only ``path`` and ``fname`` cross the boundary; the
    whitespace canon + summary flag are JVM expressions over the folded
    result.  tests/test_extraction.py checks it against a row-wise oracle.
    """
    folded_fname = nfd_fold_udf(F.col("fname"))
    title_norm = F.trim(F.regexp_replace(folded_fname, r"\s+", " "))
    return (
        df.withColumn("path_norm", nfd_fold_udf(F.col("path")))
        .withColumn("title_norm", title_norm)
        .withColumn("is_summary", F.col("title_norm").contains("sumario"))
    )


def with_area(df: DataFrame) -> DataFrame:
    """Ordered first-match section mapping (X4) — applied on the FOLDED path
    so accented section names match their unaccented dictionary keys, like
    the reference's normalize-then-lookup (sharepoint.ts:485-497, 688-693)."""
    return df.withColumn("area", first_match_map("path_norm", DEFAULT_AREA_MAP, default="Outros"))


def extraction_stage(df: DataFrame, default_year: int = 2026) -> DataFrame:
    """JVM derivations + Arrow NFD stage + fold-dependent derivations."""
    derived = with_jvm_derived(df, default_year)
    return with_area(extract_columnar(derived))
