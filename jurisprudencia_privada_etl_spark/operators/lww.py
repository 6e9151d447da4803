"""Last-writer-wins dedup (SURVEY.md §2.5 W1).

The reference gets LWW implicitly: re-indexing a document under its fixed
deterministic id overwrites the previous version (reference src/juris.ts:9-13),
and later delta pages supersede earlier state.  The engine makes it explicit:
for each key ``(repo, path)`` keep exactly the row with the highest commit
``ordinal`` — arrival order is irrelevant, which is what makes out-of-order
events harmless (BASELINE.json fixture requirement).

Two physical strategies, identical semantics (property-tested equal):

* ``lww_dedup``      — ``row_number() OVER (PARTITION BY key ORDER BY ordinal
  DESC) = 1`` (the north rule's mandated form).  One shuffle on the key + a
  per-partition sort.
* ``lww_dedup_agg``  — ``max_by(struct(*), ordinal)`` aggregation.  Same one
  shuffle, but it benefits from map-side partial aggregation: each input
  partition pre-reduces to ≤1 row per key BEFORE the shuffle, so on a skewed
  10^10-event changelog the shuffle moves O(distinct keys) rows instead of
  O(events).  The MoR delta merge, the "join" reference merge and the
  conflict report use this form; queries use ``lww_dedup``.  The default
  "window" CoW merge uses neither: its LWW rides the merge's own bucket
  window (plans/sink.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.schemas import KEY_COLUMNS, ORDINAL_COLUMN


def lww_dedup(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ordinal_col: str = ORDINAL_COLUMN,
) -> DataFrame:
    """row_number-window LWW: keep the max-ordinal row per key."""
    keys = key_cols or KEY_COLUMNS
    w = Window.partitionBy(*keys).orderBy(F.col(ordinal_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_agg(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ordinal_col: str = ORDINAL_COLUMN,
) -> DataFrame:
    """max_by-aggregation LWW: same result, map-side partial aggregation.

    ``ordinal`` is globally unique (a commit ordinal), so max_by is
    deterministic — no tie to break.
    """
    keys = key_cols or KEY_COLUMNS
    payload = [c for c in df.columns if c not in keys]
    winner = F.max_by(F.struct(*payload), F.col(ordinal_col)).alias("_w")
    out = df.groupBy(*keys).agg(winner)
    return out.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in payload])
