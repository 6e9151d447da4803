"""Salted repartitioning to defeat hot-key skew (SURVEY.md §4 P9).

The reference is sequential and has no skew problem; the north rule mandates
salting because a source-code changelog is Zipf-hot (one monorepo dominates).
Partitioning the heavy Arrow extraction stage by ``(repo, path)`` alone would
put a hot repo's entire event volume on one task; adding a salt derived from
the *ordinal* spreads each hot key's events over ``n_salts`` tasks.

Correctness invariant (SURVEY.md §7.3 item 4): salting must never change
merge semantics.  The salt only balances the *map* stage; LWW dedup and the
MERGE both run on the unsalted key afterwards.
``tests/test_fixtures.py::test_salted_equals_unsalted`` property-tests
salted ≡ unsalted output bit-for-bit.  With the fused "window" merge the
pre-extraction salt shuffle is redundant (nothing keyed consumes its
partitioning) and the default ``n_salts=0`` skips it —
BENCH/ab_salt_shuffle.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.schemas import KEY_COLUMNS, ORDINAL_COLUMN

SALT_COLUMN = "_salt"


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    n_salts: int = 16,
    key_cols: list[str] | None = None,
    ordinal_col: str = ORDINAL_COLUMN,
) -> DataFrame:
    """Repartition on (key..., salt) where salt = xxhash64(ordinal) % n_salts.

    Deriving the salt from the ordinal (unique per event) rather than a
    random number keeps the plan deterministic and replayable.

    With ``num_partitions=None`` the partition count is left to
    ``spark.sql.shuffle.partitions`` + AQE coalescing, which right-sizes the
    tasks by byte volume — a fixed count that is right at 100 TB is wrong at
    test scale and vice versa.
    """
    keys = key_cols or KEY_COLUMNS
    salted = df.withColumn(
        SALT_COLUMN, F.pmod(F.xxhash64(F.col(ordinal_col)), F.lit(n_salts))
    )
    if num_partitions is None:
        return salted.repartition(*keys, SALT_COLUMN)
    return salted.repartition(num_partitions, *keys, SALT_COLUMN)


def desalt(df: DataFrame) -> DataFrame:
    """Drop the salt before key-semantic stages (LWW window, MERGE)."""
    if SALT_COLUMN in df.columns:
        return df.drop(SALT_COLUMN)
    return df
