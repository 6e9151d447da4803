"""Changelog storage: epoch-partitioned parquet with pruned epoch reads.

The reference resumes its delta walk from a saved ``next_link``/``delta_link``
token (src/sharepoint/sharepoint.ts:149, 408).  Here the source of truth is an
epoch-partitioned table; "resume" = read only epochs beyond the manifest's
``last_committed_epoch``.  Partitioning by ``epoch`` makes that a partition-
pruned scan (SURVEY.md §4 P1): ``WHERE epoch = E`` touches exactly one
directory, regardless of total changelog size — the property that keeps a
10^10-event changelog tail O(epoch), not O(history).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.schemas import KEY_COLUMNS

# Granularity of the stored key-stats sidecar (see write_changelog).  The
# sink's bucket id is pmod(xxhash64(keys), n_buckets); storing counts at
# pmod(xxhash64(keys), STAT_BUCKETS) lets a reader fold them to ANY
# n_buckets that divides STAT_BUCKETS (pmod(h, n) == pmod(pmod(h, m), n)
# when n | m), so the sidecar is written once and serves every bucket
# layout the sink actually uses (powers of two up to 4096).
STAT_BUCKETS = 4096

_STATS_DIR = "_key_stats"


def _stat_bucket() -> F.Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in KEY_COLUMNS]), F.lit(STAT_BUCKETS)).cast(
        "int"
    )


def write_changelog(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a changelog partitioned by epoch (hive-style directories).

    A ``_content_bytes`` column (payload size, computed once at write time)
    is stored alongside the events: the per-epoch lineage/stats pass
    (``HadoopParquetSink.key_stats``) then reads THREE small columns instead
    of decompressing the whole ``content`` column a second time — at
    10^10 events that pass would otherwise re-scan the entire payload
    volume once per epoch.  Changelogs from other writers simply lack the
    column and key_stats falls back to ``octet_length(content)``.

    Appends conform to the EXISTING table's schema: mixing files with and
    without ``_content_bytes`` under one path would make the stats pass
    depend on which footer Spark resolves (nulls silently undercounting
    byte lineage, or the fast path silently off) — a pre-fast-path
    changelog therefore stays uniformly without the column, and the
    consumer's ``octet_length`` fallback stays correct for every row.
    """
    if mode == "append":
        try:
            existing = set(df.sparkSession.read.parquet(path).schema.fieldNames())
        except Exception:  # first write: path doesn't exist yet
            existing = None
        # appended files carry no sidecar entries, so a stale sidecar would
        # silently undercount the appended epochs — invalidate it (readers
        # fall back to the scan path); a writer that wants the fast path
        # back rewrites the changelog in full.
        shutil.rmtree(os.path.join(path, _STATS_DIR), ignore_errors=True)
        if existing is not None and "_content_bytes" not in existing:
            df = df.drop("_content_bytes")
            df.write.mode(mode).partitionBy("epoch").parquet(path)
            return
    if "content" in df.columns and "_content_bytes" not in df.columns:
        df = df.withColumn("_content_bytes", F.octet_length("content"))
    df.write.mode(mode).partitionBy("epoch").parquet(path)
    if mode == "overwrite":
        write_key_stats(df.sparkSession, path)


def write_key_stats(spark: SparkSession, path: str) -> None:
    """Compute and store the key-stats sidecar for a written changelog.

    Two tiny parquet tables under ``<path>/_key_stats`` (the underscore
    prefix hides the directory from changelog scans, the same convention
    parquet uses for ``_SUCCESS``/``_metadata``):

    * ``buckets``: (epoch, stat_bucket, n, bytes) — ≤ STAT_BUCKETS rows per
      epoch regardless of event count.
    * ``files``: (epoch, file, n, bytes) — one row per data file.

    Together they are what Iceberg/Delta keep as file-level manifest stats:
    the per-epoch planning pass (which buckets does this epoch touch, how
    many events/bytes per input split) becomes a driver-side read of a few
    KB of metadata instead of an O(events) scan of the epoch — the scan
    that otherwise runs un-hidden before the FIRST epoch's merge and
    re-reads 10^10 rows per replay at the north rule's scale.  Computed
    here at write time (one column-pruned pass over what was just written,
    amortized into ingest) exactly as a lake writer maintains its manifest
    stats on commit.
    """
    back = spark.read.parquet(path)
    if not all(k in back.columns for k in KEY_COLUMNS):
        return
    bytes_expr = (
        F.col("_content_bytes")
        if "_content_bytes" in back.columns
        else (F.octet_length("content") if "content" in back.columns else F.lit(0))
    )
    refined = (
        back.groupBy(
            F.col("epoch"),
            F.input_file_name().alias("file"),
            _stat_bucket().alias("stat_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(bytes_expr).alias("bytes"))
        .persist()  # one scan feeds both rollups
    )
    refined.groupBy("epoch", "stat_bucket").agg(
        F.sum("n").alias("n"), F.sum("bytes").alias("bytes")
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, _STATS_DIR, "buckets"))
    refined.groupBy("epoch", "file").agg(
        F.sum("n").alias("n"), F.sum("bytes").alias("bytes")
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, _STATS_DIR, "files"))
    refined.unpersist()


def read_epoch_stats(
    path: str, epoch: int, n_buckets: int
) -> tuple[list[int], list[dict]] | None:
    """Touched buckets + per-file lineage for one epoch from the sidecar —
    a driver-side pyarrow read of a few KB, NO Spark job.  Returns None
    (caller falls back to the scan-based ``HadoopParquetSink.key_stats``)
    when the sidecar is absent (foreign/appended changelog), the requested
    ``n_buckets`` does not divide STAT_BUCKETS, or the epoch has no entry.
    Fold correctness: pmod(h, n) == pmod(pmod(h, STAT_BUCKETS), n) whenever
    n divides STAT_BUCKETS, so the folded touched-set is exactly the one
    the scan would compute.
    """
    stats_dir = os.path.join(path, _STATS_DIR)
    if n_buckets <= 0 or STAT_BUCKETS % n_buckets != 0:
        return None
    if not os.path.isdir(os.path.join(stats_dir, "buckets")):
        return None
    try:
        import pyarrow.dataset as ds

        btab = ds.dataset(os.path.join(stats_dir, "buckets"), format="parquet").to_table(
            filter=ds.field("epoch") == epoch, columns=["stat_bucket"]
        )
        ftab = ds.dataset(os.path.join(stats_dir, "files"), format="parquet").to_table(
            filter=ds.field("epoch") == epoch, columns=["file", "n", "bytes"]
        )
    except Exception:
        return None
    if btab.num_rows == 0:
        return None
    touched = sorted({int(sb) % n_buckets for sb in btab.column("stat_bucket").to_pylist()})
    files = sorted(
        zip(
            ftab.column("file").to_pylist(),
            ftab.column("n").to_pylist(),
            ftab.column("bytes").to_pylist(),
        )
    )
    lineage = [
        {"partition": i, "events": int(n), "bytes": int(b or 0)}
        for i, (_, n, b) in enumerate(files)
    ]
    return touched, lineage


def read_epoch(
    spark: SparkSession, path: str, epoch: int, merge_schema: bool = False
) -> DataFrame:
    """Scan of a single epoch: its ``epoch=N`` dir alone, with ``basePath``
    keeping ``epoch`` a partition column, so partition discovery lists one
    dir and does not grow with the changelog's epoch count.  A changelog
    without that dir (another layout, a remote store) falls back to a
    partition-pruned scan of the root.

    ``merge_schema`` handles changelogs whose later epochs carry evolved
    columns (schema-evolution epochs, SURVEY.md T6): parquet footer merging
    surfaces the union schema of the epoch's files so the new columns are
    readable.  Off by default — footer merging reads every file's metadata.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    epoch_dir = os.path.join(path, f"epoch={epoch}")
    if os.path.isdir(epoch_dir):
        df = reader.option("basePath", path).parquet(epoch_dir)
    else:
        df = reader.parquet(path)
    return df.where(F.col("epoch") == epoch)


def list_epochs(spark: SparkSession, path: str) -> list[int]:
    """Distinct epochs present, ascending.

    Hive-style layout makes this a directory listing (``epoch=N`` dirs) —
    resolved driver-side for local paths with no Spark job; the partition-
    discovery scan remains the fallback for remote filesystems."""
    if os.path.isdir(path):
        epochs = []
        for name in os.listdir(path):
            if name.startswith("epoch=") and os.path.isdir(os.path.join(path, name)):
                try:
                    epochs.append(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
        if epochs:
            return sorted(epochs)
    rows = spark.read.parquet(path).select("epoch").distinct().collect()
    return sorted(r["epoch"] for r in rows)
