"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters (spark-submit --py-files); in the
sandbox it runs local[N].  All settings below are plain public Spark confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that matter at 100 TB and are harmless at test scale:
#  - AQE on: runtime partition coalescing + skew-join splitting.
#  - Arrow on: every pandas UDF / mapInPandas stage moves columnar batches.
#  - shuffle.partitions: sized for the sandbox; on a real cluster this is
#    set by spark-submit (or left to AQE's coalescing from a high initial).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    # Parquet scans: vectorized reader + filter pushdown are on by default in
    # Spark 4.x; kept explicit because the bench relies on them.
    "spark.sql.parquet.filterPushdown": "true",
    # zstd over the default snappy: interleaved A/B on the 4M-event replay
    # measured ~equal wall time with 39% fewer output bytes (635 MB vs
    # 1049 MB) — at 100 TB that is 39% less IO on every sink write, bucket
    # rescan, change feed, and snapshot read.
    "spark.sql.parquet.compression.codec": "zstd",
    # Shuffle/IO codec zstd over the lz4 default: interleaved order-alternating
    # A/B on the 8M-event replay (BENCH/ab_shuffle_codec.md) — the merge
    # shuffle carries the full content payload and the high-thread level is
    # memory-bandwidth-bound, so fewer shuffle bytes at more CPU/byte wins
    # there (both rounds, incl. against the drift handicap) and is a wash at
    # the CPU-bound low-thread level.  JVM-start conf: builder path only.
    "spark.io.compression.codec": "zstd",
    # A scan of up to 4096 dirs lists its files on the driver; Spark's
    # default of 32 hands more to a parallel listing job.  The sink's tables
    # sit where the driver reaches them through os.* (it lists, renames and
    # publishes manifests that way), so listing a dir is a syscall: on 64
    # bucket dirs a schema-supplied read built in 342-510 ms with the job
    # and in 35-52 ms without it (4-core local host).  4096 covers a load of
    # every bucket of a table of up to 4096 buckets.  The conf is
    # session-wide: scans of a remote store (the root-scan fallbacks of
    # read_epoch and list_epochs, a user's own read) are listed on the
    # driver too, one round trip per dir, up to 4096 dirs.  On such a store
    # set it explicitly; apply_runtime_defaults keeps an explicit value.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
    "spark.ui.enabled": "false",
}


# Confs that cannot be changed after the JVM starts; apply_runtime_defaults
# must not touch them on a live session.
_STATIC_KEYS = {"spark.driver.memory", "spark.ui.enabled", "spark.io.compression.codec"}


def apply_runtime_defaults(spark: SparkSession) -> None:
    """Apply ``_DEFAULTS``' runtime-settable confs to an existing session.

    For entrypoints that build a bare session (scripts/run_replay.py under
    spark-submit), this backfills the engine's tuned defaults WITHOUT
    overriding anything the operator set explicitly — confs passed via
    ``spark-submit --conf`` / SparkConf land in ``sparkContext.getConf()``
    and are skipped, so cluster overrides always win.

    ``spark.sql.shuffle.partitions`` is cluster-size-dependent and is only
    defaulted on local masters; on a real cluster it must come from the
    submit command (or be left to AQE coalescing from Spark's default).
    """
    explicit = spark.sparkContext.getConf()
    local = explicit.get("spark.master", "").startswith("local")
    for k, v in _DEFAULTS.items():
        if k in _STATIC_KEYS or explicit.contains(k):
            continue
        if k == "spark.sql.shuffle.partitions" and not local:
            continue
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "jurisprudencia-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` in the sandbox;
    under spark-submit on a cluster the master comes from the submit command
    and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
