"""Structured Streaming variant of the CDC replay (SURVEY.md §2.8 T2).

The batch replay treats one epoch as the unit of commit; the streaming
variant treats one micro-batch the same way: ``readStream`` over the
changelog directory → ``foreachBatch`` → the SAME ``process_epoch`` path
(salt → extract → LWW → MERGE → manifest), with the micro-batch id as the
epoch stamp.  ``Trigger.AvailableNow`` drains everything currently present
and stops — the streaming analog of the reference's "page until deltaLink
then persist tokens" sweep (sharepoint.ts:416-461).

Exactly-once composes from both layers: Spark's streaming checkpoint
guarantees each file lands in exactly one micro-batch, and the sink's
batch-id stamp makes re-delivery of a whole micro-batch (after a crash
between sink commit and checkpoint commit) a no-op — the classic idempotent-
foreachBatch pattern.

Watermarks are unnecessary: LWW on (key, ordinal) makes late data a merge
predicate, not a state-eviction problem (SURVEY.md §2.8 T8).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from jurisprudencia_privada_etl_spark.plans.replay import ReplayConfig, open_sink, process_epoch
from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink
from jurisprudencia_privada_etl_spark.schemas import CHANGELOG_SCHEMA


def stream_replay(
    spark: SparkSession,
    changelog_path: str,
    table_path: str,
    checkpoint_path: str,
    cfg: ReplayConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    source_df=None,
    views: "list | None" = None,
):
    """Start (and with ``available_now`` run to completion) a streaming
    replay.  Returns the StreamingQuery.

    ``source_df`` swaps the default parquet-directory tail for any other
    streaming DataFrame with CHANGELOG_SCHEMA columns — e.g. a Kafka topic
    of Debezium envelopes normalized by ``sources.debezium.parse_debezium``
    (a pure column transform, so it composes with readStream unchanged);
    ``changelog_path`` is ignored in that case.

    ``views``: MaterializedView instances (operators/mview.py) over this
    sink to keep continuously current — each is ``refresh()``ed after every
    committed micro-batch, consuming only that batch's change feed.  The
    composition stays exactly-once end to end: a re-delivered micro-batch
    no-ops at the sink's epoch stamp AND at each view's synced-version
    stamp, so crashing between sink commit and view refresh just replays
    the refresh from the same closed feed window."""
    cfg = cfg or ReplayConfig()
    sink = open_sink(spark, table_path, cfg)

    if source_df is not None:
        stream = source_df
    else:
        reader = (
            spark.readStream.schema(CHANGELOG_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(changelog_path)

    writer = stream.writeStream.foreachBatch(
        functools.partial(apply_batch, spark, sink, cfg, views or [])
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def apply_batch(
    spark: SparkSession,
    sink: HadoopParquetSink,
    cfg: ReplayConfig,
    views: list,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """One micro-batch = one epoch: the exactly-once and empty guards, then
    ``process_epoch`` with the batch id as the epoch, then the view
    refresh."""
    if sink.last_committed_epoch() >= batch_id:
        return  # re-delivered micro-batch after partial failure: no-op
    stats = None
    if cfg.validate:
        # valid-row stats cannot tell an empty batch from an all-invalid
        # one, whose dead letters must still be written
        if batch_df.isEmpty():
            return
    else:
        # the empty check rides the stats scan the merge needs anyway
        stats = sink.key_stats(batch_df)
        if not stats[0]:
            return
    process_epoch(spark, sink, batch_df, batch_id, cfg, stats=stats)
    for view in views:
        view.refresh()


def stream_metrics(spark: SparkSession, table_path: str) -> "list[dict]":
    """Per-micro-batch lineage recorded by the sink manifests."""
    from jurisprudencia_privada_etl_spark.plans import manifest as mf

    out = []
    v = mf.current_version(table_path)
    while v is not None and v >= 0:
        m = mf.load(table_path, v)
        if m is None:
            break
        if m.metrics:
            out.append({"version": m.version, **m.metrics})
        v = m.parent_version
    return list(reversed(out))
