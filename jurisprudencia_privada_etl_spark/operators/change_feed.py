"""Change data feed: emit the row-level delta between two table snapshots.

The reverse of the replay direction — the engine's tables are themselves a
CDC *source* for downstream consumers (the Delta Lake "change data feed" /
Iceberg "changelog scan" shape).  Two layers:

* ``diff_states`` — pure DataFrame diff of two keyed states; engine-agnostic,
  oracle-testable (the ``change_feed`` driver query pairs it with a DuckDB
  full-outer-join oracle).
* ``change_feed`` — snapshot-aware wrapper over ``HadoopParquetSink``: reads
  ONLY the buckets whose manifest entries differ between the two versions,
  so the scan cost is O(changed data), not O(table).  At 100 TB with a 1%
  epoch touch rate, the feed for one epoch reads ~1% of the files — the same
  pruning the merge itself enjoys.

Change-type vocabulary follows the public Delta CDF convention:
``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``.

Reference parity note: the reference has no table-diff surface (its sink is
a remote search index); this operator is part of the round-3 "what a lake
engine at this scale additionally needs" family (SURVEY.md §8).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.schemas import KEY_COLUMNS

CHANGE_TYPE_COLUMN = "_change_type"


def diff_states(
    old: DataFrame, new: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Row-level delta from ``old`` to ``new``, both one-row-per-key.

    One full-outer join on the keys, one pass: a key only in ``new`` emits
    an ``insert`` row (new image), only in ``old`` a ``delete`` row (old
    image), present in both with any payload difference an
    ``update_preimage`` (old image) plus ``update_postimage`` (new image)
    pair, identical rows emit nothing.  Payload columns are taken from
    ``new``; columns ``old`` lacks (schema evolution between the snapshots)
    compare as null.  Struct equality is null-safe (``<=>``), so null
    payloads do not read as spurious updates.
    """
    keys = keys or KEY_COLUMNS
    pay = [c for c in new.columns if c not in keys]
    o = old
    for c in pay:
        if c not in o.columns:
            o = o.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    o = o.select(*keys, F.struct(*pay).alias("_o"))
    n = new.select(*keys, F.struct(*pay).alias("_n"))
    j = o.join(n, on=keys, how="full_outer")

    def tagged(tag: str, img: str) -> F.Column:
        return F.struct(F.lit(tag).alias("t"), F.col(img).alias("img"))

    changes = (
        F.when(F.col("_o").isNull(), F.array(tagged("insert", "_n")))
        .when(F.col("_n").isNull(), F.array(tagged("delete", "_o")))
        .when(
            ~F.col("_o").eqNullSafe(F.col("_n")),
            F.array(tagged("update_preimage", "_o"), tagged("update_postimage", "_n")),
        )
        .otherwise(F.array().cast(f"array<struct<t:string,img:struct<{_ddl(new, pay)}>>>"))
    )
    return (
        j.select(*keys, F.explode(changes).alias("_c"))
        .select(*keys, "_c.img.*", F.col("_c.t").alias(CHANGE_TYPE_COLUMN))
    )


def _ddl(df: DataFrame, cols: list[str]) -> str:
    return ",".join(f"`{c}`:{df.schema[c].dataType.simpleString()}" for c in cols)


def feed_as_changelog(feed: DataFrame, epoch: int, keys: list[str] | None = None) -> DataFrame:
    """Convert a change feed into replayable changelog rows — the producer
    half of table replication.  insert/update_postimage become I/U rows
    carrying the row image, delete becomes a D tombstone; update_preimage
    rows are dropped (the postimage is the event).  The emitted rows keep
    their source ``ordinal``, so the consumer's LWW/merge applies them with
    the SAME idempotence and out-of-order guarantees as any other source —
    replaying a feed twice, or applying feeds out of order, converges."""
    from jurisprudencia_privada_etl_spark.plans.sink import BOOKKEEPING

    keys = keys or KEY_COLUMNS
    op = (
        F.when(F.col(CHANGE_TYPE_COLUMN) == "insert", F.lit("I"))
        .when(F.col(CHANGE_TYPE_COLUMN) == "update_postimage", F.lit("U"))
        .when(F.col(CHANGE_TYPE_COLUMN) == "delete", F.lit("D"))
    )
    # logical payload only: the consumer's own extraction stage re-derives
    # the engine bookkeeping (content_sha etc.) — shipping it would collide
    drop = {CHANGE_TYPE_COLUMN, "_from_version", "_to_version", "ordinal",
            *keys, *[n for n, _ in BOOKKEEPING]}
    cols = [c for c in feed.columns if c not in drop]
    return (
        feed.where(F.col(CHANGE_TYPE_COLUMN) != "update_preimage")
        .select(
            F.lit(epoch).cast("long").alias("epoch"),
            F.col("ordinal").cast("long").alias("ordinal"),
            op.alias("op"),
            *keys,
            *cols,
        )
    )


def snapshot_as_changelog(sink, epoch: int = 0, version: int | None = None) -> DataFrame:
    """Bootstrap a replica: the full snapshot as insert events (Debezium's
    snapshot-read 'r' phase).  Ordinals are the source rows' own, so
    incremental feeds emitted later (with higher ordinals) apply cleanly on
    top of the bootstrap."""
    from jurisprudencia_privada_etl_spark.plans.sink import BOOKKEEPING, BUCKET_COLUMN

    snap = sink.load(version=version).drop(BUCKET_COLUMN)
    drop = {*KEY_COLUMNS, "ordinal", *[n for n, _ in BOOKKEEPING]}
    cols = [c for c in snap.columns if c not in drop]
    return snap.select(
        F.lit(epoch).cast("long").alias("epoch"),
        F.col("ordinal").cast("long").alias("ordinal"),
        F.lit("I").alias("op"),
        *KEY_COLUMNS,
        *cols,
    )


def change_feed(
    sink,
    from_version: int,
    to_version: int | None = None,
    on_vacuum: str = "error",
    on_rollback: str = "error",
    delete_image: str = "auto",
) -> DataFrame:
    """Delta between two committed snapshots of a ``HadoopParquetSink``.

    Bucket-pruned: the two manifests are compared driver-side (pure
    metadata) and only buckets whose file entries differ are scanned at
    either version.  Maintenance-only versions (compaction rewrote files,
    rows unchanged) scan the rewritten buckets and correctly emit nothing.

    A ``rebucket()`` between the snapshots makes bucket ids incomparable;
    the feed then automatically falls back to an UNPRUNED diff of the two
    full snapshots (same rows, O(table) scan instead of O(changed)) — a
    warning is logged about the lost pruning.

    Hard contract on vacuum (the replication-divergence guard): a
    ``vacuum()`` between the two versions may have GC'd tombstones inside
    the feed window, and a delete whose tombstone is gone can only ride out
    with the OLD image's ordinal — which LOSES the strict
    ``s.ordinal > t.ordinal`` merge guard on a downstream replica, silently
    keeping the deleted row there forever.  Feeds must therefore be emitted
    before vacuum's horizon passes the feed window; when a vacuum snapshot
    is detected in (from_version, to_version] this raises, telling the
    consumer to re-bootstrap via ``snapshot_as_changelog``.
    ``on_vacuum="allow"`` emits the feed anyway (fine for non-replication
    consumers that only read the feed as an audit log).

    Hard contract on rollback (same divergence class): a ``rollback()``
    between the two versions REVERTS rows to images with OLDER ordinals,
    and both the resulting update images and the deletes of rolled-past
    inserts lose the replica's strict ``s.ordinal > t.ordinal`` guard —
    the replica silently keeps the rolled-back state forever.  When a
    rollback snapshot is detected in (from_version, to_version] this
    raises, telling the consumer to re-bootstrap via
    ``snapshot_as_changelog``; ``on_rollback="allow"`` emits the feed
    anyway (audit consumers, or appliers without the ordinal guard).

    ``delete_image`` picks which row image a ``delete`` change carries:
    ``"auto"`` (default) prefers the retained tombstone — its ordinal is the
    delete's own, which downstream replication (``feed_as_changelog``) needs
    to win the strict ``s.ordinal > t.ordinal`` merge guard; ``"preimage"``
    always emits the OLD live image — the values being removed, which
    incremental view maintenance (operators/mview.py) subtracts from
    self-maintainable aggregates.  A preimage consumer never reads tombstone
    ordinals, so it may safely pass ``on_vacuum="allow"``.
    """
    import logging

    from jurisprudencia_privada_etl_spark.plans.sink import BUCKET_COLUMN

    if delete_image not in ("auto", "preimage"):
        raise ValueError(f"delete_image must be 'auto' or 'preimage', got {delete_image!r}")

    m0 = sink.manifest(from_version)
    m1 = sink.manifest(to_version)
    vacuums = [
        s["version"]
        for s in sink.snapshots()
        if m0.version < s["version"] <= m1.version and "vacuum_below" in s["metrics"]
    ]
    if vacuums and on_vacuum != "allow":
        raise ValueError(
            f"vacuum snapshot(s) {vacuums} lie between versions {m0.version} and "
            f"{m1.version}: GC'd tombstones cannot carry their delete ordinal, so "
            "a replica applying this feed could diverge.  Emit feeds before "
            "vacuuming past their window, re-bootstrap the replica with "
            "snapshot_as_changelog(), or pass on_vacuum='allow' for "
            "non-replication (audit) consumption."
        )
    rollbacks = [
        s["version"]
        for s in sink.snapshots()
        if m0.version < s["version"] <= m1.version and "rollback_of" in s["metrics"]
    ]
    if rollbacks and on_rollback != "allow":
        raise ValueError(
            f"rollback snapshot(s) {rollbacks} lie between versions {m0.version} "
            f"and {m1.version}: reverted rows carry OLDER ordinals that lose the "
            "replica's strict s.ordinal > t.ordinal merge guard, so a replica "
            "applying this feed would silently keep the rolled-back state.  "
            "Re-bootstrap the replica with snapshot_as_changelog(), or pass "
            "on_rollback='allow' for non-replication (audit) consumption."
        )
    if m0.n_buckets != m1.n_buckets:
        # rebucket between the snapshots: bucket ids aren't comparable, so
        # prune nothing and diff the two full snapshots instead
        logging.getLogger(__name__).warning(
            "change_feed: versions %s and %s have different bucket counts "
            "(%d vs %d; rebucket in between) — falling back to an unpruned "
            "full-snapshot diff",
            m0.version, m1.version, m0.n_buckets, m1.n_buckets,
        )
        changed = None
    else:
        changed = sorted(
            int(b)
            for b in set(m0.buckets) | set(m1.buckets)
            if m0.buckets.get(b) != m1.buckets.get(b)
        )
    keys = KEY_COLUMNS
    old = sink.load(buckets=changed, version=from_version).drop(BUCKET_COLUMN)
    # the NEW side reads tombstones too: a delete event must ride out with
    # the TOMBSTONE's ordinal — the old image's ordinal would lose the
    # `s.ordinal > t.ordinal` merge guard on a downstream replica and the
    # delete would silently no-op there (feed_as_changelog replication).
    new = sink.load(
        buckets=changed, version=m1.version, include_tombstones=True
    ).drop(BUCKET_COLUMN)
    pay = [c for c in new.columns if c not in keys and c != "deleted"]
    o = old
    for c in pay:
        if c not in o.columns:
            o = o.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    o = o.select(*keys, F.struct(*pay).alias("_o"))
    n = new.select(
        *keys,
        F.struct(*pay).alias("_n"),
        F.coalesce(F.col("deleted"), F.lit(False)).alias("_del"),
    )
    j = o.join(n, on=keys, how="full_outer")
    live_n = F.col("_n").isNotNull() & ~F.coalesce(F.col("_del"), F.lit(False))
    gone_n = F.col("_n").isNull() | F.coalesce(F.col("_del"), F.lit(False))

    def tagged(tag: str, img: F.Column) -> F.Column:
        return F.struct(F.lit(tag).alias("t"), img.alias("img"))

    changes = (
        F.when(F.col("_o").isNull() & live_n, F.array(tagged("insert", F.col("_n"))))
        .when(
            F.col("_o").isNotNull() & gone_n,
            # auto: tombstone image when retained (correct ordinal); old image
            # only when the tombstone was already vacuumed between the versions
            F.array(tagged(
                "delete",
                F.col("_o") if delete_image == "preimage"
                else F.coalesce(F.col("_n"), F.col("_o")),
            )),
        )
        .when(
            F.col("_o").isNotNull() & live_n & ~F.col("_o").eqNullSafe(F.col("_n")),
            F.array(
                tagged("update_preimage", F.col("_o")),
                tagged("update_postimage", F.col("_n")),
            ),
        )
        .otherwise(F.array().cast(f"array<struct<t:string,img:struct<{_ddl(new, pay)}>>>"))
    )
    return (
        j.select(*keys, F.explode(changes).alias("_c"))
        .select(*keys, "_c.img.*", F.col("_c.t").alias(CHANGE_TYPE_COLUMN))
        .withColumn("_from_version", F.lit(from_version))
        .withColumn("_to_version", F.lit(m1.version))
    )


# -- consumer cursors (CDC-out offset tracking / consumer groups) -------------

CONSUMERS_DIR = os.path.join("_manifest", "consumers")


def consumer_cursor(sink, consumer: str) -> int | None:
    """Last snapshot version shipped to ``consumer``, or None (never fed)."""
    p = os.path.join(sink.table_path, CONSUMERS_DIR, f"{consumer}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["version"])


def advance_consumer(sink, consumer: str, version: int) -> None:
    """Record that ``consumer`` has been shipped everything up to
    ``version``.  Atomic write-then-rename; monotonic (a cursor never moves
    backwards — a stale duplicate shipper cannot rewind a newer cursor)."""
    cur = consumer_cursor(sink, consumer)
    if cur is not None and version < cur:
        raise ValueError(f"cursor for {consumer!r} is at v{cur}; refusing rewind to v{version}")
    d = os.path.join(sink.table_path, CONSUMERS_DIR)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"{consumer}.json")
    tmp = f"{final}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"consumer": consumer, "version": version}, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)


def feed_for_consumer(sink, consumer: str, **feed_kwargs):
    """The next feed window for a named consumer: (feed, from_v, to_v).

    A never-seen consumer starts at version 0 — the diff against the empty
    create snapshot IS the bootstrap (every live row as an insert), so new
    consumers need no separate snapshot path.  The caller ships the feed,
    then calls ``advance_consumer(sink, consumer, to_v)``; a crash between
    the two re-emits the SAME window, which the envelope/changelog apply
    path absorbs idempotently (LWW ordinal guard) — at-least-once shipping,
    exactly-once effect.  Returns (None, v, v) when the consumer is already
    caught up.
    """
    from_v = consumer_cursor(sink, consumer) or 0
    to_v = sink.manifest().version
    if to_v <= from_v:
        return None, from_v, from_v
    if from_v == 0:
        # bootstrap diff-from-empty emits no deletes, so a vacuum anywhere
        # in history cannot lose one — the guard doesn't apply
        feed_kwargs.setdefault("on_vacuum", "allow")
    return change_feed(sink, from_v, to_v, **feed_kwargs), from_v, to_v
