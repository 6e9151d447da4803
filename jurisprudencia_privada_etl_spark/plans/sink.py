"""Pluggable lake sink with MERGE semantics (SURVEY.md §7.0).

Two implementations behind one interface, identical merge semantics:

* ``IcebergSink`` — the production path: real ``MERGE INTO`` + ``ALTER
  TABLE`` + snapshot-property epoch stamps, used when an
  iceberg-spark-runtime jar is on the classpath.
* ``HadoopParquetSink`` — the sandbox default: a hash-bucketed parquet table
  with a versioned JSON manifest emulating Iceberg's copy-on-write commit.

Why hash-bucketed: MERGE must not rewrite the table.  The target is bucketed
by ``pmod(xxhash64(repo, path), n_buckets)``; an epoch's merge reads and
rewrites ONLY the buckets containing changed keys and carries every other
bucket forward by reference in the manifest — the same file-pruning shape
Iceberg's merge-on-read/copy-on-write gives, so the emulation's cost model
matches the production path instead of degenerating into a full-table
rewrite per epoch.  At 100 TB with n_buckets sized to ~1 GB per bucket file
set, an epoch touching 1% of keys rewrites ~1% of files.

Merge semantics (the reference's deterministic-id insert-or-replace,
src/juris.ts:6-14, upgraded with first-class tombstones and cross-epoch LWW):

  MERGE INTO target t USING updates s ON t.repo=s.repo AND t.path=s.path
    WHEN MATCHED  AND s.ordinal > t.ordinal THEN UPDATE SET *   -- incl. soft-delete
    WHEN NOT MATCHED THEN INSERT *                              -- incl. tombstones

with deletes retained as soft-delete rows (readers filter them; vacuum()
GCs them past an ordinal horizon) so stale lower-ordinal events can never
resurrect a deleted key.  Two copy-on-write strategies, property-tested
equal:

  * "window" (default, the production path): union(target, events) → ONE
    shuffle on the storage bucket → per-key max-ordinal window
    (HashPartitioning(_bucket) already satisfies the window's (bucket, key)
    clustering, so no second exchange) → winners written directly, already
    laid out per bucket.  LWW + upsert + write layout in a single shuffle
    per epoch.
  * "join": the textbook full-outer-join emulation — the independent
    reference the strategies-agree tests compare "window" against.

``write_mode="mor"`` replaces both with an appended per-bucket delta.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jurisprudencia_privada_etl_spark.functions.hashing import xxhash64_strings_py
from jurisprudencia_privada_etl_spark.operators.lww import lww_dedup_agg
from jurisprudencia_privada_etl_spark.plans import manifest as mf
from jurisprudencia_privada_etl_spark.schemas import (
    OP_DELETE,
    KEY_COLUMNS,
    SchemaChange,
    TableSchema,
    _parse_type,
    apply_changes,
)

BUCKET_COLUMN = "_bucket"
MERGE_STRATEGIES = ("window", "join")
WRITE_MODES = ("cow", "mor")
_TRACE = os.environ.get("SINK_TRACE") == "1"


def _trace(label: str, t0: float) -> float:
    if _TRACE:
        print(f"    [sink] {label}: {time.time() - t0:.1f}s", file=sys.stderr)
    return time.time()

# Engine-maintained columns stored alongside the logical payload:
#  * ordinal/content_sha — merge bookkeeping + the sha256 invariant
#  * the rest — the extraction stage's document-index fields, the analog of
#    the assembled document the reference indexes (title/summary flag/area/
#    date, aux.ts:43-115); storing them is what makes the Arrow extraction a
#    real part of the replay plan instead of getting column-pruned away.
BOOKKEEPING = [
    ("ordinal", "bigint"),
    ("content_sha", "string"),
    # soft-delete marker: tombstones are RETAINED with their ordinal so a
    # stale lower-ordinal event arriving in a later epoch/micro-batch cannot
    # resurrect a deleted key ("WHEN MATCHED AND s.ordinal > t.ordinal" needs
    # the tombstone's ordinal to exist).  vacuum() garbage-collects them past
    # a configurable ordinal horizon — the Kafka-compaction/gc_grace model.
    ("deleted", "boolean"),
    ("fingerprint", "bigint"),
    ("title_norm", "string"),
    ("is_summary", "boolean"),
    ("area", "string"),
    ("path_date", "date"),
    ("n_tokens", "int"),
]


# position-delete files (dv_delete): `_bucket` is the partition dir
_DV_SCHEMA = "file string, pos bigint"


def _file_schema(written: TableSchema) -> T.StructType:
    """Physical schema of the data files written under ``written``: its
    payload plus BOOKKEEPING (``_bucket`` is the partition dir, not a file
    column)."""
    return T.StructType(
        written.to_struct().fields
        + [T.StructField(n, _parse_type(t), True) for n, t in BOOKKEEPING]
    )


def _q(name: str) -> str:
    """A column name quoted for a SQL expression."""
    return "`" + name.replace("`", "``") + "`"


def _bytes_expr(batch: DataFrame) -> F.Column:
    """Event payload bytes for lineage: the stored ``_content_bytes`` when
    the changelog carries it (``content`` is then never decompressed),
    else ``octet_length(content)``, else 0."""
    if "_content_bytes" in batch.columns:
        return F.col("_content_bytes")
    if "content" in batch.columns:
        return F.octet_length("content")
    return F.lit(0)


def _fold_stats(rows: list) -> tuple[list[int], list[dict[str, Any]]]:
    """(touched buckets, per-partition lineage) from grouped (p, b, n, bytes)
    stats rows."""
    part_agg: dict[int, list[int]] = {}
    for r in rows:
        acc = part_agg.setdefault(r["p"], [0, 0])
        acc[0] += r["n"]
        acc[1] += r["bytes"] or 0
    return sorted({r["b"] for r in rows}), [
        {"partition": p, "events": n, "bytes": b} for p, (n, b) in sorted(part_agg.items())
    ]


def bucket_of(n_buckets: int) -> F.Column:
    """Bucket id expression — MUST be identical everywhere (write + merge)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in KEY_COLUMNS]), F.lit(n_buckets)).cast("int")


def _action(
    is_del: F.Column,
    t_live: F.Column | None = None,
    won_by_update: F.Column | None = None,
) -> F.Column:
    """A merged key's run-counter class: kept / deleted / tombstone_noop /
    updated / created.

    ``t_live``: the key had a live (non-tombstone) target row; None when no
    target row can exist (first write).  ``won_by_update``: the epoch's row
    beat the target; None when the caller already dropped the losers.  A
    None condition leaves its branches out of the CASE rather than folding
    in a constant, so each caller's expression is exactly the chain it needs.
    """
    cases = [] if won_by_update is None else [(~won_by_update, "kept")]
    if t_live is not None:
        cases.append((is_del & t_live, "deleted"))
    cases.append((is_del, "tombstone_noop"))
    if t_live is not None:
        cases.append((t_live, "updated"))
    expr = F.when(cases[0][0], F.lit(cases[0][1]))
    for cond, label in cases[1:]:
        expr = expr.when(cond, F.lit(label))
    return expr.otherwise(F.lit("created"))


class HadoopParquetSink:
    """Parquet + manifest lake table with atomic epoch-stamped commits."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        n_buckets: int = 64,
        merge_strategy: str = "window",  # "window" (1-shuffle bucket window) | "join" (full-outer reference)
        files_per_bucket: int = 1,
        write_mode: str = "cow",  # "cow" (copy-on-write) | "mor" (merge-on-read deltas)
        bloom_filter_ndv: int | None = None,
        target_file_bytes: int | None = None,
        parquet_compression_ratio: float = 3.0,
    ):
        # an unknown value must fail here, before any Spark job, instead of
        # silently running some other strategy or mode
        if merge_strategy not in MERGE_STRATEGIES:
            raise ValueError(
                f"merge_strategy must be one of {MERGE_STRATEGIES}, got {merge_strategy!r}"
            )
        if write_mode not in WRITE_MODES:
            raise ValueError(f"write_mode must be one of {WRITE_MODES}, got {write_mode!r}")
        self.spark = spark
        self.table_path = table_path
        self.n_buckets = n_buckets
        self.merge_strategy = merge_strategy
        # "cow": each merge rewrites every touched bucket in full (reads are
        # plain scans; time travel and change feeds are pure metadata).
        # "mor": each merge APPENDS the epoch's winning rows as per-bucket
        # delta files — write amplification O(epoch events) instead of
        # O(touched-bucket bytes); reads resolve base+deltas with a per-key
        # LWW window until compact() folds the deltas back into the base.
        # At 10^10 events with Zipf-hot repos nearly every bucket is touched
        # every epoch, so CoW rewrites ~the whole table's `content` payload
        # per epoch; MoR is the write-heavy-CDC trade Iceberg v2 format
        # deletes / Hudi MoR tables make, re-expressed on the manifest.
        self.write_mode = write_mode
        # The merge's single shuffle hash-partitions len(touched) distinct
        # bucket values into len(touched) partitions — a balls-into-bins
        # layout whose max load is ~3-4 buckets (and ~37% empty tasks), so
        # the write stage's tail is ~3× its mean and hides WORSE at high
        # thread counts (fewer waves).  files_per_bucket > 1 adds a
        # key-derived sub-split to the partitioning AND the window keys:
        # f× the partitions, each bucket written as f files, same single
        # exchange (the sub key is a function of the row key, so per-key
        # windows stay co-located).  Size it so touched × f ≳ 8× cores.
        self.files_per_bucket = max(1, files_per_bucket)
        # Parquet split-block bloom filters on the key columns.  Inside a
        # bucket rows arrive in key-HASH order, so repo/path min/max row-group
        # stats span nearly the whole domain and prune nothing — a point
        # lookup's pushed equality predicate reads every row group of the
        # key's bucket.  With blooms, parquet-mr's row-group filter answers
        # "definitely absent" from the footer-adjacent bitset with zero page
        # reads, so lookup()/key_history() touch ~1 row group per key no
        # matter how many files/row-groups the bucket holds (deep MoR delta
        # stacks, compacted multi-file buckets).  Cost: ~NDV*1.2 bytes per
        # column per row group at write time, which is why it is opt-in —
        # the replay headline is write-bound and pays the build cost every
        # epoch, while only lookup-heavy deployments collect the benefit.
        # Set to the expected keys per data file (rows_per_file is the right
        # order; parquet caps the bitset at parquet.bloom.filter.max.bytes).
        self.bloom_filter_ndv = bloom_filter_ndv
        # Adaptive per-bucket file sizing (Delta optimized-write / Iceberg
        # write.target-file-size analog): when set, the "window" merge sizes
        # each touched bucket's sub-split count to ~target_file_bytes per
        # output file from the bucket's CURRENT dir bytes (driver stat) plus
        # the epoch's incoming share — hot Zipf buckets fan wider than cold
        # ones inside the same single exchange, superseding the static
        # files_per_bucket.  parquet_compression_ratio deflates the raw
        # incoming byte estimate (content is text; ~3× is typical).
        self.target_file_bytes = target_file_bytes
        self.parquet_compression_ratio = parquet_compression_ratio
        # test hook: raise after data files are written but BEFORE the
        # manifest publish — the mid-epoch-restart fixture's kill point.
        self.crash_before_publish = False

    def _bloom_options(self) -> dict[str, str]:
        """DataFrameWriter options enabling key-column bloom filters (no-op
        dict when disabled) — applied at EVERY data-file write site (merge,
        MoR deltas, vacuum, purge, rebucket, compact) so every file of a
        snapshot carries the same lookup-pruning metadata."""
        if not self.bloom_filter_ndv:
            return {}
        opts: dict[str, str] = {}
        for c in KEY_COLUMNS:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(self.bloom_filter_ndv)
        return opts

    # -- lifecycle -----------------------------------------------------------

    def exists(self) -> bool:
        return mf.current_version(self.table_path) is not None

    def create(self, schema: TableSchema) -> None:
        if self.exists():
            return
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=0,
                last_committed_epoch=-1,
                schema=schema,
                buckets={},
                n_buckets=self.n_buckets,
            ),
        )

    def manifest(self, version: int | None = None) -> mf.Manifest:
        m = mf.load(self.table_path, version)
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.table_path}")
        return m

    def snapshots(self) -> list[dict[str, Any]]:
        """Snapshot history, oldest first — one row per retained manifest
        version (the Iceberg `snapshots` metadata-table analog).  Driver-side
        metadata only; never touches data files."""
        d = os.path.join(self.table_path, mf.MANIFEST_DIR)
        if not os.path.isdir(d):
            return []
        refs = mf.load_refs(self.table_path)
        by_version: dict[int, list[str]] = {}
        for ref_name, v in refs.items():
            by_version.setdefault(v, []).append(ref_name)
        out = []
        for name in sorted(os.listdir(d)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            m = mf.load(self.table_path, int(name[1:9]))
            out.append(
                {
                    "version": m.version,
                    "parent_version": m.parent_version,
                    "last_committed_epoch": m.last_committed_epoch,
                    # False ⇢ expire_snapshots kept this manifest for its
                    # column-id mapping only; its data dirs were GC'd, so
                    # time-travel reads must not resolve here
                    "readable": not m.metrics.get("schema_only_retained", False),
                    "tags": sorted(by_version.get(m.version, [])),
                    "operation": (
                        "rollback"
                        if "rollback_of" in m.metrics
                        else "vacuum"
                        if "vacuum_below" in m.metrics
                        else "compact"
                        if "compacted_buckets" in m.metrics
                        else "rebucket"
                        if "rebucket_to" in m.metrics
                        else "evolve"
                        if "evolution" in m.metrics
                        else "merge"
                        if m.version > 0
                        else "create"
                    ),
                    "metrics": m.metrics,
                }
            )
        return out

    # -- metadata tables (Iceberg `db.tbl.files`/`history`/`partitions`,
    #    Delta DESCRIBE HISTORY / DESCRIBE DETAIL analog) -----------------------

    def history(self) -> DataFrame:
        """``snapshots()`` as a queryable DataFrame — the Iceberg ``history``
        metadata table / Delta ``DESCRIBE HISTORY``.  One row per retained
        manifest version with the operation kind, parent, epoch, tags and
        commit time (manifest file mtime).  Driver-side metadata only."""
        rows = []
        for s in self.snapshots():
            p = os.path.join(self.table_path, mf.MANIFEST_DIR, f"v{s['version']:08d}.json")
            rows.append(
                (
                    s["version"],
                    s["parent_version"],
                    s["last_committed_epoch"],
                    s["operation"],
                    bool(s["readable"]),
                    list(s["tags"]),
                    float(os.path.getmtime(p)) if os.path.exists(p) else None,
                    json.dumps(s["metrics"], sort_keys=True),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, parent_version int, last_committed_epoch int, "
            "operation string, readable boolean, tags array<string>, "
            "committed_at double, metrics string",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """One row per physical file the snapshot references — the Iceberg
        ``files`` metadata table.  Covers base bucket files, MoR delta files
        and position-delete (DV) sets, each labeled by ``kind``.  Built from
        the manifest + a directory stat per referenced unit: O(referenced
        files) driver work and zero data-file reads, exactly like planning a
        scan.  ``content_rows`` is the manifest's row count where it is
        tracked (DV sets); NULL otherwise."""
        m = self.manifest(version)
        rows = []

        def _unit(bucket: int, rel: str, kind: str, sv: int, nrows):
            d = os.path.join(self.table_path, rel)
            if not os.path.isdir(d):
                return
            for name in sorted(os.listdir(d)):
                if name.endswith(".parquet"):
                    p = os.path.join(d, name)
                    rows.append(
                        (
                            bucket,
                            kind,
                            os.path.join(rel, name),
                            int(os.path.getsize(p)),
                            sv,
                            nrows,
                        )
                    )

        for b, entry in m.buckets.items():
            bucket = int(b)
            _unit(bucket, entry["path"], "base", int(entry["schema_version"]), None)
            for dlt in entry.get("deltas") or []:
                _unit(bucket, dlt["path"], "delta", int(dlt["schema_version"]), None)
            for dv in entry.get("dvs") or []:
                _unit(bucket, dv["path"], "dv", int(dv["schema_version"]),
                      int(dv.get("rows") or 0))
        return self.spark.createDataFrame(
            rows,
            "bucket int, kind string, path string, size_bytes long, "
            "written_version int, content_rows long",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-bucket physical summary — the Iceberg ``partitions`` metadata
        table over this layout's hash buckets: file/byte totals split by
        kind, so skew, delta stack-up and DV debt are one query away
        (``ORDER BY total_bytes DESC``)."""
        f = self.files(version)
        return (
            f.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("size_bytes").alias("total_bytes"),
                F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0)).alias("n_delta_files"),
                F.sum(F.when(F.col("kind") == "dv", 1).otherwise(0)).alias("n_dv_files"),
                F.sum(F.when(F.col("kind") == "dv", F.col("content_rows"))).alias("dv_rows"),
            )
            .orderBy("bucket")
        )

    def last_committed_epoch(self) -> int:
        return self.manifest().last_committed_epoch

    # -- schema evolution (T6) ----------------------------------------------

    def evolve(self, changes: list[SchemaChange]) -> TableSchema:
        """Apply add/rename BEFORE an epoch's merge.  Publishes a new
        manifest version; data files are untouched (id-based mapping makes
        renames metadata-only, like Iceberg).  Idempotent: re-applying after
        a crash is a no-op."""
        m = self.manifest()
        new_schema = apply_changes(m.schema, changes)
        if new_schema.to_json() == m.schema.to_json():
            return m.schema
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=m.version + 1,
                last_committed_epoch=m.last_committed_epoch,
                schema=new_schema,
                buckets=m.buckets,
                n_buckets=m.n_buckets,
                metrics={"evolution": [c.to_json() for c in changes]},
                parent_version=m.version,
            ),
        )
        return new_schema

    # -- physical layout --------------------------------------------------------

    @staticmethod
    def _dir_version(name: str) -> int | None:
        """Leading snapshot version of a data dir name ``v{N:08d}[-token]``
        (None for anything else)."""
        if not name.startswith("v"):
            return None
        head = name[1:].split("-", 1)[0]
        return int(head) if head.isdigit() else None

    def _new_data_dir(self, new_version: int) -> tuple[str, str]:
        """(relative, absolute) data dir for one snapshot ATTEMPT.

        The random token makes the dir unique per writer: two merges racing
        the same version number write to disjoint directories, the manifest
        CAS (mf.publish) decides whose dir the table references, and the
        loser's dir — unreferenced, version ≤ committed — is GC'd by the
        next ``expire_snapshots``.  Without the token, the loser's
        ``mode("overwrite")`` write could destroy files the WINNER's
        committed manifest points at (Iceberg solves the same hazard with
        UUID file names)."""
        token = uuid.uuid4().hex[:8]
        rel = os.path.join("data", f"v{new_version:08d}-{token}")
        return rel, os.path.join(self.table_path, rel)

    def _write_tasks(self, groups: int) -> int:
        """Task count for an epoch's write partitioned by ``_bucket`` alone
        (merge, join pre-write, MoR delta) and for compact: one per bucket,
        capped at ``spark.sql.shuffle.partitions``.  A bucket still lands
        whole in one task, so it is still one file with the same rows; the
        cap only stops paying a parquet write task's fixed cost (about 30 ms
        of deserialization each on a 4-core host) per bucket.  The
        whole-table rewrites (vacuum, delete_where, rebucket) keep one task
        per bucket: there the parallelism is the point."""
        cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return max(1, min(groups, cap))

    # -- reads ----------------------------------------------------------------

    def _empty(
        self, schema: TableSchema, keep: list | None = None, keep_bk: list | None = None
    ) -> DataFrame:
        cols = keep if keep is not None else schema.columns
        bk = keep_bk if keep_bk is not None else BOOKKEEPING
        fields = [T.StructField(c.name, T._parse_datatype_string(c.dtype), True) for c in cols] + [
            T.StructField(n, T._parse_datatype_string(t), True) for n, t in bk
        ] + [T.StructField(BUCKET_COLUMN, T.IntegerType(), True)]
        return self.spark.createDataFrame([], T.StructType(fields))

    def load(
        self,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        version: int | None = None,
        columns: list[str] | None = None,
        manifest: "mf.Manifest | None" = None,
        _with_positions: bool = False,
    ) -> DataFrame:
        """Snapshot read, aligned to the snapshot's schema.

        Buckets written before a schema evolution are mapped by column id:
        renamed columns are aliased to their current names, added columns
        null-filled — no data rewrite ever happens for evolution.

        ``include_tombstones`` exposes retained soft-delete rows (the merge
        needs them; readers do not).

        ``version`` time-travels: the copy-on-write layout means an old
        manifest's bucket→file mapping still points at intact files (until
        ``expire_snapshots`` reclaims them), so reading as-of any retained
        version is a pure metadata swap — no data rewrite, no extra IO
        beyond the old snapshot's own files.

        ``columns`` projects the payload down to the named columns (keys,
        bookkeeping and the bucket id are always kept; ``[]`` = keys +
        bookkeeping only).  Pushing the projection down HERE matters for
        merge-on-read buckets: their per-key LWW resolution window would
        otherwise carry every payload byte through its shuffle.

        Buckets written in ``write_mode="mor"`` carry delta file sets on
        top of their base; this read resolves them with one row_number
        window per key ordered by (ordinal DESC, writing-version ASC) —
        highest ordinal wins, ordinal ties go to the EARLIEST snapshot,
        matching the merge strategies' strict ``u.ordinal > t.ordinal``
        guard.  Buckets without deltas skip the window entirely.
        """
        m = manifest if manifest is not None else self.manifest(version)
        cur = m.schema
        wanted = m.buckets
        if buckets is not None:
            keys = {str(b) for b in buckets}
            wanted = {k: v for k, v in m.buckets.items() if k in keys}
        keep = [
            c for c in cur.columns
            if columns is None or c.name in columns or c.name in KEY_COLUMNS
        ]
        # ordinal/deleted are always read (LWW resolution + tombstone filter
        # need them); the other bookkeeping fields prune like payload
        keep_bk = [
            (n, t) for n, t in BOOKKEEPING
            if columns is None or n in columns or n in ("ordinal", "deleted")
        ]
        if not wanted:
            return self._empty(cur, keep, keep_bk)

        # position-delete sets (dv_delete): tiny (file, pos) parquet sets
        # stacked on buckets without rewriting them (Iceberg v2 position
        # deletes / Delta deletion vectors).  Grouped per delete ordinal and
        # applied below by marking matched PHYSICAL rows as payload-free
        # tombstones at that ordinal BEFORE any MoR delta resolution — the
        # existing LWW window then orders the DV tombstone against delta
        # rows by ordinal, so both write modes compose with no new logic.
        dv_groups: dict[int, list[str]] = {}
        for entry in wanted.values():
            for d in entry.get("dvs") or []:
                dv_groups.setdefault(int(d["ordinal"]), []).append(
                    os.path.join(self.table_path, d["path"])
                )
        want_pos = _with_positions or bool(dv_groups)

        # read units: (relative dir, writing manifest version).  The writing
        # version doubles as the schema version for column-id mapping and as
        # the arrival sequence for delta resolution.
        plain_units: list[tuple[str, int]] = []
        delta_units: list[tuple[str, int]] = []
        for entry in wanted.values():
            ds = entry.get("deltas") or []
            if ds:
                delta_units.append((entry["path"], entry["schema_version"]))
                delta_units.extend((d["path"], d["schema_version"]) for d in ds)
            else:
                plain_units.append((entry["path"], entry["schema_version"]))

        # one schema per writing version, loaded once per call and shared by
        # the plain and delta reads
        schemas: dict[int, TableSchema] = {m.version: cur}
        if manifest is not None:
            # a staged (un-published) snapshot's own version has no
            # committed manifest yet — its schema rides the override
            schemas[manifest.version] = manifest.schema

        def written_schema(sv: int) -> TableSchema:
            if sv not in schemas:
                schemas[sv] = mf.load(self.table_path, sv).schema
            return schemas[sv]

        def read_units(units: list[tuple[str, int]], with_seq: bool) -> DataFrame:
            # ONE scan per distinct written schema (per writing version for
            # MoR deltas, whose `_seq` literal is the version), with the
            # file schema supplied: no footer-inference job, and the union
            # does not grow with the number of versions that wrote the
            # touched buckets.  The bucket dirs are the scan roots (data/v*
            # parents conflict as a common basePath), so `_bucket` comes from
            # each file's own dir name — exact for any file a manifest names,
            # but parsed per row: a 4M-row 3-column scan took 0.82 s against
            # 0.33 s with a constant (4-core host).  A basePath read per
            # version dir gets it free, at one union arm per writing version.
            groups: dict[Any, tuple[TableSchema, int, list[str]]] = {}
            for path, sv in units:
                written = written_schema(sv)
                key = sv if with_seq else tuple(written.columns)
                groups.setdefault(key, (written, sv, []))[2].append(
                    os.path.join(self.table_path, path)
                )
            parts: list[DataFrame] = []
            for written, sv, dirs in groups.values():
                df = self.spark.read.schema(_file_schema(written)).parquet(*sorted(dirs))
                old_by_id = {c.col_id: c for c in written.columns}
                # one SQL projection: a single py4j call instead of several
                # per column
                cols = []
                for c in keep:
                    old = old_by_id.get(c.col_id)
                    if old is None:
                        cols.append(f"CAST(NULL AS {c.dtype}) AS {_q(c.name)}")
                    elif old.dtype != c.dtype:
                        # widen evolution: files keep their written type,
                        # readers up-cast (always lossless — widen_column
                        # rejects anything outside the safe set)
                        cols.append(f"CAST({_q(old.name)} AS {c.dtype}) AS {_q(c.name)}")
                    else:
                        cols.append(f"{_q(old.name)} AS {_q(c.name)}")
                cols += [_q(n) for n, _ in keep_bk]
                cols.append(
                    "CAST(regexp_extract(_metadata.file_path, "
                    f"'/{BUCKET_COLUMN}=([0-9]+)/[^/]*$', 1) AS INT) AS {BUCKET_COLUMN}"
                )
                if want_pos:
                    # physical row identity for position deletes: the file
                    # source's constant-folded metadata struct, free to read
                    cols += ["_metadata.file_path AS _dv_file", "_metadata.row_index AS _dv_pos"]
                if with_seq:
                    cols.append(f"{sv} AS _seq")
                parts.append(df.selectExpr(*cols))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        def _apply_dvs(df: DataFrame) -> DataFrame:
            if not dv_groups:
                return df
            prefix = "file:" + os.path.abspath(self.table_path) + "/"
            dvs: DataFrame | None = None
            for o, dirs in sorted(dv_groups.items()):
                part = self.spark.read.schema(_DV_SCHEMA).parquet(*sorted(set(dirs))).select(
                    F.concat(F.lit(prefix), F.col("file")).alias("_dv_file"),
                    F.col("pos").alias("_dv_pos"),
                    F.lit(o).cast("long").alias("_dv_ordinal"),
                )
                dvs = part if dvs is None else dvs.unionByName(part)
            # a live position can only be deleted once (it reads as a
            # tombstone afterwards), but be defensive: newest delete wins
            dvs = dvs.groupBy("_dv_file", "_dv_pos").agg(
                F.max("_dv_ordinal").alias("_dv_ordinal")
            )
            hit = F.col("_dv_ordinal").isNotNull()
            keep_as_is = {*KEY_COLUMNS, BUCKET_COLUMN, "_seq", "_dv_file", "_dv_pos"}
            out_cols = []
            for name in df.columns:
                if name in keep_as_is:
                    out_cols.append(F.col(name))
                elif name == "ordinal":
                    out_cols.append(
                        F.when(hit, F.col("_dv_ordinal")).otherwise(F.col(name)).alias(name)
                    )
                elif name == "deleted":
                    out_cols.append(
                        F.when(hit, F.lit(True)).otherwise(F.col(name)).alias(name)
                    )
                else:
                    # position-deleted rows read as payload-free tombstones
                    # (delete_where parity); the superseded physical bytes
                    # linger in the base file until compact()/vacuum() folds
                    # the DV — same trade as Iceberg v2 deletes
                    out_cols.append(
                        F.when(hit, F.lit(None)).otherwise(F.col(name)).alias(name)
                    )
            # DV sets are KBs against TBs of data: always broadcast
            return df.join(
                F.broadcast(dvs), ["_dv_file", "_dv_pos"], "left"
            ).select(*out_cols)

        parts: list[DataFrame] = []
        if plain_units:
            parts.append(_apply_dvs(read_units(plain_units, with_seq=False)))
        if delta_units:
            from pyspark.sql import Window

            w = Window.partitionBy(BUCKET_COLUMN, *KEY_COLUMNS).orderBy(
                F.col("ordinal").desc(), F.col("_seq").asc()
            )
            parts.append(
                _apply_dvs(read_units(delta_units, with_seq=True))
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", "_seq")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if not include_tombstones:
            out = out.where(~F.coalesce(F.col("deleted"), F.lit(False)))
        if want_pos and not _with_positions:
            out = out.drop("_dv_file", "_dv_pos")
        return out

    # -- MERGE (J5/S9/S10, T3/T4/T5) ------------------------------------------

    def key_stats(
        self, batch: DataFrame, n_buckets: int | None = None
    ) -> tuple[list[int], list[dict[str, Any]]]:
        """Touched buckets + per-partition applied-event/byte lineage from a
        RAW (pre-extraction) batch — a cheap column-pruned JVM scan, so the
        expensive Arrow extraction is never executed twice per epoch.

        When the batch carries ``_content_bytes`` (stored changelogs do —
        see sources/changelog.write_changelog) the scan reads only (repo,
        path, _content_bytes) and never decompresses ``content``; the
        fallback is ``octet_length(content)``.  ``n_buckets`` can be passed
        to skip the manifest read (the replay's prefetch thread does, so it
        never races a concurrent manifest publish)."""
        nb = n_buckets if n_buckets is not None else self.manifest().n_buckets
        stats = (
            batch.groupBy(F.spark_partition_id().alias("p"), bucket_of(nb).alias("b"))
            .agg(F.count("*").alias("n"), F.sum(_bytes_expr(batch)).alias("bytes"))
            .collect()
        )
        return _fold_stats(stats)

    def key_stats_by_epoch(
        self, batch: DataFrame, n_buckets: int | None = None
    ) -> dict[int, tuple[list[int], list[dict[str, Any]]]]:
        """``key_stats`` for EVERY epoch of an in-memory changelog in ONE
        aggregation job: groupBy (epoch, scan partition, bucket) instead of
        one filtered scan per epoch.  The result also carries the distinct
        epoch list for free, so ``replay_dataframe`` plans a whole replay
        from a single pass over the frame (guide §2.4 — shared scan) where
        it previously ran a distinct-epochs job plus one stats job per
        epoch.  Lineage partition ids are the unfiltered scan's; per-epoch
        event/byte totals are identical to the per-epoch form (the unit of
        lineage is "input split", which tests pin by totals only)."""
        nb = n_buckets if n_buckets is not None else self.manifest().n_buckets
        stats = (
            batch.groupBy(
                F.col("epoch").alias("e"),
                F.spark_partition_id().alias("p"),
                bucket_of(nb).alias("b"),
            )
            .agg(F.count("*").alias("n"), F.sum(_bytes_expr(batch)).alias("bytes"))
            .collect()
        )
        by_epoch: dict[int, list] = {}
        for r in stats:
            by_epoch.setdefault(r["e"], []).append(r)
        return {e: _fold_stats(rows) for e, rows in by_epoch.items()}

    def _merge_join(self, target: DataFrame, u: DataFrame, payload: list[str]) -> DataFrame:
        """MERGE as a full-outer join (the textbook emulation)."""
        extras = [n for n, _ in BOOKKEEPING]
        carried = [*payload, *extras, BUCKET_COLUMN]
        tt = target.select(*[F.col(c).alias(f"t_{c}") for c in carried])
        uu = u.select(
            *[F.col(c).alias(f"u_{c}") for c in carried],
            F.col("op").alias("u_op"),
        )
        cond = [tt[f"t_{k}"].eqNullSafe(uu[f"u_{k}"]) for k in KEY_COLUMNS]
        j = tt.join(uu, cond, "full_outer")

        u_present = F.col("u_op").isNotNull() | F.col("u_ordinal").isNotNull()
        t_present = F.col("t_ordinal").isNotNull()
        t_live = t_present & ~F.coalesce(F.col("t_deleted"), F.lit(False))
        wins = u_present & (~t_present | (F.col("u_ordinal") > F.col("t_ordinal")))
        is_del = F.col("u_op") == F.lit("D")
        action = (
            F.when(wins & is_del & t_live, F.lit("deleted"))
            .when(wins & is_del, F.lit("tombstone_noop"))
            .when(wins & t_live, F.lit("updated"))
            .when(wins, F.lit("created"))
            .otherwise(F.lit("kept"))
        )

        pick = lambda c: F.when(wins, F.col(f"u_{c}")).otherwise(F.col(f"t_{c}")).alias(c)  # noqa: E731
        return j.select(
            *[pick(c) for c in [*payload, *extras]],
            F.when(wins, F.col(f"u_{BUCKET_COLUMN}")).otherwise(F.col(f"t_{BUCKET_COLUMN}")).cast("int").alias(BUCKET_COLUMN),
            action.alias("_action"),
        )

    def _dir_bytes(self, rel: str) -> int:
        """Total bytes of one referenced data dir (driver-side stat walk —
        metadata-proportional, no Spark job)."""
        d = os.path.join(self.table_path, rel)
        if not os.path.isdir(d):
            return 0
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def _adaptive_sub_splits(
        self, m: "mf.Manifest", touched: list[int], incoming_bytes: int
    ) -> "dict[int, int] | None":
        """Per-bucket file sub-split counts targeting ``target_file_bytes``
        per output file — the Delta optimized-write / Iceberg
        write.target-file-size analog, per bucket instead of global.

        A static ``files_per_bucket`` is wrong at both ends of a Zipf key
        distribution: hot buckets write files far over target (one task
        carries the whole repo), cold buckets shatter into crumbs.  Sizing
        is driver-side only: each touched bucket's CURRENT dir bytes
        (``os.stat`` walk) plus an even share of the epoch's incoming bytes
        (from lineage, already collected) deflated by an assumed parquet
        compression ratio.  The estimate only steers file counts — a 2×
        error means files at 2× or 0.5× target, never wrong data.
        """
        if not self.target_file_bytes or not touched:
            return None
        share = incoming_bytes / len(touched) / max(1.0, self.parquet_compression_ratio)
        out: dict[int, int] = {}
        for b in touched:
            entry = m.buckets.get(str(b))
            est = share + (self._dir_bytes(entry["path"]) if entry else 0)
            f_b = min(512, max(1, -(-int(est) // self.target_file_bytes)))
            if f_b > 1:
                out[b] = f_b
        return out or None

    def _merge_window(
        self,
        target: DataFrame,
        u: DataFrame,
        payload: list[str],
        n_parts: int,
        sub_splits: "dict[int, int] | None" = None,
    ) -> DataFrame:
        """MERGE via ONE bucket shuffle + per-key window over the bucket.

        union(target, events) is repartitioned by ``_bucket`` once; the
        per-key windows (winner ordinal, live-target flag) only need rows of
        a key co-located, and ``HashPartitioning(_bucket)`` already satisfies
        ``ClusteredDistribution(_bucket, repo, path)`` because a key never
        spans buckets — so Catalyst plans NO further exchange, just a sort.
        The output stays bucket-partitioned, which also makes the pre-write
        repartition unnecessary (see merge()).  Net: one shuffle per epoch
        for LWW + upsert + write layout combined.
        """
        from pyspark.sql import Window

        body = [*payload, *[n for n, _ in BOOKKEEPING], BUCKET_COLUMN]
        tt = target.select(
            *body, F.lit(None).cast("string").alias("op"), F.lit(1).alias("_is_target")
        )
        uu = u.select(*body, "op", F.lit(0).alias("_is_target"))
        both = tt.unionByName(uu)
        f = self.files_per_bucket
        part_cols = [BUCKET_COLUMN]
        if sub_splits:
            # per-bucket adaptive sub-split (target_file_bytes): the split
            # count rides a broadcast (bucket → n) lookup, so hot buckets
            # fan wider than cold ones inside the SAME single exchange
            nsub = self.spark.createDataFrame(
                [(int(b), int(v)) for b, v in sorted(sub_splits.items())],
                f"{BUCKET_COLUMN} int, _nsub int",
            )
            both = (
                both.join(F.broadcast(nsub), BUCKET_COLUMN, "left")
                .withColumn(
                    "_sub",
                    F.when(F.col("_nsub").isNull(), F.lit(0)).otherwise(
                        F.pmod(
                            F.xxhash64(F.lit(7), *[F.col(k) for k in KEY_COLUMNS]),
                            F.col("_nsub"),
                        )
                    ),
                )
                .drop("_nsub")
            )
            part_cols = [BUCKET_COLUMN, "_sub"]
            n_total = n_parts + sum(v - 1 for v in sub_splits.values())
        elif f > 1:
            # sub-split key MUST come from a hash independent of bucket_of():
            # the bucket is xxhash64(key) % n_buckets, so xxhash64(key) % f
            # with f | n_buckets would be a constant per bucket (no split).
            # The extra leading literal reseeds the hash.
            both = both.withColumn(
                "_sub", F.pmod(F.xxhash64(F.lit(7), *[F.col(k) for k in KEY_COLUMNS]), F.lit(f))
            )
            part_cols = [BUCKET_COLUMN, "_sub"]
            n_total = n_parts * f
        else:
            n_total = self._write_tasks(n_parts)
        both = both.repartition(n_total, *part_cols)

        # Deterministic single winner per key: on an ordinal tie (malformed
        # changelog / external source without the uniqueness guarantee) the
        # TARGET row wins — matching the join strategy's strict
        # ``u.ordinal > t.ordinal`` guard — so the primary-key invariant holds
        # for any input and both strategies agree.  Both window exprs
        # share the (partition, order) spec → ONE WindowExec, one sort.
        w_ord = Window.partitionBy(*part_cols, *KEY_COLUMNS).orderBy(
            F.col("ordinal").desc(), F.col("_is_target").desc()
        )
        w_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        live_target = (F.col("_is_target") == 1) & ~F.coalesce(F.col("deleted"), F.lit(False))
        annotated = both.withColumn("_rn", F.row_number().over(w_ord)).withColumn(
            "_had_live_target", F.max(live_target.cast("int")).over(w_all)
        )
        winner = annotated.where(F.col("_rn") == 1)

        action = _action(
            F.coalesce(F.col("deleted"), F.lit(False)),
            t_live=F.col("_had_live_target") == 1,
            won_by_update=F.col("op").isNotNull(),
        )
        return winner.select(*body, action.alias("_action"))

    def merge(
        self,
        updates: DataFrame,
        epoch: int,
        touched: list[int] | None = None,
        lineage: list[dict[str, Any]] | None = None,
        extra_metrics_fn: Any | None = None,
        stage: bool = False,
    ) -> dict[str, Any]:
        """Apply one epoch's deduped updates.  Exactly-once: a re-run of an
        already-committed epoch is a no-op (epoch stamp check, the engine's
        analog of the reference's idempotent deterministic-id upsert).

        ``stage=True`` is the write-audit-publish gate (Iceberg's WAP
        pattern): the merge runs in full and its data files land on disk,
        but the snapshot is written to the stage marker instead of the
        committed manifest line — readers keep seeing the parent state.
        Audit the candidate via ``load_staged()``/``staged().metrics``,
        then ``publish_staged()`` (atomic, with an optimistic
        parent-version check) or ``abort_staged()``.

        ``updates`` must hold exactly one row per key (LWW winners) with
        columns: keys, op, ordinal, content_sha, and the current payload
        columns (missing payload columns are null-filled here).

        ``touched``/``lineage`` can be precomputed from the raw batch via
        ``key_stats`` (the replay does); when absent they are computed from
        ``updates``, which costs one extra pass over its plan.

        ``extra_metrics_fn``: zero-arg callable resolved just BEFORE the
        manifest publish, merged into the epoch metrics.  The replay hands
        it the join on its side-channel (dead-letter/conflicts) write
        futures, so those jobs run CONCURRENTLY with the merge's own write
        job — they only read the previous snapshot's files, which
        copy-on-write leaves untouched.
        """
        m = self.manifest()
        if mf.epoch_already_applied(m.last_committed_epoch, epoch):
            return {"skipped": True, "epoch": epoch, "reason": "already committed"}
        cur = m.schema
        payload = cur.names()
        new_version = m.version + 1

        u = updates
        for c in cur.columns:
            if c.name not in u.columns:
                u = u.withColumn(c.name, F.lit(None).cast(c.dtype))
            elif dict(u.dtypes)[c.name] != c.dtype:
                # widened column: incoming epochs may still carry the narrow
                # type; align at the merge input so written files match the
                # writing snapshot's declared schema (no-op when types agree)
                u = u.withColumn(c.name, F.col(c.name).cast(c.dtype))
        extras = [
            (F.col(n).cast(t) if n in u.columns else F.lit(None).cast(t)).alias(n)
            for n, t in BOOKKEEPING
            if n != "deleted"
        ]
        u = u.select(
            *payload, F.col("op"), *extras, (F.col("op") == OP_DELETE).alias("deleted")
        ).withColumn(BUCKET_COLUMN, bucket_of(m.n_buckets))
        t = time.time()

        if touched is None:
            touched, lineage = self.key_stats(updates)
        t = _trace("key stats", t)

        if self.write_mode == "mor":
            return self._merge_mor(
                u, epoch, m, touched, lineage, extra_metrics_fn, stage
            )

        target = self.load(buckets=touched, include_tombstones=True)

        if self.merge_strategy == "join":
            merged = self._merge_join(target, u, payload)
        else:
            incoming = sum(int(p.get("bytes") or 0) for p in (lineage or []))
            merged = self._merge_window(
                target, u, payload, max(1, len(touched)),
                sub_splits=self._adaptive_sub_splits(m, touched, incoming),
            )

        # run counters (A2 — the reference's created/updated/deleted report,
        # report.ts:5-12, aux.ts:26-32) piggyback on the write job via
        # observe(): no separate aggregation pass over the merge.
        merged_raw = merged
        obs = Observation(f"merge_epoch_{epoch}")
        merged = merged.observe(
            obs,
            F.count(F.when(F.col("_action") == "created", 1)).alias("created"),
            F.count(F.when(F.col("_action") == "updated", 1)).alias("updated"),
            F.count(F.when(F.col("_action") == "deleted", 1)).alias("deleted"),
            F.count(F.when(F.col("_action") == "kept", 1)).alias("kept"),
        )
        # ALL rows are written — tombstones persist as soft-delete rows until
        # vacuum(); see BOOKKEEPING comment.
        survivors = merged

        data_rel, data_dir = self._new_data_dir(new_version)
        out = survivors.drop("_action")
        if self.merge_strategy == "join":
            # join output is key-partitioned; lay it out per bucket.  window
            # output is ALREADY bucket-partitioned — no shuffle.
            out = out.repartition(self._write_tasks(len(touched)), BUCKET_COLUMN)
        out.write.mode("overwrite").options(**self._bloom_options()).partitionBy(
            BUCKET_COLUMN
        ).parquet(data_dir)
        t = _trace(f"merge({self.merge_strategy})+write", t)
        try:
            counts = obs.get
        except Exception:
            # When ALL rows of the touched buckets are deleted, the write's
            # plan collapses to an empty relation and the CollectMetrics node
            # never executes (its row comes back schemaless).  Rare path:
            # recompute the counters with one aggregation job.
            counts = {
                r["_action"]: r["n"]
                for r in merged_raw.groupBy("_action").agg(F.count("*").alias("n")).collect()
            }
        # live buckets = the partition dirs the write actually produced
        live_buckets = {
            int(name.split("=", 1)[1])
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        }

        buckets = dict(m.buckets)
        for b in touched:
            if b in live_buckets:
                buckets[str(b)] = {
                    "path": os.path.join(data_rel, f"{BUCKET_COLUMN}={b}"),
                    "schema_version": new_version,
                }
            else:
                buckets.pop(str(b), None)

        metrics = {
            "epoch": epoch,
            "created": counts.get("created", 0),
            "updated": counts.get("updated", 0),
            "deleted": counts.get("deleted", 0),
            "kept": counts.get("kept", 0),
            "partitions": lineage,
        }
        if extra_metrics_fn is not None:
            metrics.update(extra_metrics_fn() or {})

        if self.crash_before_publish:
            raise RuntimeError("injected crash: data written, manifest NOT published")

        out_manifest = mf.Manifest(
            version=new_version,
            last_committed_epoch=epoch,
            schema=cur,
            buckets=buckets,
            n_buckets=m.n_buckets,
            metrics=metrics,
            parent_version=m.version,
        )
        if stage:
            mf.publish_staged(self.table_path, out_manifest)
            return {**metrics, "staged": True, "staged_version": new_version}
        return self._commit_merge(out_manifest, epoch, metrics)


    def _commit_merge(self, out_manifest: "mf.Manifest", epoch: int, metrics: dict) -> dict:
        """CAS-publish a merge snapshot.  Losing the race to a concurrent
        writer that committed the SAME epoch (a racing twin after a crashy
        restart, a zombie driver) is exactly-once doing its job — report a
        skip, never clobber.  Losing to a DIVERGENT write means this merge
        was planned on a stale snapshot; its data files reference a parent
        the table has moved past, so surface the conflict for a re-run."""
        try:
            mf.publish(self.table_path, out_manifest)
        except mf.CommitConflictError:
            m2 = self.manifest()
            if mf.epoch_already_applied(m2.last_committed_epoch, epoch):
                return {
                    "skipped": True,
                    "epoch": epoch,
                    "reason": "lost commit race; epoch applied by a concurrent writer",
                }
            raise
        return metrics

    def _merge_mor(
        self,
        u: DataFrame,
        epoch: int,
        m: "mf.Manifest",
        touched: list[int],
        lineage: list[dict[str, Any]] | None,
        extra_metrics_fn: Any | None,
        stage: bool = False,
    ) -> dict[str, Any]:
        """MERGE as an appended per-bucket delta (merge-on-read).

        Writes ONLY the epoch's winning rows — one delta file set per
        touched bucket — and never rewrites untouched rows: write
        amplification is O(epoch events), not O(touched-bucket bytes).
        ``load`` resolves base+deltas per key (LWW window) until
        ``compact()`` folds the deltas back into a single base.  Same
        trade as Iceberg v2 format deletes / Hudi MoR tables.

        Metric parity with the copy-on-write strategies
        (created/updated/deleted/kept) comes from joining the epoch's keys
        against a COLUMN-PRUNED read of the touched buckets — (keys,
        ordinal, deleted) only, the payload bytes are never read — so the
        classification scan costs a few percent of a CoW merge.  Rows that
        LOSE to the current state (stale out-of-order events) are dropped
        before the delta is written: read-side resolution never sees them
        and the delta stays minimal.

        Exactly-once is the same manifest mechanism as CoW: the delta dir
        is data/v{N}, the manifest publish is atomic, and a crash before
        publish leaves an orphan dir and an unchanged table.
        """
        new_version = m.version + 1
        t = time.time()

        # The "window" CoW merge receives RAW events and dedupes inside its
        # merge shuffle; MoR needs one row per key BEFORE the delta is
        # written (a delta is a resolved per-key set).  max_by gets map-side
        # partial aggregation, so a hot key pre-reduces inside each map task,
        # and the classification join below reuses the same key hash.
        u = lww_dedup_agg(u)

        # current resolved state of the touched buckets, keys+bookkeeping
        # only (columns=[] prunes the payload before any delta-resolution
        # window).  Observation counts the target rows flowing into the
        # join so `kept` needs no second scan.  Empty-table fast path: the
        # initial bulk-load epoch has no target rows at all, so the
        # classification join (and its target scan job) is skipped outright
        # — every deduped row is a first write (guide §2.4: remove the
        # shuffle, not just shrink it).
        obs_t = None
        if not m.buckets:
            delta_raw = u.select(
                *u.columns,
                _action(F.coalesce(F.col("deleted"), F.lit(False))).alias("_action"),
                F.lit(0).alias("_matched"),
            )
        else:
            obs_t = Observation(f"mor_target_{epoch}")
            target = (
                self.load(buckets=touched, include_tombstones=True, columns=[])
                .observe(obs_t, F.count(F.lit(1)).alias("rows"))
                .select(
                    *[F.col(k).alias(f"t_{k}") for k in KEY_COLUMNS],
                    F.col("ordinal").alias("t_ordinal"),
                    F.col("deleted").alias("t_deleted"),
                )
            )
            cond = [F.col(k).eqNullSafe(F.col(f"t_{k}")) for k in KEY_COLUMNS]
            j = u.join(target, cond, "left")
            t_present = F.col("t_ordinal").isNotNull()
            t_live = t_present & ~F.coalesce(F.col("t_deleted"), F.lit(False))
            wins = ~t_present | (F.col("ordinal") > F.col("t_ordinal"))
            action = _action(F.coalesce(F.col("deleted"), F.lit(False)), t_live=t_live)
            delta_raw = j.where(wins).select(
                *u.columns, action.alias("_action"), t_present.cast("int").alias("_matched")
            )

        obs = Observation(f"mor_epoch_{epoch}")
        out = delta_raw.observe(
            obs,
            F.count(F.when(F.col("_action") == "created", 1)).alias("created"),
            F.count(F.when(F.col("_action") == "updated", 1)).alias("updated"),
            F.count(F.when(F.col("_action") == "deleted", 1)).alias("deleted"),
            F.count(F.when(F.col("_matched") == 1, 1)).alias("matched_wins"),
        ).drop("_action", "_matched", "op")

        data_rel, data_dir = self._new_data_dir(new_version)
        (
            out.repartition(self._write_tasks(len(touched)), BUCKET_COLUMN)
            .write.mode("overwrite")
            .options(**self._bloom_options())
            .partitionBy(BUCKET_COLUMN)
            .parquet(data_dir)
        )
        t = _trace("mor delta write", t)
        try:
            counts = obs.get
            t_rows = obs_t.get["rows"] if obs_t is not None else 0
        except Exception:
            # empty-delta plan collapse (every event stale): the
            # CollectMetrics nodes never execute — recompute both with
            # small explicit jobs (classification side is column-pruned).
            counts = {
                r["_action"]: r["n"]
                for r in delta_raw.groupBy("_action").agg(F.count("*").alias("n")).collect()
            }
            counts["matched_wins"] = delta_raw.where(F.col("_matched") == 1).count()
            t_rows = (
                self.load(buckets=touched, include_tombstones=True, columns=[]).count()
                if obs_t is not None
                else 0
            )

        live_buckets = {
            int(name.split("=", 1)[1])
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        }
        buckets = dict(m.buckets)
        for b in sorted(live_buckets):
            rel = os.path.join(data_rel, f"{BUCKET_COLUMN}={b}")
            ref = {"path": rel, "schema_version": new_version}
            old = buckets.get(str(b))
            if old is None:
                # first write of this bucket: a single epoch's winners are
                # already one row per key — a valid base, no delta needed
                buckets[str(b)] = ref
            else:
                entry = dict(old)
                entry["deltas"] = list(old.get("deltas") or []) + [ref]
                buckets[str(b)] = entry

        metrics = {
            "epoch": epoch,
            "created": counts.get("created", 0),
            "updated": counts.get("updated", 0),
            "deleted": counts.get("deleted", 0),
            "kept": t_rows - counts.get("matched_wins", 0),
            "mor_delta": True,
            "partitions": lineage,
        }
        if extra_metrics_fn is not None:
            metrics.update(extra_metrics_fn() or {})

        if self.crash_before_publish:
            raise RuntimeError("injected crash: data written, manifest NOT published")

        out_manifest = mf.Manifest(
            version=new_version,
            last_committed_epoch=epoch,
            schema=m.schema,
            buckets=buckets,
            n_buckets=m.n_buckets,
            metrics=metrics,
            parent_version=m.version,
        )
        if stage:
            mf.publish_staged(self.table_path, out_manifest)
            return {**metrics, "staged": True, "staged_version": new_version}
        return self._commit_merge(out_manifest, epoch, metrics)

    # -- write-audit-publish (WAP) --------------------------------------------

    def staged(self) -> "mf.Manifest | None":
        """The staged (un-published) snapshot, or None."""
        return mf.load_staged(self.table_path)

    def load_staged(self, **kwargs) -> DataFrame:
        """Read the staged snapshot's state — the audit step of WAP.  Same
        semantics as ``load`` (bucket pruning, column projection, MoR
        resolution) but resolved against the stage marker."""
        staged = self.staged()
        if staged is None:
            raise FileNotFoundError(f"no staged snapshot at {self.table_path}")
        return self.load(manifest=staged, **kwargs)

    def publish_staged(self) -> dict[str, Any]:
        """Atomically commit the staged snapshot (optimistic
        parent-version check — raises ``mf.StaleStagedError`` if the table
        advanced past the staged merge's parent)."""
        staged = mf.promote_staged(self.table_path)
        return {"published_version": staged.version, "epoch": staged.last_committed_epoch}

    def abort_staged(self) -> dict[str, Any]:
        """Drop the staged snapshot and delete its data files.  Only the
        dirs the staged manifest itself references AT ITS OWN VERSION are
        touched: a staged snapshot carries forward committed dirs for
        untouched buckets (never deleted here), and if a concurrent
        writer committed the same version number while the stage sat
        unaudited, the winner's dir is a different per-attempt token and
        is never referenced by the staged manifest — so it survives."""
        staged = mf.load_staged(self.table_path)
        if staged is None:
            return {"aborted": False}
        mf.discard_staged(self.table_path)
        own_dirs: set[str] = set()
        for entry in staged.buckets.values():
            for ref in (entry, *(entry.get("deltas") or [])):
                # data/<vdir>/<bucket=..> → keep the vdir component
                vdir = os.path.normpath(ref["path"]).split(os.sep)[1]
                if self._dir_version(vdir) == staged.version:
                    own_dirs.add(vdir)
        data_root = os.path.join(self.table_path, "data")
        for name in sorted(own_dirs):
            shutil.rmtree(os.path.join(data_root, name), ignore_errors=True)
        return {"aborted": True, "staged_version": staged.version}

    def vacuum(self, retain_after_ordinal: int) -> dict:
        """Garbage-collect tombstones with ordinal < ``retain_after_ordinal``.

        The horizon is the operator's promise that no event with a lower
        ordinal can still arrive (the reference's analog: its repair rescan
        window, sharepoint.ts:344-398).  A stale event BELOW the horizon
        arriving after vacuum would resurrect its key — same contract as
        Kafka log compaction's delete.retention.ms.  Rewrites every bucket
        containing an expired tombstone; untouched buckets carry forward.
        """
        m = self.manifest()
        new_version = m.version + 1
        full = self.load(include_tombstones=True)
        expired = F.coalesce(F.col("deleted"), F.lit(False)) & (
            F.col("ordinal") < F.lit(retain_after_ordinal)
        )
        affected = sorted(
            r[BUCKET_COLUMN]
            for r in full.where(expired).select(BUCKET_COLUMN).distinct().collect()
        )
        if not affected:
            return {"vacuumed_buckets": 0}
        keep = self.load(buckets=affected, include_tombstones=True).where(~expired)
        data_rel, data_dir = self._new_data_dir(new_version)
        (
            keep.repartition(max(1, len(affected)), BUCKET_COLUMN)
            .write.mode("overwrite")
            .options(**self._bloom_options())
            .partitionBy(BUCKET_COLUMN)
            .parquet(data_dir)
        )
        live = {
            int(name.split("=", 1)[1])
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        }
        buckets = dict(m.buckets)
        for b in affected:
            if b in live:
                buckets[str(b)] = {
                    "path": os.path.join(data_rel, f"{BUCKET_COLUMN}={b}"),
                    "schema_version": new_version,
                }
            else:
                buckets.pop(str(b), None)
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=new_version,
                last_committed_epoch=m.last_committed_epoch,
                schema=m.schema,
                buckets=buckets,
                n_buckets=m.n_buckets,
                metrics={"vacuum_below": retain_after_ordinal, "buckets": len(affected)},
                parent_version=m.version,
            ),
        )
        return {"vacuumed_buckets": len(affected)}

    def delete_where(self, predicate, ordinal: int) -> dict:
        """Targeted purge — right-to-be-forgotten at lake scale.

        Every LIVE row matching ``predicate`` (a Column or SQL string over
        the table's columns) is rewritten IN PLACE as a tombstone at
        ``ordinal``, with every payload and derived bookkeeping column
        (``content_sha`` included) nulled immediately — the purged bytes do
        not linger in the current snapshot waiting for a vacuum.  Only the
        matching rows' buckets are rewritten (copy-on-write, same shape as
        ``vacuum``); MoR delta stacks fold through the resolved rewrite.

        ``ordinal`` must exceed the changelog head, for the same reason
        every tombstone carries one: a stale pre-purge event replaying
        later must LOSE the ``s.ordinal > t.ordinal`` merge guard, or the
        purged key resurrects.  Downstream replicas converge through the
        normal feed path — the purge surfaces as ordinary ``delete``
        changes.

        This alone erases the CURRENT snapshot only.  Full physical
        erasure composes existing ops, in order:
        ``delete_where(pred, o)`` → ``vacuum(o + 1)`` (GC the purge
        tombstones themselves) → ``compact()`` (MoR tables: fold delta
        stacks — a SUPERSEDED pre-purge row version can still sit,
        invisible to readers, inside a delta-stacked bucket's base file
        when the purge predicate no longer matches the key's resolved
        row) → ``expire_snapshots(keep_last=1)`` (drop the time-travel
        snapshots that still hold the old bytes).  The composition is
        pinned, per write mode, by
        tests/test_purge.py::test_full_erasure_leaves_no_trace_on_disk.

        Idempotent: a re-run matches no live rows (they are tombstones
        now) and publishes nothing.
        """
        m = self.manifest()
        new_version = m.version + 1
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit_live = pred & ~F.coalesce(F.col("deleted"), F.lit(False))
        per_bucket = (
            self.load()
            .where(pred)
            .groupBy(BUCKET_COLUMN)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        affected = sorted(int(r[BUCKET_COLUMN]) for r in per_bucket)
        n_hit = sum(int(r["n"]) for r in per_bucket)
        if not affected:
            return {"purged_rows": 0, "purged_buckets": 0}

        rewrite = self.load(buckets=affected, include_tombstones=True)
        keep_as_is = {*KEY_COLUMNS, BUCKET_COLUMN}
        cols = []
        for name in rewrite.columns:
            if name in keep_as_is:
                cols.append(F.col(name))
            elif name == "ordinal":
                cols.append(
                    F.when(hit_live, F.lit(ordinal).cast("long"))
                    .otherwise(F.col(name)).alias(name)
                )
            elif name == "deleted":
                cols.append(
                    F.when(hit_live, F.lit(True)).otherwise(F.col(name)).alias(name)
                )
            else:
                cols.append(
                    F.when(hit_live, F.lit(None)).otherwise(F.col(name)).alias(name)
                )
        out = rewrite.select(*cols)
        data_rel, data_dir = self._new_data_dir(new_version)
        (
            out.repartition(max(1, len(affected)), BUCKET_COLUMN)
            .write.mode("overwrite")
            .options(**self._bloom_options())
            .partitionBy(BUCKET_COLUMN)
            .parquet(data_dir)
        )
        live = {
            int(name.split("=", 1)[1])
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        }
        buckets = dict(m.buckets)
        for b in affected:
            if b in live:
                buckets[str(b)] = {
                    "path": os.path.join(data_rel, f"{BUCKET_COLUMN}={b}"),
                    "schema_version": new_version,
                }
            else:
                buckets.pop(str(b), None)
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=new_version,
                last_committed_epoch=m.last_committed_epoch,
                schema=m.schema,
                buckets=buckets,
                n_buckets=m.n_buckets,
                metrics={
                    "purge_ordinal": ordinal,
                    "purged_rows": n_hit,
                    "buckets": len(affected),
                },
                parent_version=m.version,
            ),
        )
        return {"purged_rows": n_hit, "purged_buckets": len(affected)}

    def dv_delete(self, predicate, ordinal: int) -> dict:
        """Row-level delete via position-delete files — the Iceberg v2
        position-delete / Delta deletion-vector analog, and the cheap
        counterpart to ``delete_where``.

        Every LIVE row matching ``predicate`` is recorded in a tiny
        (file, pos) parquet set — the physical row's file path and
        row index — stacked onto its bucket's manifest entry.  NO data
        file is rewritten: deleting 1,000 rows from a 100 TB table writes
        kilobytes, where ``delete_where`` rewrites every matched bucket.
        ``load`` marks the positions as payload-free tombstones at
        ``ordinal`` before any MoR resolution, so the delete composes with
        delta stacks, the LWW merge guard (a stale pre-delete event
        replaying later loses to the DV tombstone), change feeds (the
        delete surfaces as an ordinary tombstone diff), and replication.

        ``ordinal`` must exceed the changelog head — same resurrection
        contract as every tombstone (``delete_where`` docstring).

        What this does NOT give you: physical erasure.  The deleted rows'
        bytes stay in their base files until ``compact()`` (folds DVs into
        a clean rewrite) or ``vacuum()`` (once the tombstones pass the
        horizon) rewrites the bucket — so right-to-be-forgotten purges
        should use ``delete_where``, which nulls the bytes in the same
        commit.  Readers pay one broadcast hash join against the DV set
        per scan until then.

        Idempotent: a re-run matches no live rows (they read as tombstones
        now) and publishes nothing.
        """
        import shutil

        m = self.manifest()
        if not m.buckets:
            return {"dv_rows": 0, "dv_buckets": 0}
        new_version = m.version + 1
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        prefix = "file:" + os.path.abspath(self.table_path) + "/"
        matched = (
            self.load(_with_positions=True)
            .where(pred)
            .select(
                F.col(BUCKET_COLUMN),
                F.expr(f"substring(_dv_file, {len(prefix) + 1})").alias("file"),
                F.col("_dv_pos").alias("pos"),
            )
        )
        data_rel, data_dir = self._new_data_dir(new_version)
        (
            matched.repartition(1)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COLUMN)
            .parquet(data_dir)
        )
        live = sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        )
        if not live:
            shutil.rmtree(data_dir, ignore_errors=True)
            return {"dv_rows": 0, "dv_buckets": 0}
        counts = {
            int(r[BUCKET_COLUMN]): int(r["n"])
            for r in self.spark.read.option("basePath", data_dir)
            .parquet(data_dir)
            .groupBy(BUCKET_COLUMN)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        buckets = dict(m.buckets)
        for b in live:
            entry = dict(buckets[str(b)])
            entry["dvs"] = list(entry.get("dvs") or []) + [
                {
                    "path": os.path.join(data_rel, f"{BUCKET_COLUMN}={b}"),
                    "schema_version": new_version,
                    "ordinal": ordinal,
                    "rows": counts.get(b, 0),
                }
            ]
            buckets[str(b)] = entry
        n_rows = sum(counts.values())
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=new_version,
                last_committed_epoch=m.last_committed_epoch,
                schema=m.schema,
                buckets=buckets,
                n_buckets=m.n_buckets,
                metrics={
                    "dv_delete_ordinal": ordinal,
                    "dv_rows": n_rows,
                    "buckets": len(live),
                },
                parent_version=m.version,
            ),
        )
        return {"dv_rows": n_rows, "dv_buckets": len(live)}

    def load_at_epoch(self, epoch: int) -> DataFrame:
        """State as of a committed epoch — the epoch-keyed face of time
        travel.  Resolves to the NEWEST retained manifest version whose
        ``last_committed_epoch`` equals ``epoch`` (later maintenance
        snapshots of the same epoch are logically identical and read
        faster post-compaction)."""
        match = [
            s["version"]
            for s in self.snapshots()
            if s["last_committed_epoch"] == epoch and s["readable"]
        ]
        if not match:
            raise ValueError(
                f"epoch {epoch} has no retained readable snapshot at {self.table_path}"
            )
        return self.load(version=match[-1])

    def lookup(
        self,
        keys: list[tuple[str, str]],
        version: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Point lookup of live rows for explicit ``(repo, path)`` keys.

        The 100 TB story: the driver computes each key's bucket id with the
        pure-Python xxhash64 twin (functions/hashing.xxhash64_strings_py —
        bit-identical to ``bucket_of``, parity-tested), so pruning to
        ``len(keys)`` of ``n_buckets`` buckets costs ZERO Spark jobs, and
        the key equality predicate is pushed into the parquet scan
        (``PushedFilters``), so row groups whose repo/path min/max can't
        match are skipped inside the surviving files too.  Rows inside a
        bucket sit in key-hash order, so min/max spans are wide; tables
        written with ``bloom_filter_ndv`` set additionally carry parquet
        split-block blooms on (repo, path), and parquet-mr's row-group
        filter then drops non-matching row groups with zero page reads.
        Net: a handful of row groups read, regardless of table size.  MoR
        buckets still resolve their delta stack, but only for the pruned
        buckets.

        Plan shape pinned by tests/test_plans.py (scan lists only the
        looked-up buckets' files; filters reach the scan).
        """
        if not keys:
            raise ValueError("lookup() needs at least one (repo, path) key")
        m = self.manifest(version)
        bs = sorted(
            {
                int(xxhash64_strings_py(r, p) % m.n_buckets)
                for r, p in keys
            }
        )
        df = self.load(buckets=bs, version=version, columns=columns)
        pred = None
        for r, p in keys:
            one = (F.col("repo") == F.lit(r)) & (F.col("path") == F.lit(p))
            pred = one if pred is None else (pred | one)
        return df.where(pred)

    # -- named refs (tags) -----------------------------------------------------

    def tag(self, name: str, version: int | None = None) -> dict[str, int]:
        """Pin a snapshot version under a name (the Iceberg tag analog).

        A tagged version survives ``expire_snapshots`` fully readable no
        matter how old it gets — the retention pin for "prod", an audit
        cut, or a reproducible-training-run input.  Refuses unreadable
        (schema-only-retained) versions.  Returns the updated ref set."""
        m = self.manifest(version)  # raises if the version doesn't exist
        if m.metrics.get("schema_only_retained"):
            raise ValueError(
                f"version {m.version} is schema-only retained (its data was "
                f"GC'd before tagging) — tags must pin readable versions"
            )
        refs = mf.load_refs(self.table_path)
        refs[name] = m.version
        mf.save_refs(self.table_path, refs)
        return refs

    def drop_tag(self, name: str) -> bool:
        refs = mf.load_refs(self.table_path)
        if name not in refs:
            return False
        del refs[name]
        mf.save_refs(self.table_path, refs)
        return True

    def tags(self) -> dict[str, int]:
        return mf.load_refs(self.table_path)

    def load_tag(self, name: str, **kwargs) -> DataFrame:
        """Snapshot read pinned by a named ref — ``load(version=tags()[name])``."""
        refs = mf.load_refs(self.table_path)
        if name not in refs:
            raise KeyError(f"no tag {name!r} at {self.table_path}")
        return self.load(version=refs[name], **kwargs)

    def key_history(self, repo: str, path: str) -> DataFrame:
        """Audit walk of one key across every retained readable snapshot —
        "how did this row evolve" (the per-key face of time travel; the
        change data feed answers the per-version question).

        One ``lookup`` per readable version, unioned with the snapshot
        version and its committed epoch stamped on; each branch reads a
        single bucket with the key pushed down, so the whole plan touches
        ``n_versions`` buckets worth of row groups, never the table.
        Returns one row per snapshot where the key was live (absent rows =
        deleted or not yet inserted at that version).
        """
        parts = []
        for s in self.snapshots():
            if not s["readable"]:
                continue
            parts.append(
                self.lookup([(repo, path)], version=s["version"])
                .withColumn("snapshot_version", F.lit(s["version"]))
                .withColumn("as_of_epoch", F.lit(s["last_committed_epoch"]))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def rollback(self, version: int) -> dict:
        """Restore the table head to an earlier snapshot as a NEW commit
        (Delta ``RESTORE`` / Iceberg ``rollback_to_snapshot``).

        Metadata-only: the new manifest re-references the target version's
        bucket→file mapping, schema, bucket count and committed epoch — no
        data moves, so restoring a 100 TB table costs one manifest CAS.
        History is preserved (the rolled-past versions stay readable until
        ``expire_snapshots``), and the restored head keeps the target's
        data dirs alive through GC because ``expire_snapshots`` walks
        referenced paths from retained manifests.

        ``last_committed_epoch`` resets to the target's, so a subsequent
        ``replay`` resumes at the epoch AFTER the restored snapshot and
        re-applies the changelog tail — the reprocess-from-snapshot recipe
        (bad deploy wrote epochs 5-7 → rollback to the epoch-4 snapshot,
        fix, replay; exactly-once stamps make the re-application safe).

        Refuses to restore a version whose data was GC'd
        (``schema_only_retained``) and a no-op restore to the current
        version.  CAS-published: losing a race to a concurrent writer
        raises ``CommitConflictError`` — re-plan on the new head.
        """
        cur = mf.current_version(self.table_path)
        if cur is None:
            raise FileNotFoundError(f"no table at {self.table_path}")
        if version == cur:
            raise ValueError(f"table is already at version {version}")
        target = self.manifest(version)  # FileNotFoundError if expired
        if target.metrics.get("schema_only_retained"):
            raise ValueError(
                f"version {version} is schema-only retained (its data was "
                "GC'd by expire_snapshots) and cannot be restored"
            )
        new = mf.Manifest(
            version=cur + 1,
            last_committed_epoch=target.last_committed_epoch,
            schema=target.schema,
            buckets={k: dict(v) for k, v in target.buckets.items()},
            n_buckets=target.n_buckets,
            metrics={"rollback_of": version},
            parent_version=cur,
        )
        mf.publish(self.table_path, new)
        return {
            "restored_version": version,
            "new_version": new.version,
            "last_committed_epoch": new.last_committed_epoch,
        }

    # -- table maintenance -----------------------------------------------------

    def rebucket(self, new_n_buckets: int) -> dict:
        """Re-partition the table onto a different bucket count (the
        explicit re-bucketing a growing table eventually needs: buckets
        sized for 1 TB are hot spots at 100 TB).  A deliberate full-table
        rewrite — ONE shuffle on the new bucket key, one write — after
        which every merge/load/change_feed picks the new count up from the
        manifest; ``last_committed_epoch`` is unchanged so the replay
        resumes exactly where it was.  Tombstones ride along (they are
        state).  The old snapshot remains time-travel-readable until
        ``expire_snapshots``."""
        m = self.manifest()
        if new_n_buckets == m.n_buckets:
            return {"rebucketed": False, "n_buckets": m.n_buckets}
        new_version = m.version + 1
        full = self.load(include_tombstones=True).drop(BUCKET_COLUMN)
        out = full.withColumn(BUCKET_COLUMN, bucket_of(new_n_buckets))
        data_rel, data_dir = self._new_data_dir(new_version)
        (
            out.repartition(new_n_buckets, BUCKET_COLUMN)
            .write.mode("overwrite")
            .options(**self._bloom_options())
            .partitionBy(BUCKET_COLUMN)
            .parquet(data_dir)
        )
        buckets = {
            name.split("=", 1)[1]: {
                "path": os.path.join(data_rel, name),
                "schema_version": new_version,
            }
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        }
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=new_version,
                last_committed_epoch=m.last_committed_epoch,
                schema=m.schema,
                buckets=buckets,
                n_buckets=new_n_buckets,
                metrics={"rebucket_from": m.n_buckets, "rebucket_to": new_n_buckets},
                parent_version=m.version,
            ),
        )
        self.n_buckets = new_n_buckets
        return {"rebucketed": True, "n_buckets": new_n_buckets}

    def compact(
        self,
        target_files_per_bucket: int = 1,
        min_files: int = 2,
        zorder: list[str] | None = None,
        fold_deltas: bool = True,
        target_file_bytes: int | None = None,
    ) -> dict:
        """Small-file compaction (the Iceberg ``rewrite_data_files`` analog).

        ``zorder=[col, ...]`` additionally lays each rewritten bucket out
        along the Morton curve of those columns (``OPTIMIZE ZORDER BY``):
        rows sort by z-value within every file, and with
        ``target_files_per_bucket > 1`` the sub-split becomes contiguous
        z-ranges instead of a hash — so per-file AND per-row-group min/max
        stats prune scans on every clustered column (operators/zorder.py).
        Pure layout change either way: same rows, same epoch, asserted by
        test.

        Long replay histories accumulate buckets written with
        ``files_per_bucket > 1`` (the write-parallelism sub-split) or by
        multi-task writes; at scan time each file costs a task + a footer
        read, so at 100 TB a 10×-overfiled table reads 10× slower than its
        data volume warrants.  Rewrites every bucket whose parquet file
        count exceeds ``min_files`` down to ``target_files_per_bucket``,
        publishes a new manifest version, and carries untouched buckets
        forward by reference — data content is bit-identical (pure layout
        change, asserted by test), ``last_committed_epoch`` unchanged, so
        compaction can run concurrently-safe between epochs at any time.

        Merge-on-read buckets (``write_mode="mor"``) are ALWAYS folded:
        their base+delta sets resolve through ``load`` and rewrite as a
        plain single base, clearing the delta refs — the logical rows are
        unchanged (asserted by test) but readers stop paying the per-key
        resolution window.  This is the Hudi compactor's role.
        """
        m = self.manifest()
        affected: list[int] = []
        # ``target_file_bytes`` sizes each bucket's rewrite to ~that many
        # bytes per output file from its CURRENT on-disk bytes (driver stat
        # walk) — the Iceberg rewrite_data_files target-file-size-bytes
        # option, per bucket.  It supersedes target_files_per_bucket.
        want_n: dict[int, int] = {}
        for b, entry in m.buckets.items():
            dirs = [entry["path"], *(d["path"] for d in entry.get("deltas") or [])]
            n_files = sum(
                1
                for rel in dirs
                for f in os.listdir(os.path.join(self.table_path, rel))
                if f.startswith("part-") and f.endswith(".parquet")
            )
            if target_file_bytes:
                total = sum(self._dir_bytes(rel) for rel in dirs)
                want_n[int(b)] = min(512, max(1, -(-total // target_file_bytes)))
            # merge-on-read buckets fold by default: compaction is what pays
            # down their read-side resolution window.  ``fold_deltas=False``
            # (the replay's auto-compact policy) defers them to the same
            # file-count threshold as plain buckets, so MoR keeps its low
            # write amplification until a stack is actually deep.  A zorder
            # request rewrites every bucket — re-laying-out rows is the job
            # even when the file count is already at target.
            if (
                zorder
                or (fold_deltas and (entry.get("deltas") or entry.get("dvs")))
                or (
                    n_files != want_n[int(b)]
                    if target_file_bytes
                    else n_files > max(min_files, target_files_per_bucket)
                )
            ):
                affected.append(int(b))
        if not affected:
            return {"compacted_buckets": 0, "files_written": 0}
        affected.sort()
        new_version = m.version + 1
        keep = self.load(buckets=affected, include_tombstones=True)
        data_rel, data_dir = self._new_data_dir(new_version)
        n_parts = max(1, len(affected) * max(1, target_files_per_bucket))
        zc = None
        if zorder:
            from jurisprudencia_privada_etl_spark.operators.zorder import zvalue

            z_bits = 8
            keep, zc = zvalue(keep, zorder, bits=z_bits)
            z_span = 1 << (z_bits * len(zorder))
        adaptive = {b: want_n.get(b, 1) for b in affected} if target_file_bytes else None
        if adaptive and any(v > 1 for v in adaptive.values()):
            # per-bucket sub-split from the byte target: a broadcast
            # (bucket → n) lookup, so over-target buckets fan wider than
            # small ones inside the same rewrite exchange
            n_parts = sum(adaptive.values())
            nsub = self.spark.createDataFrame(
                [(int(b), int(v)) for b, v in sorted(adaptive.items())],
                f"{BUCKET_COLUMN} int, _nsub int",
            )
            keep = keep.join(F.broadcast(nsub), BUCKET_COLUMN, "left").withColumn(
                "_nsub", F.coalesce(F.col("_nsub"), F.lit(1))
            )
            if zc is not None:
                sub = F.least(
                    F.col("_nsub") - 1,
                    F.floor(F.col(zc) * F.col("_nsub") / F.lit(z_span)),
                )
            else:
                sub = F.pmod(F.xxhash64(*KEY_COLUMNS, F.lit(-1)), F.col("_nsub"))
            parted = keep.repartition(n_parts, F.col(BUCKET_COLUMN), sub).drop("_nsub")
        elif target_files_per_bucket > 1:
            if zc is not None:
                # contiguous z-ranges per file (not a hash): each file owns
                # a Morton sub-cube, so its stats stay tight on every dim
                f = target_files_per_bucket
                sub = F.least(
                    F.lit(f - 1), F.floor(F.col(zc) * F.lit(f) / F.lit(z_span))
                )
            else:
                sub = F.pmod(
                    F.xxhash64(*KEY_COLUMNS, F.lit(-1)), F.lit(target_files_per_bucket)
                )
            parted = keep.repartition(n_parts, F.col(BUCKET_COLUMN), sub)
        else:
            parted = keep.repartition(self._write_tasks(n_parts), BUCKET_COLUMN)
        if zc is not None:
            parted = parted.sortWithinPartitions(BUCKET_COLUMN, zc).drop(zc)
        parted.write.mode("overwrite").options(**self._bloom_options()).partitionBy(
            BUCKET_COLUMN
        ).parquet(data_dir)
        live = {
            int(name.split("=", 1)[1])
            for name in os.listdir(data_dir)
            if name.startswith(f"{BUCKET_COLUMN}=")
        }
        files_written = 0
        buckets = dict(m.buckets)
        for b in affected:
            if b in live:
                rel = os.path.join(data_rel, f"{BUCKET_COLUMN}={b}")
                buckets[str(b)] = {"path": rel, "schema_version": new_version}
                files_written += sum(
                    1
                    for f in os.listdir(os.path.join(self.table_path, rel))
                    if f.startswith("part-") and f.endswith(".parquet")
                )
            else:  # pragma: no cover - compaction never drops a live bucket
                buckets.pop(str(b), None)
        mf.publish(
            self.table_path,
            mf.Manifest(
                version=new_version,
                last_committed_epoch=m.last_committed_epoch,
                schema=m.schema,
                buckets=buckets,
                n_buckets=m.n_buckets,
                metrics={"compacted_buckets": len(affected), "files_written": files_written},
                parent_version=m.version,
            ),
        )
        return {"compacted_buckets": len(affected), "files_written": files_written}

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Reclaim space held by old snapshots (Iceberg ``expire_snapshots``).

        Copy-on-write keeps every superseded bucket file alive so time-travel
        works; at scale that is unbounded growth — every merge strands the
        touched buckets' previous files.  Retains the newest ``keep_last``
        manifest versions PLUS every older manifest still referenced as a
        ``schema_version`` by a retained bucket entry (those manifests carry
        the column-id mapping ``load`` needs — dropping them would break
        reads of un-rewritten old buckets); the schema-only survivors are
        tagged ``schema_only_retained`` so ``snapshots()`` reports them
        unreadable and ``load_at_epoch`` never resolves a read to them
        (their own data dirs are GC'd).  Deletes, at per-bucket-dir
        granularity, every data directory no retained manifest references,
        then prunes empty ``data/v{N}`` parents and the expired manifest
        files.  Time-travel to an expired version raises FileNotFoundError.
        """
        import shutil

        if self._is_branch_root():
            raise RuntimeError(
                "GC must run on the main table, not a branch — branch data "
                "dirs live in shared storage a branch-local walk can't see"
            )
        cur = mf.current_version(self.table_path)
        if cur is None:
            return {"expired_manifests": 0, "deleted_bucket_dirs": 0}
        mdir = os.path.join(self.table_path, mf.MANIFEST_DIR)
        versions = sorted(
            int(n[1:9]) for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")
        )
        # tagged versions are retention pins: fully readable forever,
        # however far past keep_last they fall (drop_tag releases them)
        pinned = {v for v in mf.load_refs(self.table_path).values() if v in versions}
        fully_retained = set(versions[-max(1, keep_last):]) | pinned
        # schema_version back-references keep their manifests alive — but
        # JSON only: their data dirs are GC'd below unless a fully-retained
        # manifest still references the same paths
        retained = set(fully_retained)
        referenced_paths: set[str] = set()
        for v in list(retained):
            m = mf.load(self.table_path, v)
            for entry in m.buckets.values():
                retained.add(entry["schema_version"])
                referenced_paths.add(os.path.normpath(entry["path"]))
                for d in entry.get("deltas") or []:  # merge-on-read delta refs
                    retained.add(d["schema_version"])
                    referenced_paths.add(os.path.normpath(d["path"]))
                for d in entry.get("dvs") or []:  # position-delete sets
                    referenced_paths.add(os.path.normpath(d["path"]))
        # branch refs are live data in shared storage, whatever main retains
        referenced_paths |= self._branch_referenced_paths()
        expired = [v for v in versions if v not in retained]
        # tag schema-only retained manifests so snapshots()/load_at_epoch
        # never resolve a read to a version whose data is gone (the manifest
        # survives ONLY for its column-id mapping)
        for v in sorted(retained - fully_retained):
            m = mf.load(self.table_path, v)
            if not m.metrics.get("schema_only_retained"):
                m.metrics["schema_only_retained"] = True
                # same-version metadata tag, not a state change — the one
                # sanctioned overwrite publish
                mf.publish(self.table_path, m, overwrite=True)

        # per-bucket-dir GC of unreferenced data.  Only dirs at or below the
        # COMMITTED version are candidates: an in-flight merge writes at
        # current+1 and must never be swept; crash/CAS-loser orphans (their
        # version number has since committed under another token) fall out
        # here for free.
        committed = mf.current_version(self.table_path) or 0
        deleted_dirs = 0
        data_root = os.path.join(self.table_path, "data")
        if os.path.isdir(data_root):
            for vdir in sorted(os.listdir(data_root)):
                vpath = os.path.join(data_root, vdir)
                dv = self._dir_version(vdir)
                if not os.path.isdir(vpath) or dv is None or dv > committed:
                    continue
                for bdir in os.listdir(vpath):
                    rel = os.path.normpath(os.path.join("data", vdir, bdir))
                    if bdir.startswith(f"{BUCKET_COLUMN}=") and rel not in referenced_paths:
                        shutil.rmtree(os.path.join(vpath, bdir), ignore_errors=True)
                        deleted_dirs += 1
                if not any(n.startswith(f"{BUCKET_COLUMN}=") for n in os.listdir(vpath)):
                    shutil.rmtree(vpath, ignore_errors=True)
        for v in expired:
            try:
                os.remove(os.path.join(mdir, f"v{v:08d}.json"))
            except FileNotFoundError:  # pragma: no cover
                pass
        return {"expired_manifests": len(expired), "deleted_bucket_dirs": deleted_dirs}

    def remove_orphan_files(
        self, older_than_s: float = 259_200.0, dry_run: bool = False
    ) -> dict:
        """Sweep data dirs no manifest references — Iceberg's
        ``remove_orphan_files`` procedure, the third maintenance op next to
        ``compact`` and ``expire_snapshots``.

        ``expire_snapshots`` only GCs dirs at or BELOW the committed version
        (an in-flight merge writes at current+1, so higher dirs must stay
        untouchable there).  That leaves one leak: a writer that crashed
        after its data write but before its manifest CAS strands a
        ``v{N}-{token}`` dir ABOVE the committed version, and if no later
        merge ever advances past N, no expire sweep will ever consider it.
        This procedure closes that hole with the same safety valve Iceberg
        uses: only dirs whose mtime is older than ``older_than_s`` (default
        3 days) are candidates, so a genuinely in-flight writer — which by
        definition wrote recently — is never raced.  Additionally protected,
        regardless of age: every dir referenced by ANY manifest version
        still on disk (expired manifests are gone, so their dirs are fair
        game — consistent with expire_snapshots) and the staged (WAP)
        snapshot's own dirs, which may legitimately sit un-audited for
        longer than the horizon.

        Granularity is per bucket dir: a partially-referenced attempt dir
        (possible only after manual surgery — normal commits reference all
        their buckets or none) keeps its referenced buckets.  ``dry_run``
        reports what WOULD be deleted without touching anything.

        The walk is metadata-proportional (version dirs × bucket dirs, no
        data reads); Iceberg's procedure distributes the listing for
        object-store trees too large for one process — the same lift
        applies here (parallelize ``os.listdir`` over executors) long
        before data volume is a factor.
        """
        import shutil
        import time

        if self._is_branch_root():
            raise RuntimeError(
                "GC must run on the main table, not a branch — branch data "
                "dirs live in shared storage a branch-local walk can't see"
            )
        cutoff = time.time() - older_than_s
        mdir = os.path.join(self.table_path, mf.MANIFEST_DIR)
        referenced: set[str] = set()
        manifests: list[mf.Manifest] = []
        if os.path.isdir(mdir):
            for n in sorted(os.listdir(mdir)):
                if n.startswith("v") and n.endswith(".json"):
                    m = mf.load(self.table_path, int(n[1:9]))
                    if m is not None:
                        manifests.append(m)
        staged = mf.load_staged(self.table_path)
        staged_vdirs: set[str] = set()
        for m in manifests + ([staged] if staged else []):
            for entry in m.buckets.values():
                for ref in (entry, *(entry.get("deltas") or []), *(entry.get("dvs") or [])):
                    referenced.add(os.path.normpath(ref["path"]))
                    if m is staged:
                        parts = os.path.normpath(ref["path"]).split(os.sep)
                        if len(parts) >= 2:
                            staged_vdirs.add(parts[1])
        referenced |= self._branch_referenced_paths()

        orphans: list[str] = []
        orphan_files = 0
        orphan_bytes = 0

        def _account(path: str) -> None:
            nonlocal orphan_files, orphan_bytes
            for root, _dirs, files in os.walk(path):
                for f in files:
                    orphan_files += 1
                    try:
                        orphan_bytes += os.path.getsize(os.path.join(root, f))
                    except OSError:  # pragma: no cover - racing deletes
                        pass

        data_root = os.path.join(self.table_path, "data")
        if os.path.isdir(data_root):
            for vdir in sorted(os.listdir(data_root)):
                vpath = os.path.join(data_root, vdir)
                if self._dir_version(vdir) is None or not os.path.isdir(vpath):
                    continue  # unknown layout — never touch
                if vdir in staged_vdirs:
                    continue  # WAP stage: protected regardless of age
                subs = [n for n in os.listdir(vpath) if n.startswith(f"{BUCKET_COLUMN}=")]
                live = {
                    n for n in subs
                    if os.path.normpath(os.path.join("data", vdir, n)) in referenced
                }
                candidates = (
                    [vpath] if not live
                    else [os.path.join(vpath, n) for n in sorted(set(subs) - live)]
                )
                for c in candidates:
                    try:
                        if os.path.getmtime(c) >= cutoff:
                            continue  # inside the in-flight-writer horizon
                    except OSError:  # pragma: no cover - racing deletes
                        continue
                    rel = os.path.relpath(c, self.table_path)
                    orphans.append(rel)
                    _account(c)
                    if not dry_run:
                        shutil.rmtree(c, ignore_errors=True)
        return {
            "orphan_dirs": orphans,
            "orphan_files": orphan_files,
            "orphan_bytes": orphan_bytes,
            "dry_run": dry_run,
        }

    # -- branches (Iceberg branch refs, emulated as forked metadata roots) ----
    #
    # A branch is a second metadata root (`_branches/<name>/_manifest/`)
    # over the SAME physical data (`data` is a symlink to the main table's
    # data dir).  Branch commits go through the unchanged merge/CAS
    # machinery — copy-on-write means they only ADD data dirs, never touch
    # main's — so the full engine (MoR, WAP, schema evolution, time travel
    # within the branch) works on a branch with zero new write-path code.
    # Iceberg's analog: `ALTER TABLE .. CREATE BRANCH` + writing to
    # `table.branch_<name>` + the `fast_forward` procedure.

    BRANCHES_DIR = "_branches"

    def _is_branch_root(self) -> bool:
        return os.path.islink(os.path.join(self.table_path, "data"))

    def _branch_root(self, name: str) -> str:
        import re

        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name):
            raise ValueError(f"invalid branch name {name!r}")
        return os.path.join(self.table_path, self.BRANCHES_DIR, name)

    def _branch_referenced_paths(self) -> set[str]:
        """Every data path any branch manifest (or branch WAP stage) still
        references — the GC-protection set shared by ``expire_snapshots``
        and ``remove_orphan_files``: branch data lives in the main table's
        ``data/`` dir, so main-side GC must treat branch refs as live."""
        out: set[str] = set()
        broot = os.path.join(self.table_path, self.BRANCHES_DIR)
        if not os.path.isdir(broot):
            return out
        for name in sorted(os.listdir(broot)):
            b = os.path.join(broot, name)
            mdir = os.path.join(b, mf.MANIFEST_DIR)
            if not os.path.isdir(mdir):
                continue
            manifests = [
                mf.load(b, int(n[1:9]))
                for n in os.listdir(mdir)
                if n.startswith("v") and n.endswith(".json")
            ]
            staged = mf.load_staged(b)
            if staged is not None:
                manifests.append(staged)
            for m in manifests:
                if m is None:
                    continue
                for entry in m.buckets.values():
                    for ref in (entry, *(entry.get("deltas") or []), *(entry.get("dvs") or [])):
                        out.add(os.path.normpath(ref["path"]))
        return out

    def create_branch(self, name: str, version: int | None = None) -> dict:
        """Fork a branch at ``version`` (default: current head).

        Copies every manifest ≤ the fork version into the branch's own
        metadata root (manifests are tiny — this is Iceberg's shared
        metadata, materialized) so ``schema_version`` back-references and
        branch-local time travel resolve without reaching into main, and
        symlinks the shared data dir.  No data is copied or moved.
        """
        import json

        if self._is_branch_root():
            raise ValueError("nested branches are not supported; branch from the main table")
        root = self._branch_root(name)
        if os.path.exists(root):
            raise ValueError(f"branch {name!r} already exists")
        cur = mf.current_version(self.table_path)
        if cur is None:
            raise FileNotFoundError(f"no table at {self.table_path}")
        fork = cur if version is None else version
        if mf.load(self.table_path, fork) is None:  # pragma: no cover - guarded by caller
            raise FileNotFoundError(f"no manifest v{fork} at {self.table_path}")
        src_mdir = os.path.join(self.table_path, mf.MANIFEST_DIR)
        dst_mdir = os.path.join(root, mf.MANIFEST_DIR)
        os.makedirs(dst_mdir)
        copied = 0
        for n in sorted(os.listdir(src_mdir)):
            if n.startswith("v") and n.endswith(".json") and int(n[1:9]) <= fork:
                shutil.copyfile(os.path.join(src_mdir, n), os.path.join(dst_mdir, n))
                copied += 1
        os.makedirs(os.path.join(self.table_path, "data"), exist_ok=True)
        os.symlink(os.path.join("..", "..", "data"), os.path.join(root, "data"))
        with open(os.path.join(root, "branch.json"), "w") as f:
            json.dump({"name": name, "fork_version": fork}, f)
        return {"branch": name, "fork_version": fork, "manifests_copied": copied}

    def branch(self, name: str) -> "HadoopParquetSink":
        """A sink rooted at the branch — same engine, isolated metadata."""
        root = self._branch_root(name)
        if not os.path.isdir(root):
            raise FileNotFoundError(f"no branch {name!r} at {self.table_path}")
        return HadoopParquetSink(
            self.spark, root, n_buckets=self.n_buckets,
            merge_strategy=self.merge_strategy,
            files_per_bucket=self.files_per_bucket,
            write_mode=self.write_mode, bloom_filter_ndv=self.bloom_filter_ndv,
            target_file_bytes=self.target_file_bytes,
            parquet_compression_ratio=self.parquet_compression_ratio,
        )

    def branches(self) -> list[dict]:
        import json

        broot = os.path.join(self.table_path, self.BRANCHES_DIR)
        out: list[dict] = []
        if not os.path.isdir(broot):
            return out
        for name in sorted(os.listdir(broot)):
            b = os.path.join(broot, name)
            meta_path = os.path.join(b, "branch.json")
            if not os.path.isfile(meta_path):
                continue
            with open(meta_path) as f:
                meta = json.load(f)
            head = mf.current_version(b)
            m = mf.load(b, head) if head is not None else None
            out.append({
                "name": name,
                "fork_version": meta["fork_version"],
                "head_version": head,
                "last_committed_epoch": m.last_committed_epoch if m else None,
            })
        return out

    def drop_branch(self, name: str) -> dict:
        """Delete the branch's metadata root.  Its data dirs (shared
        storage, now unreferenced) become orphans for
        ``remove_orphan_files`` / ``expire_snapshots`` to reclaim.
        ``shutil.rmtree`` unlinks the ``data`` symlink without following
        it, so shared data is never touched here."""
        root = self._branch_root(name)
        if not os.path.isdir(root):
            return {"dropped": False}
        shutil.rmtree(root)
        return {"dropped": True, "branch": name}

    def fast_forward(self, name: str) -> dict:
        """Adopt the branch's commits onto main — Iceberg's
        ``fast_forward`` procedure.

        Requires main's head to still BE the fork point (strictly-ahead
        semantics; a diverged main must re-branch/rebase — merge is out of
        scope, as in Iceberg).  Each branch manifest from fork+1 to the
        branch head is published into main through the normal CAS, so a
        concurrent main commit loses exactly one of the two writers and the
        fast-forward aborts cleanly on ``CommitConflictError``.  Every
        adopted version is a consistent snapshot (it was one on the
        branch), so readers racing the adoption see monotone state.  After
        adoption, main's ``last_committed_epoch`` is the branch's — the
        replay loop resumes exactly where the branch left off.
        """
        import json

        root = self._branch_root(name)
        meta_path = os.path.join(root, "branch.json")
        if not os.path.isfile(meta_path):
            raise FileNotFoundError(f"no branch {name!r} at {self.table_path}")
        with open(meta_path) as f:
            fork = json.load(f)["fork_version"]
        cur = mf.current_version(self.table_path)
        if cur != fork:
            raise mf.CommitConflictError(
                f"main advanced past the fork point (v{fork} -> v{cur}); "
                f"fast-forward must be strictly ahead — re-branch from the "
                f"new head and replay the branch's epochs onto it"
            )
        head = mf.current_version(root)
        adopted: list[int] = []
        for v in range(fork + 1, (head or fork) + 1):
            m = mf.load(root, v)
            if m is None:  # pragma: no cover - branch versions are contiguous
                continue
            mf.publish(self.table_path, m)
            adopted.append(v)
        return {
            "fast_forwarded": name,
            "adopted_versions": adopted,
            "new_head": mf.current_version(self.table_path),
        }


class IcebergSink:
    """Production sink: real Iceberg MERGE INTO / ALTER TABLE / snapshot
    properties.  Requires iceberg-spark-runtime on the classpath (absent in
    this sandbox — constructor raises if the extension is missing).  Built
    directly, not by ``plans.open_sink``: the replay driver needs
    ``key_stats``, ``manifest()`` and the staged merge, which this sink does
    not offer.  Key-column blooms are a table property here
    (``write.parquet.bloom-filter-enabled.column.<c>``), not a writer knob."""

    def __init__(self, spark: SparkSession, table: str, write_mode: str = "cow"):
        self.spark = spark
        self.table = table
        # "cow" | "mor": on the real Iceberg runtime the merge-on-read trade
        # is a v2 table-property choice (position/equality delete files
        # instead of rewritten data files); the engine's MERGE/maintenance
        # SQL is identical in both modes — Iceberg picks the physical
        # strategy from write.merge.mode, the analog of HadoopParquetSink's
        # delta-file emulation.
        self.write_mode = write_mode
        try:
            spark._jvm.org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions  # noqa: B018, SLF001
        except Exception as e:  # pragma: no cover - sandbox has no iceberg jar
            raise RuntimeError("iceberg-spark-runtime not on classpath") from e

    def _has_column(self, name: str) -> bool:
        return name in self.spark.table(self.table).columns

    def create(self, schema: TableSchema) -> None:
        ddl = ", ".join(f"{c.name} {c.dtype}" for c in schema.columns)
        mode = "merge-on-read" if self.write_mode == "mor" else "copy-on-write"
        props = ", ".join(
            [
                "'format-version'='2'",  # row-level deletes need v2
                f"'write.merge.mode'='{mode}'",
                f"'write.update.mode'='{mode}'",
                f"'write.delete.mode'='{mode}'",
            ]
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} ({ddl}, ordinal bigint, "
            f"content_sha string, deleted boolean) USING iceberg "
            f"PARTITIONED BY (bucket(64, repo)) "
            f"TBLPROPERTIES ({props})"
        )
        # migration: tables created before the soft-delete model lack the
        # column.  Spark SQL has no ADD COLUMN IF NOT EXISTS (that form only
        # exists for ADD PARTITION), so probe the catalog schema first and
        # issue a plain ADD COLUMNS only when it is actually missing.
        if not self._has_column("deleted"):
            self.spark.sql(f"ALTER TABLE {self.table} ADD COLUMNS (deleted boolean)")

    def evolve(self, changes: list[SchemaChange]) -> None:
        for ch in changes:
            if ch.kind == "add":
                # same IF-NOT-EXISTS caveat as create(): probe, then plain ADD
                if not self._has_column(ch.name):
                    self.spark.sql(
                        f"ALTER TABLE {self.table} ADD COLUMNS ({ch.name} {ch.dtype})"
                    )
            elif ch.kind == "rename":
                self.spark.sql(f"ALTER TABLE {self.table} RENAME COLUMN {ch.name} TO {ch.new_name}")
            elif ch.kind == "widen":
                # Iceberg validates the promotion server-side (int→bigint,
                # float→double, decimal precision growth); the parquet sink's
                # widen_column applies the same rule locally
                self.spark.sql(f"ALTER TABLE {self.table} ALTER COLUMN {ch.name} TYPE {ch.dtype}")
            elif ch.kind == "drop":
                # Iceberg drops are metadata-only and id-tracked natively
                # (last-column-id), mirroring TableSchema.drop_column; probe
                # first so a crash-replayed epoch's re-apply stays a no-op
                if ch.name in KEY_COLUMNS:
                    raise ValueError(f"cannot drop key column {ch.name!r}")
                if self._has_column(ch.name):
                    self.spark.sql(f"ALTER TABLE {self.table} DROP COLUMN {ch.name}")

    def last_committed_epoch(self) -> int:
        """Epoch stamp from the table property set at each commit (falls back
        to the latest snapshot's summary for tables stamped via write
        options).  -1 = nothing committed."""
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.table}").collect()
        props = {r["key"]: r["value"] for r in rows}
        v = props.get(mf.EPOCH_PROPERTY)
        if v is None:
            snap = self.spark.sql(
                f"SELECT summary['{mf.EPOCH_PROPERTY}'] AS e FROM {self.table}.snapshots "
                f"ORDER BY committed_at DESC LIMIT 1"
            ).collect()
            v = snap[0]["e"] if snap else None
        return int(v) if v is not None else -1

    def merge(self, updates: DataFrame, epoch: int) -> dict:
        """Same merge contract as HadoopParquetSink.merge (shared gate:
        manifest.epoch_already_applied):

        * exactly-once — skip when the epoch stamp says ``>= epoch``;
        * tombstones are RETAINED as soft-delete rows (``deleted = true``)
          with their ordinal, so a stale lower-ordinal event in a later
          epoch cannot resurrect a deleted key (identical to the parquet
          sink's soft-delete model; Iceberg's own row filtering handles GC
          via a DELETE-past-horizon vacuum).

        The epoch stamp is a table property set AFTER the MERGE commits, so
        stamp-then-crash cannot lose data; crash BETWEEN merge and stamp
        re-runs the epoch, which the strict ``s.ordinal > t.ordinal`` guard
        makes a row-level no-op (every row already carries its ordinal,
        tombstones included) — idempotent either way.
        """
        if mf.epoch_already_applied(self.last_committed_epoch(), epoch):
            return {"skipped": True, "epoch": epoch, "reason": "already committed"}
        updates.createOrReplaceTempView("_updates")
        cols = [c for c in updates.columns if c not in ("op",)]
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
        sets += ", t.deleted = (s.op = 'D')"
        ins_cols = ", ".join([*cols, "deleted"])
        ins_vals = ", ".join([*[f"s.{c}" for c in cols], "(s.op = 'D')"])
        self.spark.sql(
            f"""
            MERGE INTO {self.table} t
            USING _updates s
            ON t.repo = s.repo AND t.path = s.path
            WHEN MATCHED AND s.ordinal > t.ordinal THEN UPDATE SET {sets}
            WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})
            """
        )
        self.spark.sql(
            f"ALTER TABLE {self.table} SET TBLPROPERTIES ('{mf.EPOCH_PROPERTY}'='{epoch}')"
        )
        return {"epoch": epoch, "engine": "iceberg"}

    def vacuum(self, retain_after_ordinal: int) -> dict:
        """GC soft-deleted rows past the ordinal horizon (same contract as
        HadoopParquetSink.vacuum)."""
        self.spark.sql(
            f"DELETE FROM {self.table} WHERE deleted AND ordinal < {retain_after_ordinal}"
        )
        return {"vacuum_below": retain_after_ordinal}

    def delete_where(self, predicate: str, ordinal: int) -> dict:
        """Targeted purge (same contract as HadoopParquetSink.delete_where):
        matching live rows become payload-nulled tombstones at ``ordinal``
        in ONE row-level UPDATE — Iceberg rewrites (CoW) or delete-file-
        masks (MoR) only the matching files.  Full physical erasure on a
        real runtime composes this with ``vacuum`` + ``compact`` +
        ``expire_snapshots``, exactly like the parquet sink."""
        keep = {*KEY_COLUMNS, "ordinal", "deleted"}
        sets = ", ".join(
            f"{c} = NULL" for c in self.spark.table(self.table).columns if c not in keep
        )
        self.spark.sql(
            f"UPDATE {self.table} SET {sets}, ordinal = {ordinal}, deleted = true "
            f"WHERE ({predicate}) AND NOT coalesce(deleted, false)"
        )
        return {"purge_ordinal": ordinal}

    # -- table maintenance (parity with HadoopParquetSink; Iceberg ships
    # these as stored procedures, so each is one CALL) ------------------------

    def _catalog(self) -> str:
        """Catalog prefix for system procedures: the identifier's first part
        when fully qualified, else the session's configured default catalog
        (NOT a hard-coded ``spark_catalog`` — sessions that set a named
        Iceberg catalog as ``spark.sql.defaultCatalog`` resolve 2-part
        identifiers against it, so its system procedures must be CALLed)."""
        parts = self.table.split(".")
        if len(parts) >= 3:
            return parts[0]
        try:
            return self.spark.conf.get("spark.sql.defaultCatalog", "spark_catalog")
        except Exception:  # pragma: no cover - conf access never fails in practice
            return "spark_catalog"

    def compact(self, target_file_size_bytes: int | None = None) -> dict:
        """Small-file compaction — Iceberg's ``rewrite_data_files``."""
        opts = f"table => '{self.table}'"
        if target_file_size_bytes:
            opts += (
                ", options => map('target-file-size-bytes', "
                f"'{target_file_size_bytes}')"
            )
        self.spark.sql(f"CALL {self._catalog()}.system.rewrite_data_files({opts})")
        return {"compacted": True}

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Snapshot/file GC — Iceberg's ``expire_snapshots`` procedure (the
        procedure also prunes orphaned manifests, matching the parquet
        sink's per-bucket-dir GC semantics)."""
        self.spark.sql(
            f"CALL {self._catalog()}.system.expire_snapshots("
            f"table => '{self.table}', retain_last => {max(1, keep_last)})"
        )
        return {"expired": True, "retain_last": max(1, keep_last)}

    def remove_orphan_files(
        self, older_than_s: float = 259_200.0, dry_run: bool = False
    ) -> dict:
        """Unreferenced-file GC — Iceberg's ``remove_orphan_files``
        procedure (same ``older_than`` in-flight-writer horizon as the
        parquet sink's dir sweep; Iceberg compares against every file any
        retained snapshot references)."""
        import datetime

        ts = datetime.datetime.now(datetime.timezone.utc) - datetime.timedelta(
            seconds=older_than_s
        )
        opts = (
            f"table => '{self.table}', "
            f"older_than => TIMESTAMP '{ts.strftime('%Y-%m-%d %H:%M:%S')}'"
        )
        if dry_run:
            opts += ", dry_run => true"
        rows = self.spark.sql(
            f"CALL {self._catalog()}.system.remove_orphan_files({opts})"
        ).collect()
        return {
            "orphan_dirs": [r[0] for r in rows],
            "dry_run": dry_run,
        }

    def create_branch(self, name: str, version: int | None = None) -> dict:
        """Branch ref — Iceberg's ``ALTER TABLE .. CREATE BRANCH`` (writes
        then target ``<table>.branch_<name>``; the parquet sink emulates the
        same with a forked metadata root over shared data)."""
        at = f" AS OF VERSION {version}" if version is not None else ""
        self.spark.sql(f"ALTER TABLE {self.table} CREATE BRANCH `{name}`{at}")
        return {"branch": name, "fork_version": version}

    def drop_branch(self, name: str) -> dict:
        self.spark.sql(f"ALTER TABLE {self.table} DROP BRANCH `{name}`")
        return {"dropped": True, "branch": name}

    def fast_forward(self, name: str) -> dict:
        """Advance main to the branch head — Iceberg's ``fast_forward``
        procedure (fails unless main is an ancestor of the branch, the same
        strictly-ahead contract the parquet sink enforces)."""
        self.spark.sql(
            f"CALL {self._catalog()}.system.fast_forward("
            f"table => '{self.table}', branch => 'main', to => '{name}')"
        )
        return {"fast_forwarded": name}

    def rollback(self, version: int) -> dict:
        """Restore the table to an earlier snapshot — Iceberg's
        ``rollback_to_snapshot`` procedure (metadata-only, like the parquet
        sink's manifest re-reference)."""
        self.spark.sql(
            f"CALL {self._catalog()}.system.rollback_to_snapshot("
            f"table => '{self.table}', snapshot_id => {version})"
        )
        return {"restored_version": version}

    def snapshots(self) -> list[dict]:
        """Snapshot history from the ``.snapshots`` metadata table."""
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at, operation, summary "
            f"FROM {self.table}.snapshots ORDER BY committed_at"
        ).collect()
        return [dict(r) if not isinstance(r, dict) else r for r in rows]

    def load(self, version: int | None = None) -> DataFrame:
        """Current state, or time travel via ``VERSION AS OF`` (Iceberg
        snapshot id / branch/tag name — the parquet sink's manifest-version
        read, natively)."""
        if version is not None:
            df = self.spark.sql(f"SELECT * FROM {self.table} VERSION AS OF {version}")
        else:
            df = self.spark.table(self.table)
        return df.where(~F.coalesce(F.col("deleted"), F.lit(False)))

