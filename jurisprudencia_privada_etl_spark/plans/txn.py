"""Cross-table atomic commits (multi-table transactions) on the WAP line.

A CDC deployment regularly fans ONE changelog epoch out to MULTIPLE tables
(the main table plus a routed per-language table; a table plus its audit
sidecar — the reference itself maintains the jurisprudence index AND a
conflicts/report index side by side, src/report.ts:43-110).  Per-table
exactly-once alone leaves a torn cut if the driver dies between the two
commits: table A shows epoch N, table B shows N-1, and a downstream join
reads a state that never existed.  This coordinator gives all-or-nothing
visibility using the same ingredients a catalog gives Iceberg multi-table
transactions: stage everything (write-audit-publish), then ONE CAS-published
transaction record as the commit point, then roll forward — recovery
finishes or erases the transaction by replaying the record.

Protocol (crash-safe at every boundary; tests/test_txn.py injects a crash
at each one):

  1. PREPARE   — each table's merge runs with ``stage=True``: full data
                 write, invisible (readers still see the parent snapshots).
  2. COMMIT    — one record ``{txn_id, tables: {path: {staged_version,
                 parent_version, epoch}}}`` is published with the same
                 ``os.link`` create-exclusive CAS as manifest versions.
                 This single filesystem op IS the transaction.
  3. ROLL FWD  — each staged snapshot is promoted to its committed line,
                 then the record is marked done (idempotent marker).

``recover()`` replays the tail: an un-done record rolls FORWARD (tables
whose committed version already reached the staged version are skipped);
staged snapshots with NO record roll BACK (``abort_staged`` — the
transaction never happened, its data dirs are reclaimed).  ``read_at()``
returns the per-table snapshot versions pinned by the newest DONE record —
the cross-table-consistent read cut.

Scale note: the coordinator moves ONLY metadata (two JSON files per table
plus one record); the data path is the tables' own staged merges, so the
commit point stays O(tables), never O(rows) — the same property that lets
a real catalog commit a 100 TB multi-table transaction in milliseconds.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame

from jurisprudencia_privada_etl_spark.plans import manifest as mf
from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink

TXN_DIR = "_txn"


def _tdir(root: str) -> str:
    return os.path.join(root, TXN_DIR)


def _tname(txn_id: int) -> str:
    return f"t{txn_id:08d}.json"


def _next_txn_id(root: str) -> int:
    d = _tdir(root)
    if not os.path.isdir(d):
        return 0
    ids = [
        int(n[1:9]) for n in os.listdir(d) if n.startswith("t") and n.endswith(".json")
    ]
    return max(ids) + 1 if ids else 0


def _publish_record(root: str, txn_id: int, tables: dict[str, dict[str, Any]]) -> None:
    """CAS-publish the commit record — the transaction's single commit point."""
    d = _tdir(root)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, _tname(txn_id))
    tmp = f"{final}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"txn_id": txn_id, "tables": tables}, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise mf.CommitConflictError(
            f"transaction {txn_id} already published at {root}"
        ) from None
    finally:
        os.unlink(tmp)


def _mark_done(root: str, txn_id: int) -> None:
    open(os.path.join(_tdir(root), _tname(txn_id) + ".done"), "w").close()


def _records(root: str) -> list[dict[str, Any]]:
    d = _tdir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("t") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            rec["done"] = os.path.exists(os.path.join(d, name + ".done"))
            out.append(rec)
    return out


def _roll_forward(rec: dict[str, Any], by_path: dict[str, HadoopParquetSink]) -> list[str]:
    """Promote every table of a committed record that hasn't been promoted
    yet.  Idempotent: a table whose committed line already reached the
    staged version is skipped (the crash fell between its promote and the
    done marker)."""
    promoted = []
    for path, t in rec["tables"].items():
        sink = by_path[path]
        cur = mf.current_version(sink.table_path) or 0
        if cur >= t["staged_version"]:
            continue  # already promoted before the crash
        staged = mf.load_staged(sink.table_path)
        if staged is None or staged.version != t["staged_version"]:
            raise RuntimeError(
                f"txn {rec['txn_id']} committed but {path} has no staged "
                f"snapshot v{t['staged_version']} to promote — staged marker lost"
            )
        sink.publish_staged()
        promoted.append(path)
    return promoted


def multi_table_commit(
    root: str, parts: list[tuple[HadoopParquetSink, DataFrame, int]]
) -> dict[str, Any]:
    """Atomically apply one epoch's updates to several tables.

    ``parts``: (sink, LWW-winner updates, epoch) per table — the same
    updates contract as ``HadoopParquetSink.merge``.  Tables whose epoch is
    already committed are skipped (exactly-once per table still holds
    inside the transaction).  Raises before the commit point if ANY staged
    merge fails; after the commit point the transaction always completes
    (here, or in ``recover`` after a crash).
    """
    results = {
        sink.table_path: sink.merge(updates, epoch, stage=True)
        for sink, updates, epoch in parts
    }
    return commit_staged(root, [sink for sink, _, _ in parts], results)


def commit_staged(
    root: str, sinks: list[HadoopParquetSink], results: dict[str, dict[str, Any]]
) -> dict[str, Any]:
    """The commit half of the protocol, for sinks whose epoch merges are
    already staged: publish the record, roll forward, mark done.
    ``results``: each sink's staged-merge result by table path (a
    ``skipped`` result leaves that table out of the record)."""
    staged: dict[str, dict[str, Any]] = {}
    for sink in sinks:
        r = results[sink.table_path]
        if r.get("skipped"):
            continue
        s = mf.load_staged(sink.table_path)
        staged[sink.table_path] = {
            "staged_version": s.version,
            "parent_version": s.parent_version,
            "epoch": r["epoch"],
        }
    if not staged:  # every table already had the epoch — nothing to commit
        return {"txn_id": None, "tables": results}
    txn_id = _next_txn_id(root)
    _publish_record(root, txn_id, staged)  # ← the commit point
    _roll_forward({"txn_id": txn_id, "tables": staged}, {s.table_path: s for s in sinks})
    _mark_done(root, txn_id)
    return {"txn_id": txn_id, "tables": results}


def recover(root: str, sinks: list[HadoopParquetSink]) -> dict[str, Any]:
    """Finish or erase interrupted transactions after a crash.

    Un-done records roll forward (their commit point was reached — the
    transaction MUST become visible); staged snapshots not referenced by
    any record roll back via ``abort_staged`` (their transaction never
    committed, so their data dirs are reclaimed and readers never see
    them).  Safe to call on every startup; a clean state is a no-op.
    """
    by_path = {s.table_path: s for s in sinks}
    rolled_forward: list[str] = []
    for rec in _records(root):
        if rec["done"]:
            continue
        rolled_forward += _roll_forward(rec, by_path)
        _mark_done(root, rec["txn_id"])
    referenced = {
        (path, t["staged_version"])
        for rec in _records(root)
        for path, t in rec["tables"].items()
    }
    rolled_back = []
    for sink in sinks:
        s = mf.load_staged(sink.table_path)
        if s is not None and (sink.table_path, s.version) not in referenced:
            sink.abort_staged()
            rolled_back.append(sink.table_path)
    return {"rolled_forward": rolled_forward, "rolled_back": rolled_back}


def read_at(root: str, sinks: list[HadoopParquetSink]) -> dict[str, int]:
    """The cross-table-consistent read cut: per-table snapshot versions
    pinned by the newest DONE transaction (tables untouched by it read
    their current version).  Feed these to ``sink.load(version=...)`` to
    join tables at a state that actually existed."""
    done = [r for r in _records(root) if r["done"]]
    pinned: dict[str, int] = {}
    if done:
        for path, t in done[-1]["tables"].items():
            pinned[path] = t["staged_version"]
    out = {}
    for s in sinks:
        out[s.table_path] = pinned.get(s.table_path, mf.current_version(s.table_path) or 0)
    return out


def fanout_replay(
    spark,
    changelog_path: str,
    root: str,
    routes: list[tuple[str, str | None]],
    cfg=None,
) -> dict[str, Any]:
    """Resumable ROUTED replay: every epoch's changelog rows are split by
    the route predicates and applied to all route tables in one atomic
    multi-table commit — the CDC fan-out loop (one tailed changelog, many
    consistent tables).

    ``routes``: ``(table_path, sql_predicate | None)`` per table; ``None``
    routes every row.  Predicates may overlap (a row lands in every table
    whose predicate it satisfies) — disjointness is the caller's routing
    policy, not a coordinator invariant.  Crash-safe end to end:
    ``recover`` first finishes/erases any interrupted transaction, then the
    loop resumes at the first epoch not committed by EVERY table (tables
    already holding an epoch skip it inside the transaction).
    """
    from jurisprudencia_privada_etl_spark.plans.replay import (
        ReplayConfig,
        auto_compact,
        open_sink,
        process_epoch,
    )
    from jurisprudencia_privada_etl_spark.sources.changelog import list_epochs, read_epoch

    cfg = cfg or ReplayConfig()
    sinks = [open_sink(spark, path, cfg) for path, _ in routes]
    recovered = recover(root, sinks)
    epochs = list_epochs(spark, changelog_path)
    last = min(s.last_committed_epoch() for s in sinks)
    txns = []
    for e in [e for e in epochs if e > last]:
        batch = read_epoch(spark, changelog_path, e, merge_schema=e in cfg.schema_evolution)
        # PREPARE: each route runs the full epoch pipeline (evolution,
        # validation, conflicts, audit gate) up to a staged snapshot; a
        # failure here leaves staged snapshots that recover() rolls back
        results = {
            sink.table_path: process_epoch(
                spark, sink, batch.where(pred) if pred else batch, e, cfg, stage=True
            )
            for sink, (_, pred) in zip(sinks, routes)
        }
        r = commit_staged(root, sinks, results)
        for sink in sinks:
            if not results[sink.table_path].get("skipped"):
                auto_compact(sink, cfg)
        txns.append(r["txn_id"])
    return {
        "recovered": recovered,
        "txns": txns,
        "tables": {
            s.table_path: {
                "last_committed_epoch": s.last_committed_epoch(),
                "rows": None,  # caller counts if it cares — keep this driver-cheap
            }
            for s in sinks
        },
    }
