#!/usr/bin/env python3
"""spark-submit entrypoint for the CDC replay (north rule: "runs via
spark-submit --py-files on multi-executor clusters").

Cluster usage:
    zip -r engine.zip jurisprudencia_privada_etl_spark
    spark-submit --py-files engine.zip \
        --conf spark.sql.shuffle.partitions=2000 \
        scripts/run_replay.py --changelog s3://bucket/changelog \
        --table s3://bucket/lake/repos --n-buckets 4096

Local smoke:
    python scripts/run_replay.py --generate 100000 --changelog /tmp/clog \
        --table /tmp/table

The job is killable at any point and resumable by re-running the same
command: the sink's manifest records the last committed epoch and every
epoch re-applies idempotently.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# python workers spawned by the local JVM inherit this env, so pandas-UDF
# stages resolve the package even when the CLI runs from a neutral cwd
os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changelog", required=True, help="epoch-partitioned changelog path")
    ap.add_argument("--table", required=True, help="lake table path")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument(
        "--n-salts", type=int, default=0,
        help="pre-extraction salt fan-out; 0 (default) skips the salt "
             "shuffle — the window merge's sub-salt carries the skew story "
             "(BENCH/ab_salt_shuffle.md); only the join reference, whose "
             "pre-merge dedup consumes the salted partitioning, gains from it",
    )
    ap.add_argument(
        "--merge-strategy", choices=["window", "join"], default="window",
        help="window: one-shuffle bucket-window LWW upsert (production); "
             "join: full-outer-join reference",
    )
    ap.add_argument(
        "--write-mode", choices=["cow", "mor"], default="cow",
        help="cow: rewrite touched buckets per epoch; mor: append per-bucket "
        "delta files (merge-on-read; fold with --compact)",
    )
    ap.add_argument("--validate", action="store_true",
                    help="validate each batch (non-null keys/ordinal, known op); "
                         "invalid rows go to <table>/_dead_letter/epoch=N")
    ap.add_argument("--check", action="append", metavar="NAME:SQL_PREDICATE",
                    default=[],
                    help="declarative CHECK constraint at the ingest gate "
                         "(repeatable; implies --validate): rows where the "
                         "predicate is FALSE dead-letter as 'check constraint "
                         "violated: NAME' (SQL three-valued logic — NULL passes)")
    ap.add_argument(
        "--conflict-fields",
        help="comma-separated changelog fields to diff into <table>/_conflicts/epoch=N (S14)",
    )
    ap.add_argument("--streaming", action="store_true", help="Structured Streaming variant")
    ap.add_argument("--checkpoint", help="streaming checkpoint dir (required with --streaming)")
    ap.add_argument("--vacuum-below", type=int, help="GC tombstones below this ordinal, then exit")
    ap.add_argument("--compact", action="store_true", help="compact over-filed buckets, then exit")
    ap.add_argument("--zorder", metavar="COL[,COL...]",
                    help="with --compact: lay rewritten buckets out along the "
                         "Morton curve of these columns (OPTIMIZE ZORDER)")
    ap.add_argument("--target-file-bytes", type=int, metavar="BYTES",
                    help="adaptive per-bucket file sizing: size each bucket's "
                    "merge (and --compact) output files to ~BYTES from its "
                    "on-disk bytes; supersedes static files-per-bucket")
    ap.add_argument("--target-files-per-bucket", type=int, default=1,
                    help="with --compact: files per bucket after rewrite")
    ap.add_argument("--expire-snapshots", type=int, metavar="KEEP",
                    help="expire all but the newest KEEP snapshots, then exit")
    ap.add_argument("--show", choices=["history", "files", "partitions"],
                    help="print the metadata table (Iceberg history/files/"
                         "partitions analog) as JSON lines, then exit")
    ap.add_argument("--max-epoch", type=int, metavar="N",
                    help="replay only epochs <= N (bounded catch-up; resume "
                         "later runs from the manifest as usual)")
    ap.add_argument("--create-branch", metavar="NAME",
                    help="fork a branch at the current head, then exit")
    ap.add_argument("--drop-branch", metavar="NAME",
                    help="delete a branch's metadata root, then exit")
    ap.add_argument("--fast-forward", metavar="NAME",
                    help="adopt NAME's commits onto main (strictly-ahead), then exit")
    ap.add_argument("--branch", metavar="NAME",
                    help="replay into branch NAME instead of main (audit the "
                         "result, then --fast-forward it)")
    ap.add_argument("--remove-orphans-older-than", type=float, metavar="SECONDS",
                    help="sweep unreferenced data dirs older than SECONDS "
                         "(crashed-attempt GC; Iceberg remove_orphan_files), then exit")
    ap.add_argument("--rebucket", type=int, metavar="N",
                    help="re-partition the table onto N hash buckets, then exit")
    ap.add_argument("--rollback", type=int, metavar="VERSION",
                    help="restore the table head to snapshot VERSION as a new "
                         "metadata-only commit (Delta RESTORE), then exit; a "
                         "subsequent replay resumes at the restored epoch + 1")
    ap.add_argument("--delete-where", metavar="SQL_PREDICATE",
                    help="targeted purge: tombstone every live row matching this "
                         "predicate (requires --purge-ordinal), then exit; compose "
                         "with --vacuum-below and --expire-snapshots for full "
                         "physical erasure")
    ap.add_argument("--purge-ordinal", type=int,
                    help="tombstone ordinal for --delete-where (must exceed the "
                         "changelog head so stale replays cannot resurrect)")
    ap.add_argument("--auto-compact", type=int, metavar="N",
                    help="after each committed epoch, fold any bucket whose "
                         "file count exceeds N (Delta-style auto OPTIMIZE; "
                         "merge-on-read delta stacks fold at the same bar)")
    ap.add_argument("--emit-feed", metavar="FROM:TO",
                    help="CDC-out: write the row-level change feed between two "
                         "snapshot versions, then exit (requires --feed-out)")
    ap.add_argument("--consumer", metavar="NAME",
                    help="CDC-out consumer group: emit everything since NAME's "
                         "cursor (first call bootstraps the full state), advance "
                         "the cursor after the write, then exit (requires "
                         "--feed-out; mutually exclusive with --emit-feed)")
    ap.add_argument("--feed-out", help="output path for --emit-feed")
    ap.add_argument("--feed-format", choices=["cdf", "debezium"], default="cdf",
                    help="cdf: Delta-CDF-shaped parquet rows; debezium: "
                         "envelope JSON text (Kafka-producer shaped)")
    ap.add_argument("--fanout", metavar="TABLE2:SQL_PREDICATE",
                    help="routed fan-out replay: rows matching the predicate go to "
                         "TABLE2, the rest to --table, every epoch committed to BOTH "
                         "tables atomically (plans/txn.py multi-table transaction); "
                         "resumable, crash-recovered on startup")
    ap.add_argument("--txn-root", help="transaction-record dir for --fanout "
                                       "(default: parent dir of --table)")
    ap.add_argument("--generate", type=int, default=0, help="generate N synthetic events first (testing)")
    ap.add_argument("--default-year", type=int, default=2026)
    ap.add_argument(
        "--repair-from", metavar="PRIMARY_TABLE",
        help="anti-entropy: compare per-bucket digests against PRIMARY_TABLE "
             "and rewrite only the divergent buckets of --table with the "
             "primary's rows verbatim, then exit (add --dry-run to report "
             "divergence without writing)",
    )
    ap.add_argument("--dry-run", action="store_true",
                    help="with --repair-from: detect + report only")
    ap.add_argument(
        "--audit-max-delete-fraction", type=float, metavar="F",
        help="write-audit-publish gate: stage each epoch and abort the replay "
             "if deletes exceed F of the epoch's applied events (a runaway- "
             "tombstone circuit breaker; readers never see a rejected epoch)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("cdc-replay").getOrCreate()
    from jurisprudencia_privada_etl_spark.session import apply_runtime_defaults

    # Backfill tuned runtime defaults (AQE, Arrow, zstd parquet, ...) without
    # overriding any spark-submit --conf the operator passed.
    apply_runtime_defaults(spark)
    from jurisprudencia_privada_etl_spark.plans.replay import ReplayConfig, replay
    from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink

    if args.generate:
        from jurisprudencia_privada_etl_spark.sources.changelog import write_changelog
        from jurisprudencia_privada_etl_spark.sources.generator import synthetic_changelog

        write_changelog(synthetic_changelog(spark, args.generate), args.changelog)

    audit_gate = None
    if args.audit_max_delete_fraction is not None:
        limit = args.audit_max_delete_fraction

        def audit_gate(sink, metrics):
            applied = sum(metrics.get(k, 0) for k in ("created", "updated", "deleted"))
            return applied == 0 or metrics.get("deleted", 0) <= limit * applied

    checks = []
    for c in args.check:
        if ":" not in c:
            sys.exit(f"--check must be NAME:SQL_PREDICATE, got {c!r}")
        checks.append(tuple(c.split(":", 1)))

    cfg = ReplayConfig(
        n_salts=args.n_salts,
        n_buckets=args.n_buckets,
        merge_strategy=args.merge_strategy,
        write_mode=args.write_mode,
        default_year=args.default_year,
        conflict_fields=(
            [f.strip() for f in args.conflict_fields.split(",") if f.strip()]
            if args.conflict_fields
            else []
        ),
        audit_gate=audit_gate,
        auto_compact_files_per_bucket=args.auto_compact,
        target_file_bytes=args.target_file_bytes,
        validate=args.validate or bool(args.check),
        check_constraints=dict(checks),
    )

    if args.emit_feed is not None or args.consumer is not None:
        if not args.feed_out:
            sys.exit("--emit-feed/--consumer requires --feed-out")
        if args.emit_feed is not None and args.consumer is not None:
            sys.exit("--emit-feed and --consumer are mutually exclusive")
        from jurisprudencia_privada_etl_spark.operators.change_feed import (
            advance_consumer,
            change_feed,
            feed_for_consumer,
        )
        from jurisprudencia_privada_etl_spark.sources.debezium import to_debezium

        sink = HadoopParquetSink(spark, args.table, n_buckets=args.n_buckets)
        if args.consumer is not None:
            feed, v_from, v_to = feed_for_consumer(sink, args.consumer)
            if feed is None:
                print(json.dumps({"emit_feed": {"consumer": args.consumer,
                                                "caught_up_at": v_from, "rows": 0}}))
                return
        else:
            v_from, v_to = (int(v) for v in args.emit_feed.split(":", 1))
            feed = change_feed(sink, v_from, v_to)
        if args.feed_format == "debezium":
            wire = to_debezium(feed)
            wire.write.mode("overwrite").text(args.feed_out)
            n = spark.read.text(args.feed_out).count()
        else:
            feed.write.mode("overwrite").parquet(args.feed_out)
            n = spark.read.parquet(args.feed_out).count()
        if args.consumer is not None:
            # advance AFTER the write lands: a crash before this line re-emits
            # the same window, which downstream apply absorbs idempotently
            advance_consumer(sink, args.consumer, v_to)
        out = {"from": v_from, "to": v_to, "format": args.feed_format, "rows": n}
        if args.consumer is not None:
            out["consumer"] = args.consumer
        print(json.dumps({"emit_feed": out}))
        return

    if args.fanout is not None:
        import os as _os

        from jurisprudencia_privada_etl_spark.plans.txn import fanout_replay

        table2, pred = args.fanout.split(":", 1)
        root = args.txn_root or _os.path.dirname(args.table.rstrip("/"))
        out = fanout_replay(
            spark, args.changelog, root,
            # a row whose predicate is NULL belongs to the complement
            # route: plain NOT (pred) is NULL there too and drops the row
            routes=[(args.table, f"NOT coalesce(({pred}), false)"), (table2, pred)],
            cfg=cfg,
        )
        print(json.dumps(out))
        return

    if args.repair_from is not None:
        from jurisprudencia_privada_etl_spark.operators.antientropy import repair_replica

        primary = HadoopParquetSink(spark, args.repair_from, n_buckets=args.n_buckets)
        replica = HadoopParquetSink(spark, args.table, n_buckets=args.n_buckets)
        print(json.dumps({"repair": repair_replica(primary, replica,
                                                   dry_run=args.dry_run)}))
        return

    if args.show is not None:
        sink = HadoopParquetSink(spark, args.table, n_buckets=args.n_buckets)
        df = getattr(sink, args.show)()
        for line in df.toJSON().collect():
            print(line)
        return

    maintenance = (
        args.vacuum_below is not None
        or args.compact
        or args.expire_snapshots is not None
        or args.rebucket is not None
        or args.delete_where is not None
        or args.rollback is not None
        or args.remove_orphans_older_than is not None
        or args.create_branch is not None
        or args.drop_branch is not None
        or args.fast_forward is not None
    )
    if maintenance:
        sink = HadoopParquetSink(spark, args.table, n_buckets=args.n_buckets)
        out = {}
        if args.delete_where is not None:
            if args.purge_ordinal is None:
                sys.exit("--delete-where requires --purge-ordinal")
            out["delete_where"] = sink.delete_where(args.delete_where, args.purge_ordinal)
        if args.vacuum_below is not None:
            out["vacuum"] = sink.vacuum(args.vacuum_below)
        if args.compact:
            out["compact"] = sink.compact(
                target_files_per_bucket=args.target_files_per_bucket,
                min_files=2,
                zorder=args.zorder.split(",") if args.zorder else None,
                target_file_bytes=args.target_file_bytes,
            )
        if args.rebucket is not None:
            out["rebucket"] = sink.rebucket(args.rebucket)
        if args.rollback is not None:
            out["rollback"] = sink.rollback(args.rollback)
        if args.expire_snapshots is not None:
            out["expire_snapshots"] = sink.expire_snapshots(args.expire_snapshots)
        if args.remove_orphans_older_than is not None:
            out["remove_orphan_files"] = sink.remove_orphan_files(
                older_than_s=args.remove_orphans_older_than
            )
        if args.create_branch is not None:
            out["create_branch"] = sink.create_branch(args.create_branch)
        if args.fast_forward is not None:
            out["fast_forward"] = sink.fast_forward(args.fast_forward)
        if args.drop_branch is not None:
            out["drop_branch"] = sink.drop_branch(args.drop_branch)
        print(json.dumps(out))
        return

    if args.streaming:
        if not args.checkpoint:
            sys.exit("--streaming requires --checkpoint")
        from jurisprudencia_privada_etl_spark.streaming.stream_replay import stream_replay

        stream_replay(spark, args.changelog, args.table, args.checkpoint, cfg)
        sink = HadoopParquetSink(spark, args.table, n_buckets=args.n_buckets)
    else:
        target = args.table
        if args.branch is not None:
            # replay lands on the branch's metadata root; the branch must
            # already exist (create it with --create-branch)
            target = HadoopParquetSink(
                spark, args.table, n_buckets=args.n_buckets
            ).branch(args.branch).table_path
        epochs = None
        if args.max_epoch is not None:
            from jurisprudencia_privada_etl_spark.sources.changelog import list_epochs

            epochs = [e for e in list_epochs(spark, args.changelog) if e <= args.max_epoch]
        sink = replay(spark, args.changelog, target, cfg, epochs=epochs)

    m = sink.manifest()
    print(json.dumps({"last_committed_epoch": m.last_committed_epoch,
                      "version": m.version, "metrics": m.metrics}))


if __name__ == "__main__":
    main()
