"""Scenario fixtures mandated by BASELINE.json:6 (FIXTURES.md §3):
out-of-order events, tombstones (+ resurrection), schema-evolution epochs,
mid-epoch restart exactly-once, salted ≡ unsalted."""

from __future__ import annotations

import pandas as pd
import pytest

from jurisprudencia_privada_etl_spark.plans.replay import (
    ReplayConfig,
    process_epoch,
    replay_dataframe,
)
from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink
from jurisprudencia_privada_etl_spark.schemas import (
    CHANGELOG_SCHEMA,
    SchemaChange,
    TableSchema,
    TARGET_SCHEMA,
)
from jurisprudencia_privada_etl_spark.sources.generator import synthetic_changelog

from tests.conftest import assert_state_equal, oracle_reduce, sha256_hex

PAYLOAD = ["repo", "path", "commit", "lang", "content", "ordinal", "content_sha"]


def make_log(spark, rows):
    """rows: (epoch, ordinal, op, repo, path, commit, lang, content)"""
    return spark.createDataFrame(rows, schema=CHANGELOG_SCHEMA)


def state(sink) -> pd.DataFrame:
    return sink.load().select(*PAYLOAD).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)


def test_out_of_order_within_epoch(spark, tmp_path):
    """Lower ordinal arriving AFTER a higher one must lose."""
    rows = [
        (0, 5, "I", "r1", "a.py", "c5", "py", "NEWEST"),
        (0, 1, "I", "r1", "a.py", "c1", "py", "old"),
        (0, 3, "U", "r1", "a.py", "c3", "py", "middle"),
        (0, 2, "I", "r1", "b.py", "c2", "py", "b-old"),
        (0, 4, "U", "r1", "b.py", "c4", "py", "B-NEW"),
    ]
    sink = replay_dataframe(spark, make_log(spark, rows), str(tmp_path / "t"))
    s = state(sink)
    assert dict(zip(s["path"], s["content"])) == {"a.py": "NEWEST", "b.py": "B-NEW"}
    assert dict(zip(s["path"], s["content_sha"])) == {
        "a.py": sha256_hex("NEWEST"),
        "b.py": sha256_hex("B-NEW"),
    }


def test_tombstone_delete_and_resurrect(spark, tmp_path):
    """op='D' removes the key; a later re-insert at higher ordinal
    resurrects it (upgrades the reference TODO at sharepoint.ts:428)."""
    rows = [
        (0, 1, "I", "r1", "dead.py", "c1", "py", "will die"),
        (0, 2, "I", "r1", "alive.py", "c2", "py", "stays"),
        (1, 3, "D", "r1", "dead.py", "c3", "py", None),
        (1, 4, "D", "r1", "ghost.py", "c4", "py", None),  # tombstone for absent key
        (2, 5, "I", "r1", "dead.py", "c5", "py", "resurrected"),
    ]
    sink = replay_dataframe(spark, make_log(spark, rows), str(tmp_path / "t"))
    s = state(sink)
    assert dict(zip(s["path"], s["content"])) == {"alive.py": "stays", "dead.py": "resurrected"}


def test_delete_wins_within_epoch(spark, tmp_path):
    """A tombstone that is the max-ordinal event of its key within an epoch
    deletes, even when the insert arrives after it."""
    rows = [
        (0, 2, "D", "r1", "x.py", "c2", "py", None),
        (0, 1, "I", "r1", "x.py", "c1", "py", "born dead"),
    ]
    sink = replay_dataframe(spark, make_log(spark, rows), str(tmp_path / "t"))
    assert len(state(sink)) == 0


def test_cross_epoch_late_event_loses(spark, tmp_path):
    """A late event in a LATER epoch with a LOWER ordinal than the target's
    must not overwrite (WHEN MATCHED AND s.ordinal > t.ordinal)."""
    rows0 = [(0, 10, "I", "r1", "a.py", "c10", "py", "current")]
    rows1 = [(1, 4, "U", "r1", "a.py", "c4", "py", "stale straggler")]
    path = str(tmp_path / "t")
    sink = replay_dataframe(spark, make_log(spark, rows0), path)
    sink = replay_dataframe(spark, make_log(spark, rows0 + rows1), path)  # applies epoch 1
    s = state(sink)
    assert list(s["content"]) == ["current"]
    assert list(s["ordinal"]) == [10]


def test_mid_epoch_restart_exactly_once(spark, tmp_path):
    """Kill after the epoch's data files are written but before the manifest
    publish; resume; final state must equal an uninterrupted run, no dupes,
    no loss (T3; ref analog: resumable delta_link, sharepoint.ts:149,408)."""
    log = synthetic_changelog(spark, 1200, seed=31, n_epochs=3, n_repos=6,
                              paths_per_repo=50, pct_update=0.4, pct_delete=0.15)
    pdf = log.toPandas()

    # uninterrupted reference run
    ref_sink = replay_dataframe(spark, log, str(tmp_path / "ref"))
    ref = state(ref_sink)
    assert_state_equal(ref, oracle_reduce(pdf))

    # interrupted run: crash inside epoch 1's merge, after data write
    path = str(tmp_path / "t")
    cfg = ReplayConfig()
    sink = HadoopParquetSink(spark, path)
    sink.create(TableSchema.from_struct(TARGET_SCHEMA))
    import pyspark.sql.functions as F

    process_epoch(spark, sink, log.where(F.col("epoch") == 0), 0, cfg)
    sink.crash_before_publish = True
    with pytest.raises(RuntimeError, match="injected crash"):
        process_epoch(spark, sink, log.where(F.col("epoch") == 1), 1, cfg)
    assert sink.last_committed_epoch() == 0  # manifest unchanged by the crash

    # resume: fresh sink object (new process), full replay loop
    resumed = replay_dataframe(spark, log, path)
    assert resumed.last_committed_epoch() == 2
    assert_state_equal(state(resumed), ref)


def test_reapplying_committed_epoch_is_noop(spark, tmp_path):
    rows = [(0, 1, "I", "r1", "a.py", "c1", "py", "v1")]
    path = str(tmp_path / "t")
    sink = replay_dataframe(spark, make_log(spark, rows), path)
    v = sink.manifest().version
    # a duplicate delivery of epoch 0 (e.g. reprocessed upstream) is skipped
    res = process_epoch(spark, sink, make_log(spark, rows), 0, ReplayConfig())
    assert res.get("skipped") is True
    assert sink.manifest().version == v


def test_schema_evolution_add_and_rename(spark, tmp_path):
    """Epoch 1 adds `stars INT`; epoch 2 renames lang→language.  Rows written
    before the evolution read back with nulls / renamed values intact, no
    data rewrite (id-based mapping)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    cfg = ReplayConfig(
        schema_evolution={
            1: [SchemaChange("add", "stars", dtype="int")],
            2: [SchemaChange("rename", "lang", new_name="language")],
        }
    )
    sink = HadoopParquetSink(spark, path)
    sink.create(TableSchema.from_struct(TARGET_SCHEMA))

    e0 = make_log(spark, [(0, 1, "I", "r1", "a.py", "c1", "py", "v1"),
                          (0, 2, "I", "r1", "b.py", "c2", "ts", "v2")])
    process_epoch(spark, sink, e0, 0, cfg)

    ev_schema = T.StructType(list(CHANGELOG_SCHEMA.fields) + [T.StructField("stars", T.IntegerType(), True)])
    e1 = spark.createDataFrame([(1, 3, "I", "r1", "c.py", "c3", "go", "v3", 7)], schema=ev_schema)
    process_epoch(spark, sink, e1, 1, cfg)

    e2 = spark.createDataFrame([(2, 4, "U", "r1", "a.py", "c4", "py", "v1-new", 9)], schema=ev_schema)
    process_epoch(spark, sink, e2, 2, cfg)

    out = sink.load().orderBy("path").toPandas()
    assert list(sink.manifest().schema.names()) == ["repo", "path", "commit", "language", "content", "stars"]
    assert list(out["path"]) == ["a.py", "b.py", "c.py"]
    # pre-evolution row b.py: stars null, lang value visible under new name
    b = out[out["path"] == "b.py"].iloc[0]
    assert pd.isna(b["stars"]) and b["language"] == "ts"
    c = out[out["path"] == "c.py"].iloc[0]
    assert c["stars"] == 7 and c["language"] == "go"
    a = out[out["path"] == "a.py"].iloc[0]
    assert a["stars"] == 9 and a["content"] == "v1-new"
    assert a["content_sha"] == sha256_hex("v1-new")


def test_evolution_is_idempotent_after_crash(spark, tmp_path):
    """Crash between evolve() and merge(): re-running the epoch re-applies
    the evolution as a no-op and completes."""
    path = str(tmp_path / "t")
    cfg = ReplayConfig(schema_evolution={0: [SchemaChange("add", "stars", dtype="int")]})
    sink = HadoopParquetSink(spark, path)
    sink.create(TableSchema.from_struct(TARGET_SCHEMA))
    sink.evolve(cfg.schema_evolution[0])  # simulate: evolved, then crashed
    v = sink.manifest().version
    rows = [(0, 1, "I", "r1", "a.py", "c1", "py", "v1")]
    process_epoch(spark, sink, make_log(spark, rows), 0, cfg)
    m = sink.manifest()
    assert m.last_committed_epoch == 0
    assert "stars" in m.schema.names()
    # the re-applied evolution did not mint a new schema version
    assert m.version == v + 1  # only the merge bumped


def test_stale_insert_after_delete_cannot_resurrect(spark, tmp_path):
    """Tombstones are retained with their ordinal: a stale lower-ordinal
    event arriving in a LATER epoch must not resurrect a deleted key."""
    path = str(tmp_path / "t")
    replay_dataframe(spark, make_log(spark, [(0, 10, "I", "r1", "a.py", "c", "py", "v1")]), path)
    log2 = make_log(spark, [(0, 10, "I", "r1", "a.py", "c", "py", "v1"),
                            (1, 30, "D", "r1", "a.py", "c", "py", None)])
    replay_dataframe(spark, log2, path)
    log3 = make_log(spark, [(0, 10, "I", "r1", "a.py", "c", "py", "v1"),
                            (1, 30, "D", "r1", "a.py", "c", "py", None),
                            (2, 20, "I", "r1", "a.py", "c", "py", "stale straggler")])
    sink = replay_dataframe(spark, log3, path)
    assert len(state(sink)) == 0  # still deleted
    # the tombstone row is retained internally with its ordinal
    tomb = sink.load(include_tombstones=True).where("deleted").collect()
    assert len(tomb) == 1 and tomb[0]["ordinal"] == 30


def test_vacuum_collects_expired_tombstones(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [
        (0, 1, "I", "r1", "a.py", "c", "py", "v1"),
        (0, 2, "I", "r1", "b.py", "c", "py", "v2"),
        (1, 3, "D", "r1", "a.py", "c", "py", None),
    ]
    sink = replay_dataframe(spark, make_log(spark, rows), path)
    assert sink.load(include_tombstones=True).where("deleted").count() == 1
    res = sink.vacuum(retain_after_ordinal=10)
    assert res["vacuumed_buckets"] >= 1
    assert sink.load(include_tombstones=True).where("deleted").count() == 0
    assert len(state(sink)) == 1  # b.py intact
    # epoch stamp survives the vacuum (resume still works)
    assert sink.last_committed_epoch() == 1


def test_merge_strategies_agree(spark, tmp_path):
    """The production "window" merge (LWW fused into its bucket shuffle) ≡
    the full-outer-join reference, bit-for-bit, and both ≡ the pandas
    oracle; run counters agree epoch by epoch."""
    log = synthetic_changelog(spark, 2500, seed=17, n_epochs=3, n_repos=8,
                              paths_per_repo=40, pct_update=0.45, pct_delete=0.15)
    pdf = log.toPandas()
    w = replay_dataframe(spark, log, str(tmp_path / "win"), ReplayConfig(merge_strategy="window"))
    j = replay_dataframe(spark, log, str(tmp_path / "join"), ReplayConfig(merge_strategy="join"))
    expected = oracle_reduce(pdf)
    assert_state_equal(state(w), expected)
    assert_state_equal(state(j), expected)
    from jurisprudencia_privada_etl_spark.plans import manifest as mf
    for v in range(1, 4):
        mw, mj = mf.load(str(tmp_path / "win"), v), mf.load(str(tmp_path / "join"), v)
        for k in ("created", "updated", "deleted", "kept"):
            assert mw.metrics[k] == mj.metrics[k], (v, k)


def test_salted_equals_unsalted(spark, tmp_path):
    """Heavily skewed changelog: salted pipeline ≡ unsalted, bit-for-bit
    (SURVEY.md §7.3 item 4)."""
    log = synthetic_changelog(spark, 2000, seed=13, n_epochs=2, n_repos=3,
                              paths_per_repo=30, skew=8.0, pct_update=0.5, pct_delete=0.1)
    salted = replay_dataframe(spark, log, str(tmp_path / "s"), ReplayConfig(n_salts=16))
    unsalted = replay_dataframe(spark, log, str(tmp_path / "u"), ReplayConfig(n_salts=1))
    assert_state_equal(state(salted), state(unsalted))
    # n_salts=0 (no pre-stage shuffle at all) is also bit-for-bit identical
    skipped = replay_dataframe(spark, log, str(tmp_path / "k"), ReplayConfig(n_salts=0))
    assert_state_equal(state(skipped), state(unsalted))


def test_dead_letter_channel_in_replay(spark, tmp_path):
    """Invalid rows divert to the quarantine sink instead of failing the job
    (F10 — update.file_errors, sharepoint.ts:392-396)."""
    rows = [
        (0, 1, "I", "r1", "a.py", "c", "py", "ok"),
        (0, 2, "X", "r1", "b.py", "c", "py", "bad op"),
        (0, 3, "I", None, "c.py", "c", "py", "no repo"),
    ]
    schema = "epoch long, ordinal long, op string, repo string, path string, commit string, lang string, content string"
    log = spark.createDataFrame(rows, schema=schema)
    path = str(tmp_path / "t")
    sink = replay_dataframe(spark, log, path, ReplayConfig(validate=True))
    s = state(sink)
    assert list(s["path"]) == ["a.py"]
    dead = spark.read.parquet(path + "/_dead_letter/epoch=0")
    errs = sorted(r["error"] for r in dead.collect())
    assert errs == ["missing required field: repo", "unsupported op"]
    assert sink.manifest().metrics.get("dead_letter_rows") == 2


def test_changelog_append_conforms_to_existing_schema(spark, tmp_path):
    """Appending to a changelog written WITHOUT `_content_bytes` (another
    writer's files) must not introduce the column: mixed footers would make
    the stats fast path read NULL byte sizes for the old files' rows —
    silently undercounting byte lineage — or resolve to the old schema and
    silently disable the fast path, depending on file listing order.  The
    append conforms; a fresh table still gets the column."""
    import pyspark.sql.functions as F

    from jurisprudencia_privada_etl_spark.sources.changelog import write_changelog

    clog = str(tmp_path / "legacy")
    e0 = make_log(spark, [(0, 1, "I", "r1", "a.py", "c1", "py", "v1")]).withColumn(
        "_content_bytes", F.octet_length("content")
    ).drop("_content_bytes")  # simulate a foreign writer: plain schema
    e0.write.mode("overwrite").partitionBy("epoch").parquet(clog)
    e1 = make_log(spark, [(1, 2, "I", "r1", "b.py", "c2", "py", "v2-longer")])
    write_changelog(e1, clog, mode="append")
    assert "_content_bytes" not in spark.read.parquet(clog).columns
    # every row's bytes still flow through the octet_length fallback
    got = spark.read.parquet(clog).select(F.sum(F.octet_length("content"))).first()[0]
    assert got == len("v1") + len("v2-longer")

    fresh = str(tmp_path / "fresh")
    write_changelog(e1, fresh, mode="append")  # append onto nothing
    assert "_content_bytes" in spark.read.parquet(fresh).columns


def test_schema_evolution_from_stored_changelog(spark, tmp_path):
    """Evolution epochs read from DISK: epoch 1's parquet files carry the new
    `stars` column; the replay surfaces it via footer merging and the sink
    evolves before the merge."""
    from pyspark.sql import types as T

    from jurisprudencia_privada_etl_spark.plans.replay import replay
    from jurisprudencia_privada_etl_spark.sources.changelog import write_changelog

    clog = str(tmp_path / "clog")
    e0 = make_log(spark, [(0, 1, "I", "r1", "a.py", "c1", "py", "v1")])
    write_changelog(e0, clog, mode="overwrite")
    ev_schema = T.StructType(list(CHANGELOG_SCHEMA.fields) + [T.StructField("stars", T.IntegerType(), True)])
    e1 = spark.createDataFrame([(1, 2, "I", "r1", "b.py", "c2", "go", "v2", 7)], schema=ev_schema)
    write_changelog(e1, clog, mode="append")

    cfg = ReplayConfig(schema_evolution={1: [SchemaChange("add", "stars", dtype="int")]})
    sink = replay(spark, clog, str(tmp_path / "t"), cfg)
    out = {r["path"]: r for r in sink.load().collect()}
    assert out["b.py"]["stars"] == 7
    assert pd.isna(out["a.py"]["stars"]) or out["a.py"]["stars"] is None


def test_epoch_gate_shared_helper():
    """T3: the exactly-once gate both sinks share (manifest.epoch_already_applied)."""
    from jurisprudencia_privada_etl_spark.plans.manifest import epoch_already_applied

    assert not epoch_already_applied(None, 0)        # nothing committed yet
    assert not epoch_already_applied(-1, 0)          # fresh manifest
    assert epoch_already_applied(0, 0)               # replay of committed epoch
    assert epoch_already_applied(3, 2)               # older epoch re-delivered
    assert not epoch_already_applied(3, 4)           # next epoch proceeds
    assert epoch_already_applied("3", 3)             # Iceberg property is a string


def test_ordinal_tie_is_deterministic_across_strategies(spark, tmp_path):
    """A malformed changelog with duplicate ordinals for one key must still
    yield exactly ONE row per key, the SAME row under every merge strategy,
    and the target must win a target-vs-update ordinal tie (the strict
    `u.ordinal > t.ordinal` MERGE guard)."""
    e0 = make_log(spark, [
        (0, 5, "I", "r1", "a.py", "c5", "py", "target-content"),
        (0, 3, "I", "r1", "b.py", "c3", "py", "b-content"),
    ])
    # epoch 1 replays ordinal 5 for a.py with DIFFERENT content (tie vs
    # target) and carries an internal tie for c.py (two rows, ordinal 7).
    e1 = make_log(spark, [
        (1, 5, "U", "r1", "a.py", "cX", "py", "tie-must-lose"),
        (1, 7, "I", "r1", "c.py", "c7", "py", "c-first"),
        (1, 7, "I", "r1", "c.py", "c7", "py", "c-first"),
    ])
    states = {}
    for strat in ("window", "join"):
        p = str(tmp_path / strat)
        sink = replay_dataframe(spark, e0, p, ReplayConfig(merge_strategy=strat))
        replay_dataframe(spark, e1, p, ReplayConfig(merge_strategy=strat))
        s = state(HadoopParquetSink(spark, p))
        # primary-key invariant holds even with the tie
        assert list(s["path"]) == ["a.py", "b.py", "c.py"], strat
        # target wins the a.py ordinal tie
        assert s.loc[s["path"] == "a.py", "content"].iloc[0] == "target-content", strat
        states[strat] = s
    assert_state_equal(states["window"], states["join"])


def test_null_op_goes_to_dead_letter(spark, tmp_path):
    """A NULL op must be quarantined, not silently merged with deleted=NULL
    (the ~isin() three-valued-logic trap)."""
    rows = [
        (0, 1, "I", "r1", "a.py", "c", "py", "ok"),
        (0, 2, None, "r1", "b.py", "c", "py", "null op"),
    ]
    schema = "epoch long, ordinal long, op string, repo string, path string, commit string, lang string, content string"
    log = spark.createDataFrame(rows, schema=schema)
    path = str(tmp_path / "t")
    sink = replay_dataframe(spark, log, path, ReplayConfig(validate=True))
    assert list(state(sink)["path"]) == ["a.py"]
    dead = spark.read.parquet(path + "/_dead_letter/epoch=0")
    assert [r["error"] for r in dead.collect()] == ["unsupported op"]


def test_conflict_report_sink_in_replay(spark, tmp_path):
    """S14: an epoch's winning updates that change configured fields emit
    (key, field, current, new) rows to _conflicts/epoch=N (report.ts:43-110)."""
    e0 = make_log(spark, [
        (0, 1, "I", "r1", "a.py", "c1", "py", "original"),
        (0, 2, "I", "r1", "b.py", "c2", "py", "same"),
        (0, 3, "I", "r1", "c.py", "c3", "py", "dying"),
    ])
    e1 = make_log(spark, [
        (1, 10, "U", "r1", "a.py", "c1", "go", "changed"),   # lang + content conflict
        (1, 11, "U", "r1", "b.py", "c2", "py", "same"),      # no field differs → no row
        (1, 12, "D", "r1", "c.py", "c3", "py", ""),          # delete → never a conflict
        (1, 13, "I", "r1", "new.py", "c4", "py", "fresh"),   # no target row → no conflict
    ])
    path = str(tmp_path / "t")
    cfg = ReplayConfig(conflict_fields=["lang", "content"])
    replay_dataframe(spark, e0, path, cfg)
    sink = replay_dataframe(spark, e1, path, cfg)
    conf = spark.read.parquet(path + "/_conflicts/epoch=1").toPandas()
    conf = conf.sort_values("field").reset_index(drop=True)
    assert list(conf["path"].unique()) == ["a.py"]
    assert list(conf["field"]) == ["content", "lang"]
    assert list(conf["current"]) == ["original", "py"]
    assert list(conf["new"]) == ["changed", "go"]
    assert sink.manifest().metrics.get("conflict_rows") == 2
    # epoch 0 bootstraps into an empty table: no conflicts possible
    import os
    assert not os.path.exists(path + "/_conflicts/epoch=0") or \
        spark.read.parquet(path + "/_conflicts/epoch=0").count() == 0


def test_repair_queue_late_sidecar_lifecycle(spark, tmp_path):
    """S7 end-to-end: a key indexed before its sidecar existed is marked,
    the repair pass re-derives it WITH the late sidecar, replaces it in the
    table (ordinal retained — repair is not an event), and clears the
    markers (sharepoint.ts:159-193)."""
    from pyspark.sql import functions as F

    from jurisprudencia_privada_etl_spark.operators.repair_queue import (
        enqueue,
        list_batches,
        process_repair_queue,
    )

    rows = [
        (0, 1, "I", "r1", "a.py", "c1", "py", "content-a"),
        (0, 2, "I", "r1", "b.py", "c2", "py", "content-b"),
        (0, 3, "D", "r1", "dead.py", "c3", "py", ""),
    ]
    log = make_log(spark, rows)
    path = str(tmp_path / "t")
    sink = replay_dataframe(spark, log, path)
    before = {r["path"]: r for r in sink.load().collect()}
    assert before["a.py"]["area"] != "civel-late"

    enqueue(
        spark.createDataFrame([("r1", "a.py")], ["repo", "path"]), path, "sidecar missing"
    )
    assert list_batches(path) == [0]

    def enrich(winners):
        # the late sidecar is now available: recompute derived fields
        return winners.withColumn("area", F.lit("civel-late")).withColumn(
            "content_sha", F.sha2(F.col("content"), 256)
        )

    res = process_repair_queue(spark, sink, log, enrich)
    assert res["repaired_keys"] == 1
    assert res["cleared_batches"] == 1
    assert list_batches(path) == []  # markers cleared

    after = {r["path"]: r for r in sink.load().collect()}
    assert after["a.py"]["area"] == "civel-late"
    assert after["a.py"]["ordinal"] == 1          # ordinal preserved
    assert after["a.py"]["content"] == "content-a"
    # extraction re-ran on the repaired row: derived fields are NOT
    # null-regressed (fingerprint/title/tokens survive the repair)
    assert after["a.py"]["fingerprint"] is not None
    assert after["a.py"]["title_norm"] is not None
    assert after["a.py"]["n_tokens"] == 1
    assert after["b.py"]["content"] == "content-b"  # co-bucketed rows carry over
    assert "dead.py" not in after                   # tombstone winner stays out

    # idempotent: a crash between rewrite and clear re-runs with the same
    # markers and converges to the same state
    enqueue(spark.createDataFrame([("r1", "a.py")], ["repo", "path"]), path, "retry")
    res2 = process_repair_queue(spark, sink, log, enrich)
    assert res2["repaired_keys"] == 1
    again = {r["path"]: r for r in sink.load().collect()}
    assert again["a.py"]["area"] == "civel-late" and again["a.py"]["ordinal"] == 1
    # resume offset untouched: repair is not an epoch
    assert sink.last_committed_epoch() == 0
