"""One epoch driver, one sink factory: every replay entry path (batch,
DataFrame, streaming, fan-out, dead-letter requeue) builds its sink with
``open_sink(spark, path, cfg)`` and applies every epoch through
``process_epoch`` with that same config — so no ``ReplayConfig`` field can
be honoured on one path and silently dropped on another."""

from __future__ import annotations

import functools
import importlib
import importlib.util
import os
import sys

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jurisprudencia_privada_etl_spark.operators.dead_letter import requeue_dead_letters
from jurisprudencia_privada_etl_spark.plans.replay import (
    ReplayConfig,
    open_sink,
    replay,
    replay_dataframe,
)
from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink
from jurisprudencia_privada_etl_spark.plans.txn import fanout_replay
from jurisprudencia_privada_etl_spark.schemas import CHANGELOG_SCHEMA, SchemaChange
from jurisprudencia_privada_etl_spark.sources.changelog import write_changelog
from jurisprudencia_privada_etl_spark.streaming.stream_replay import apply_batch, stream_replay

from tests.conftest import assert_state_equal, oracle_reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAYLOAD = ["repo", "path", "commit", "lang", "content", "ordinal", "content_sha"]
SINK_FIELDS = (
    "n_buckets", "merge_strategy", "files_per_bucket",
    "write_mode", "bloom_filter_ndv", "target_file_bytes",
)
# `lang` is NULL on y.txt: the route predicate is NULL there, not false
ROUTES_ON_PY = "lang = 'py'"
EPOCH0 = [
    (0, 1, "I", "r1", "x.py", "c1", "py", "vx"),
    (0, 2, "I", "r1", "y.txt", "c2", None, "vy"),
    (0, 3, "I", "r1", "z.go", "c3", "go", "vz"),
]


def _log(spark, rows, schema=CHANGELOG_SCHEMA):
    return spark.createDataFrame(rows, schema=schema)


def _state(*sinks, cols=PAYLOAD) -> pd.DataFrame:
    return (
        pd.concat([s.load().select(*cols).toPandas() for s in sinks])
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def test_fanout_applies_schema_evolution_on_every_route(spark, tmp_path):
    """Epoch 1 adds `stars`: both route tables evolve and keep the values,
    and the route union equals the single-table state."""
    clog = str(tmp_path / "clog")
    e0 = _log(spark, EPOCH0)
    write_changelog(e0, clog)
    stars = T.StructType(list(CHANGELOG_SCHEMA.fields) + [T.StructField("stars", T.IntegerType())])
    e1 = _log(spark, [
        (1, 4, "U", "r1", "x.py", "c4", "py", "vx2", 7),
        (1, 5, "U", "r1", "z.go", "c5", "go", "vz2", 9),
    ], stars)
    write_changelog(e1, clog, mode="append")
    cfg = ReplayConfig(
        n_buckets=4, schema_evolution={1: [SchemaChange("add", "stars", dtype="int")]}
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    out = fanout_replay(
        spark, clog, str(tmp_path), cfg=cfg,
        routes=[(a, f"NOT coalesce(({ROUTES_ON_PY}), false)"), (b, ROUTES_ON_PY)],
    )
    assert len(out["txns"]) == 2
    routes = [open_sink(spark, p, cfg) for p in (a, b)]
    for s in routes:
        assert "stars" in s.load().columns
        assert s.last_committed_epoch() == 1
    union = _state(*routes, cols=[*PAYLOAD, "stars"])
    assert_state_equal(union, oracle_reduce(pd.concat([e0.toPandas(), e1.toPandas()])))
    got = dict(zip(union["path"], union["stars"]))
    assert (got["x.py"], got["z.go"]) == (7, 9) and pd.isna(got["y.txt"])


def test_cli_fanout_keeps_rows_whose_route_predicate_is_null(spark, tmp_path, monkeypatch):
    """`--fanout` routes NULL-predicate rows to the complement table, so the
    route union is the single-table state."""
    clog = str(tmp_path / "clog")
    log = _log(spark, EPOCH0)
    write_changelog(log, clog)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    # the script prepends the repo root to sys.path and PYTHONPATH on import
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    spec = importlib.util.spec_from_file_location(
        "run_replay", os.path.join(REPO, "scripts", "run_replay.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    monkeypatch.setattr(sys, "argv", [
        "run_replay.py", "--changelog", clog, "--table", a, "--n-buckets", "4",
        "--fanout", f"{b}:{ROUTES_ON_PY}", "--txn-root", str(tmp_path),
    ])
    cli.main()
    cfg = ReplayConfig(n_buckets=4)
    union = _state(open_sink(spark, a, cfg), open_sink(spark, b, cfg))
    assert_state_equal(union, oracle_reduce(log.toPandas()))
    assert set(union["path"]) == {"x.py", "y.txt", "z.go"}


def test_every_entry_path_uses_open_sink_and_process_epoch(spark, tmp_path, monkeypatch):
    """Entry path × field: each path runs one ~10-row epoch under a
    non-default config.  Every sink built for a target table carries all
    six sink fields, and every epoch goes through process_epoch with the
    caller's config object (recorded however the path imports it)."""
    cfg = ReplayConfig(
        n_buckets=4, merge_strategy="join", files_per_bucket=2, write_mode="mor",
        bloom_filter_ndv=64, target_file_bytes=1 << 20, validate=True,
    )
    rows = [
        (0, i, "I", f"r{i % 3}", f"p{i}.py", f"c{i}", "py", f"v{i}") for i in range(9)
    ] + [(0, 9, "Z", "r0", "bad.py", "c9", "py", "v9")]  # unknown op: dead letter
    log = _log(spark, rows)
    clog = str(tmp_path / "clog")
    write_changelog(log, clog)

    built: list[HadoopParquetSink] = []
    applied: list[tuple[str, int, ReplayConfig]] = []
    replay_mod = importlib.import_module("jurisprudencia_privada_etl_spark.plans.replay")
    init, epoch_fn = HadoopParquetSink.__init__, replay_mod.process_epoch

    @functools.wraps(init)
    def rec_init(self, *a, **kw):
        init(self, *a, **kw)
        built.append(self)

    @functools.wraps(epoch_fn)
    def rec_epoch(spark_, sink, batch, epoch, cfg_, *a, **kw):
        applied.append((sink.table_path, epoch, cfg_))
        return epoch_fn(spark_, sink, batch, epoch, cfg_, *a, **kw)

    monkeypatch.setattr(HadoopParquetSink, "__init__", rec_init)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__dict__", {}).get("process_epoch") is epoch_fn:
            monkeypatch.setattr(mod, "process_epoch", rec_epoch)

    t = {n: str(tmp_path / n) for n in ("replay", "frame", "stream", "fan_a", "fan_b")}
    replay(spark, clog, t["replay"], cfg)
    replay_dataframe(spark, log, t["frame"], cfg)
    stream_replay(spark, clog, t["stream"], str(tmp_path / "ckpt"), cfg)
    fanout_replay(
        spark, clog, str(tmp_path), cfg=cfg,
        routes=[(t["fan_a"], "repo = 'r0'"), (t["fan_b"], "repo <> 'r0'")],
    )
    r = requeue_dead_letters(
        spark, open_sink(spark, t["replay"], cfg), cfg,
        repair=lambda df: df.withColumn("op", F.lit("I")),
    )
    assert r["requeue_epoch"] == 1 and not r.get("skipped")

    targets = [s for s in built if s.table_path in t.values()]
    assert {s.table_path for s in targets} == set(t.values())
    for s in targets:
        assert {f: getattr(s, f) for f in SINK_FIELDS} == {
            f: getattr(cfg, f) for f in SINK_FIELDS
        }, s.table_path
    assert all(c is cfg for _, _, c in applied)
    assert sorted((p, e) for p, e, _ in applied) == sorted(
        [(p, 0) for p in t.values()] + [(t["replay"], 1)]
    )
    for p in t.values():
        sink = open_sink(spark, p, cfg)
        assert sink.last_committed_epoch() == (1 if p == t["replay"] else 0)
        assert sink.load().where("path = 'bad.py'").count() == int(p == t["replay"])


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs on this thread, counted on a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_streaming_empty_check_rides_the_stats_scan(spark, tmp_path):
    """Validation off: the micro-batch's key_stats scan is also its empty
    check — an applied batch pays no separate isEmpty() job, and an empty
    one costs that one scan and commits nothing."""
    cfg = ReplayConfig(n_buckets=4)
    sink = open_sink(spark, str(tmp_path / "t"), cfg)
    clog = str(tmp_path / "clog")
    write_changelog(_log(spark, EPOCH0), clog)
    batch = spark.read.parquet(clog)

    empty = batch.where("ordinal < 0")
    n_empty = _jobs(spark, "empty_batch", lambda: apply_batch(spark, sink, cfg, [], empty, 0))
    assert sink.manifest().version == 0
    n_applied = _jobs(spark, "applied_batch", lambda: apply_batch(spark, sink, cfg, [], batch, 0))
    assert sink.last_committed_epoch() == 0
    # the stats scan only; the stats scan + the merge's 3 write-path jobs
    # (a separate isEmpty() made these 2 and 5)
    assert (n_empty, n_applied) == (1, 4)
