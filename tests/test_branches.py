"""Branches: forked metadata roots over shared copy-on-write data (the
Iceberg branch-ref analog).  Branch commits run the unchanged merge engine;
main-side GC treats branch-referenced dirs as live; fast_forward adopts
branch commits through the normal manifest CAS."""

from __future__ import annotations

import os

import pytest

from jurisprudencia_privada_etl_spark.operators.fsck import digests_equal, table_digest
from jurisprudencia_privada_etl_spark.plans import manifest as mf
from jurisprudencia_privada_etl_spark.plans.replay import ReplayConfig, process_epoch
from jurisprudencia_privada_etl_spark.plans.sink import BUCKET_COLUMN, HadoopParquetSink
from jurisprudencia_privada_etl_spark.schemas import CHANGELOG_SCHEMA, TARGET_SCHEMA, TableSchema


def _rows(epoch, start, n, op="I", repo="r0"):
    return [
        (epoch, start + i, op, repo, f"f{start + i}.py", f"c{start + i}", "py", f"body {start + i}")
        for i in range(n)
    ]


def _table(spark, tmp_path, n=40):
    sink = HadoopParquetSink(spark, str(tmp_path / "t"), n_buckets=4)
    sink.create(TableSchema.from_struct(TARGET_SCHEMA))
    process_epoch(
        spark, sink, spark.createDataFrame(_rows(0, 0, n), CHANGELOG_SCHEMA), 0, ReplayConfig()
    )
    return sink


def _digest(sink_df):
    cols = sorted(c for c in sink_df.columns if c != BUCKET_COLUMN)
    return table_digest(sink_df.select(*cols), cols)


def test_branch_commits_isolated_from_main(spark, tmp_path):
    sink = _table(spark, tmp_path)
    main_before = _digest(sink.load()).collect()[0]
    sink.create_branch("audit")
    b = sink.branch("audit")
    assert b.load().count() == 40  # fork sees main's state
    process_epoch(
        spark, b, spark.createDataFrame(_rows(1, 100, 10), CHANGELOG_SCHEMA), 1, ReplayConfig()
    )
    assert b.load().count() == 50
    assert b.last_committed_epoch() == 1
    # main untouched: same head, same digest
    assert _digest(sink.load()).collect()[0] == main_before
    assert sink.last_committed_epoch() == 0
    info = sink.branches()
    assert [i["name"] for i in info] == ["audit"]
    assert info[0]["head_version"] == info[0]["fork_version"] + 1
    assert info[0]["last_committed_epoch"] == 1


def test_fast_forward_adopts_branch_state(spark, tmp_path):
    sink = _table(spark, tmp_path)
    sink.create_branch("wip")
    b = sink.branch("wip")
    process_epoch(
        spark, b, spark.createDataFrame(_rows(1, 100, 10), CHANGELOG_SCHEMA), 1, ReplayConfig()
    )
    process_epoch(
        spark, b, spark.createDataFrame(_rows(2, 0, 5, op="D"), CHANGELOG_SCHEMA), 2, ReplayConfig()
    )
    branch_digest = _digest(b.load()).collect()[0]
    r = sink.fast_forward("wip")
    assert len(r["adopted_versions"]) == 2
    assert _digest(sink.load()).collect()[0] == branch_digest
    # the replay cursor moved with the adoption: main resumes after epoch 2
    assert sink.last_committed_epoch() == 2
    # time travel on main now covers the adopted versions
    assert sink.load(version=r["adopted_versions"][0]).count() == 50


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    sink = _table(spark, tmp_path)
    sink.create_branch("wip")
    b = sink.branch("wip")
    process_epoch(
        spark, b, spark.createDataFrame(_rows(1, 100, 5), CHANGELOG_SCHEMA), 1, ReplayConfig()
    )
    # main commits independently after the fork
    process_epoch(
        spark, sink, spark.createDataFrame(_rows(1, 200, 5), CHANGELOG_SCHEMA), 1, ReplayConfig()
    )
    with pytest.raises(mf.CommitConflictError, match="fork point"):
        sink.fast_forward("wip")


def test_main_gc_protects_branch_data(spark, tmp_path):
    sink = _table(spark, tmp_path)
    sink.create_branch("keepme")
    b = sink.branch("keepme")
    process_epoch(
        spark, b, spark.createDataFrame(_rows(1, 100, 10), CHANGELOG_SCHEMA), 1, ReplayConfig()
    )
    # age every data dir so the orphan horizon would otherwise sweep
    data_root = os.path.join(sink.table_path, "data")
    for vdir in os.listdir(data_root):
        p = os.path.join(data_root, vdir)
        old = os.path.getmtime(p) - 3600
        os.utime(p, (old, old))
    sink.expire_snapshots(keep_last=1)
    assert sink.remove_orphan_files(older_than_s=10.0)["orphan_dirs"] == []
    assert b.load().count() == 50  # branch fully readable after main GC

    # dropping the branch releases its dirs to the orphan sweep
    sink.drop_branch("keepme")
    for vdir in os.listdir(data_root):
        p = os.path.join(data_root, vdir)
        old = os.path.getmtime(p) - 3600
        os.utime(p, (old, old))
    swept = sink.remove_orphan_files(older_than_s=10.0)
    assert swept["orphan_dirs"] != []
    assert sink.load().count() == 40  # main unaffected


def test_branch_cli_roundtrip(spark, tmp_path):
    """spark-submit surface: create a branch, replay NEW epochs into it,
    audit, fast-forward onto main — all via scripts/run_replay.py flags."""
    import json as _json
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "scripts", "run_replay.py")
    env = dict(os.environ, PYTHONPATH=repo)
    clog, table = str(tmp_path / "clog"), str(tmp_path / "tbl")

    def run(*extra):
        out = subprocess.run(
            [_sys.executable, script, "--changelog", clog, "--table", table, *extra],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return _json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])

    # main stops at epoch 1; epochs 2-3 are replayed onto a branch first
    # (audit-before-adopt), then fast-forwarded onto main
    r = run("--generate", "2000", "--max-epoch", "1")
    assert r["last_committed_epoch"] == 1
    assert run("--create-branch", "wip")["create_branch"]["branch"] == "wip"
    rb = run("--branch", "wip")
    assert rb["last_committed_epoch"] == 3  # branch caught up past the fork
    ff = run("--fast-forward", "wip")["fast_forward"]
    assert len(ff["adopted_versions"]) == 2  # one commit per adopted epoch
    # main resumed at the branch's cursor; a plain re-run is now a no-op
    r2 = run()
    assert r2["last_committed_epoch"] == 3
    assert run("--drop-branch", "wip")["drop_branch"]["dropped"]


def test_branch_sink_keeps_every_setting(spark, tmp_path):
    """A merge through a branch must write like one on main: the branch sink
    carries every constructor setting, adaptive file sizing included."""
    settings = {
        "n_buckets": 8, "merge_strategy": "join", "files_per_bucket": 3,
        "write_mode": "mor", "bloom_filter_ndv": 1000,
        "target_file_bytes": 1 << 20, "parquet_compression_ratio": 2.5,
    }
    sink = HadoopParquetSink(spark, str(tmp_path / "t"), **settings)
    sink.create(TableSchema.from_struct(TARGET_SCHEMA))
    sink.create_branch("b")
    b = sink.branch("b")
    assert {k: getattr(b, k) for k in settings} == settings


def test_branch_guards(spark, tmp_path):
    sink = _table(spark, tmp_path)
    sink.create_branch("a")
    b = sink.branch("a")
    with pytest.raises(ValueError, match="nested"):
        b.create_branch("b")
    with pytest.raises(RuntimeError, match="main table"):
        b.expire_snapshots()
    with pytest.raises(RuntimeError, match="main table"):
        b.remove_orphan_files()
    with pytest.raises(ValueError, match="already exists"):
        sink.create_branch("a")
    with pytest.raises(ValueError, match="invalid branch name"):
        sink.create_branch("../evil")
    assert sink.drop_branch("a")["dropped"]
    assert sink.drop_branch("a") == {"dropped": False}
    assert sink.branches() == []
