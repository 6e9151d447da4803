"""End-to-end replay vs independent oracle (SURVEY.md §5 item 2).

Generates a deterministic synthetic changelog, replays it through the full
pipeline (salt → Arrow extraction → LWW → bucketed MERGE → manifest), reads
the converged table back, and asserts row-for-row sha256(content) equality
against a trivially-correct pandas reducer.
"""

from __future__ import annotations

import pandas as pd

from jurisprudencia_privada_etl_spark.operators.lww import lww_dedup, lww_dedup_agg
from jurisprudencia_privada_etl_spark.plans.replay import replay, replay_dataframe
from jurisprudencia_privada_etl_spark.sources.changelog import write_changelog
from jurisprudencia_privada_etl_spark.sources.generator import synthetic_changelog

from tests.conftest import assert_state_equal, oracle_reduce

PAYLOAD = ["repo", "path", "commit", "lang", "content", "ordinal", "content_sha"]


def _final_state(sink) -> pd.DataFrame:
    return sink.load().select(*PAYLOAD).toPandas()


def test_insert_only_epoch(spark, tmp_path):
    """Minimum slice: one epoch of pure inserts (SURVEY.md §7.1 step 2)."""
    log = synthetic_changelog(
        spark, 500, seed=7, n_epochs=1, n_repos=5, paths_per_repo=400,
        pct_update=0.0, pct_delete=0.0,
    )
    pdf = log.toPandas()
    sink = replay_dataframe(spark, log, str(tmp_path / "t"))
    assert_state_equal(_final_state(sink), oracle_reduce(pdf))
    m = sink.manifest()
    assert m.last_committed_epoch == 0
    assert m.metrics["deleted"] == 0
    assert m.metrics["created"] == len(oracle_reduce(pdf))


def test_multi_epoch_mixed_ops(spark, tmp_path):
    """Inserts + updates + tombstones across 4 epochs, out-of-order arrival."""
    log = synthetic_changelog(
        spark, 3000, seed=11, n_epochs=4, n_repos=10, paths_per_repo=80,
        pct_update=0.4, pct_delete=0.15, shuffle_within_epoch=True,
    )
    pdf = log.toPandas()
    sink = replay_dataframe(spark, log, str(tmp_path / "t"))
    assert_state_equal(_final_state(sink), oracle_reduce(pdf))


def test_replay_from_stored_changelog(spark, tmp_path):
    """Epoch-partitioned storage round trip + pruned epoch reads."""
    log = synthetic_changelog(spark, 1200, seed=3, n_epochs=3, n_repos=8, paths_per_repo=60)
    clog = str(tmp_path / "changelog")
    write_changelog(log, clog)
    pdf = spark.read.parquet(clog).toPandas()
    sink = replay(spark, clog, str(tmp_path / "t"))
    assert_state_equal(_final_state(sink), oracle_reduce(pdf))
    assert sink.last_committed_epoch() == 2


def test_lww_dedup_window_and_agg_agree(spark):
    """The row_number-window LWW (queries) and the max_by partial-agg LWW
    (conflict reports, the "join" merge, MoR deltas) keep the same rows."""
    log = synthetic_changelog(spark, 1500, seed=23, n_epochs=2, n_repos=6, paths_per_repo=50,
                              pct_update=0.5, pct_delete=0.1)
    cols = sorted(log.columns)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    window = rows(lww_dedup(log))
    assert window == rows(lww_dedup_agg(log))
    assert len(window) == log.select("repo", "path").distinct().count()


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running the whole replay over a converged table changes nothing
    (the reference's idempotent re-run story, juris.ts:9-13)."""
    log = synthetic_changelog(spark, 800, seed=5, n_epochs=2, n_repos=5, paths_per_repo=40,
                              pct_delete=0.2)
    path = str(tmp_path / "t")
    s1 = replay_dataframe(spark, log, path)
    first = _final_state(s1)
    v1 = s1.manifest().version
    s2 = replay_dataframe(spark, log, path)  # all epochs already stamped
    assert s2.manifest().version == v1
    assert_state_equal(_final_state(s2), first)
