"""Incremental materialized-view maintenance (operators/mview.py).

Every test pins the one invariant that matters: an incrementally refreshed
view is row-for-row equal to a full recompute over the current base state —
including the cases a naive delta merge gets wrong (groups emptied to zero
rows, sums whose non-null inputs all disappear, updates that move a key
between groups, vacuum inside the refresh window).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.operators.change_feed import diff_states
from jurisprudencia_privada_etl_spark.operators.mview import (
    MaterializedView,
    aggregate_view,
    apply_delta,
    delta_from_feed,
    public_columns,
    refresh_groups,
)
from jurisprudencia_privada_etl_spark.plans.replay import replay_dataframe
from jurisprudencia_privada_etl_spark.plans.sink import BUCKET_COLUMN
from jurisprudencia_privada_etl_spark.sources.generator import synthetic_changelog


def _log(spark, n=3000, epochs=4, seed=23):
    return synthetic_changelog(
        spark, n, seed=seed, n_epochs=epochs, n_repos=8, paths_per_repo=60,
        pct_update=0.4, pct_delete=0.15,
    )


def _cmp(view_df, expected_df, cols):
    a = view_df.toPandas().sort_values(cols).reset_index(drop=True)[sorted(view_df.columns)]
    b = expected_df.toPandas().sort_values(cols).reset_index(drop=True)[sorted(expected_df.columns)]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


SPECS_SUM = [("n_rows", "count", None), ("sum_ordinal", "sum", "ordinal")]
SPECS_MM = [("n_rows", "count", None), ("min_ordinal", "min", "ordinal"),
            ("max_ordinal", "max", "ordinal")]


def _recompute(sink, group_cols, specs):
    state = sink.load().drop(BUCKET_COLUMN)
    return aggregate_view(state, group_cols, specs).select(*public_columns(group_cols, specs))


def test_mview_delta_refresh_matches_recompute(spark, tmp_path):
    """count/sum view created at epoch 1, advanced over two more epochs of
    inserts/updates/deletes by the delta path — equal to full recompute."""
    log = _log(spark)
    sink = replay_dataframe(spark, log.where(F.col("epoch") <= 1), str(tmp_path / "t"))
    mv = MaterializedView(spark, sink, str(tmp_path / "mv"))
    r = mv.create(["lang"], SPECS_SUM)
    assert r["mode"] == "full" and r["synced_version"] == sink.manifest().version

    sink = replay_dataframe(spark, log, str(tmp_path / "t"))
    r = mv.refresh()
    assert r["mode"] == "delta"
    assert r["synced_version"] == sink.manifest().version
    _cmp(mv.df(), _recompute(sink, ["lang"], SPECS_SUM), ["lang"])


def test_mview_minmax_refresh_rescans_affected_groups_only(spark, tmp_path):
    """min/max views refresh through the affected-group rescan and still
    equal recompute; the refresh reports the rescan mode."""
    log = _log(spark, seed=29)
    sink = replay_dataframe(spark, log.where(F.col("epoch") <= 1), str(tmp_path / "t"))
    mv = MaterializedView(spark, sink, str(tmp_path / "mv"))
    mv.create(["lang"], SPECS_MM)
    sink = replay_dataframe(spark, log, str(tmp_path / "t"))
    r = mv.refresh()
    assert r["mode"] == "rescan_groups"
    _cmp(mv.df(), _recompute(sink, ["lang"], SPECS_MM), ["lang"])


def test_mview_refresh_is_exactly_once(spark, tmp_path):
    """A refresh with nothing new is a noop, and re-refreshing never changes
    the view (the stamped synced version is the idempotence gate)."""
    log = _log(spark, n=1200, epochs=2, seed=31)
    sink = replay_dataframe(spark, log, str(tmp_path / "t"))
    mv = MaterializedView(spark, sink, str(tmp_path / "mv"))
    mv.create(["lang"], SPECS_SUM)
    before = mv.df().toPandas().sort_values("lang").reset_index(drop=True)
    assert mv.refresh()["mode"] == "noop"
    assert mv.refresh()["mode"] == "noop"
    after = mv.df().toPandas().sort_values("lang").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_mview_refresh_across_vacuum_converges(spark, tmp_path):
    """vacuum() inside the refresh window GC's tombstones — fatal for
    replication feeds (ordinals lost) but harmless here: the preimage feed
    identifies deleted rows from the OLD snapshot, not the tombstones."""
    log = _log(spark, seed=37)
    sink = replay_dataframe(spark, log.where(F.col("epoch") <= 1), str(tmp_path / "t"))
    mv = MaterializedView(spark, sink, str(tmp_path / "mv"))
    mv.create(["lang"], SPECS_SUM)
    sink = replay_dataframe(spark, log, str(tmp_path / "t"))
    max_ord = log.agg(F.max("ordinal")).collect()[0][0]
    sink.vacuum(retain_after_ordinal=max_ord + 1)  # GC every tombstone
    r = mv.refresh()
    assert r["mode"] == "delta"
    _cmp(mv.df(), _recompute(sink, ["lang"], SPECS_SUM), ["lang"])


def test_apply_delta_drops_empty_groups_and_restores_null_sums(spark):
    """The two recompute-parity traps: a group whose last row is deleted
    must vanish (not linger at count 0), and a sum whose non-null inputs
    all disappear must read NULL again (not 0) while the group survives on
    rows whose value is null."""
    cols = ["repo", "path", "g", "x"]
    old = spark.createDataFrame(
        [("r", "a", "g1", 5), ("r", "b", "g1", None), ("r", "c", "g2", 7)],
        "repo string, path string, g string, x int",
    )
    new = spark.createDataFrame(
        [("r", "b", "g1", None)], "repo string, path string, g string, x int"
    )
    specs = [("n", "count", None), ("sx", "sum", "x")]
    feed = diff_states(old, new, ["repo", "path"])
    got = apply_delta(
        aggregate_view(old, ["g"], specs), delta_from_feed(feed, ["g"], specs), ["g"], specs
    ).select(*public_columns(["g"], specs))
    rows = {r["g"]: r.asDict() for r in got.collect()}
    assert set(rows) == {"g1"}, "g2 emptied and must be dropped"
    assert rows["g1"]["n"] == 1
    assert rows["g1"]["sx"] is None, "all non-null x gone -> sum returns to NULL"
    _cmp(got, aggregate_view(new, ["g"], specs).select(*public_columns(["g"], specs)), ["g"])
    assert cols  # silence linters about the doc-only name


def test_delta_handles_group_moving_updates(spark):
    """An update that changes a row's group decrements the old group and
    increments the new one (preimage/postimage both contribute)."""
    old = spark.createDataFrame(
        [("r", "a", "g1", 10), ("r", "b", "g2", 1)],
        "repo string, path string, g string, x int",
    )
    new = spark.createDataFrame(
        [("r", "a", "g2", 11), ("r", "b", "g2", 1)],
        "repo string, path string, g string, x int",
    )
    specs = [("n", "count", None), ("sx", "sum", "x")]
    feed = diff_states(old, new, ["repo", "path"])
    got = apply_delta(
        aggregate_view(old, ["g"], specs), delta_from_feed(feed, ["g"], specs), ["g"], specs
    ).select(*public_columns(["g"], specs))
    _cmp(got, aggregate_view(new, ["g"], specs).select(*public_columns(["g"], specs)), ["g"])


def test_refresh_groups_passes_untouched_groups_without_rescan(spark):
    """refresh_groups recomputes only feed-named groups; untouched groups
    ride through from the stored view even if the 'base' no longer agrees
    (proving no hidden full rescan), and groups the feed emptied vanish."""
    old = spark.createDataFrame(
        [("r", "a", "g1", 3), ("r", "b", "g2", 4), ("r", "c", "g3", 9)],
        "repo string, path string, g string, x int",
    )
    new = spark.createDataFrame(
        [("r", "a", "g1", 8), ("r", "b", "g2", 4)],  # g1 updated, g3 deleted
        "repo string, path string, g string, x int",
    )
    specs = [("mx", "max", "x")]
    view0 = aggregate_view(old, ["g"], specs)
    feed = diff_states(old, new, ["repo", "path"])
    # corrupt g2 in the base: if refresh rescanned it, mx would read 999
    base = new.withColumn("x", F.when(F.col("g") == "g2", F.lit(999)).otherwise(F.col("x")))
    got = refresh_groups(view0, feed, base, ["g"], specs).select(*public_columns(["g"], specs))
    rows = {r["g"]: r["mx"] for r in got.collect()}
    assert rows == {"g1": 8, "g2": 4}, rows


def test_delta_from_feed_rejects_minmax_and_tombstone_images(spark):
    """Guardrails: min/max specs refuse the delta path, and the stored-view
    refresh only ever consumes preimage delete images (a tombstone's payload
    is the delete event's, not the removed row's)."""
    import pytest

    feed = spark.createDataFrame(
        [("r", "a", "g1", 1, "insert")],
        "repo string, path string, g string, x int, _change_type string",
    )
    with pytest.raises(ValueError, match="not self-maintainable"):
        delta_from_feed(feed, ["g"], [("mn", "min", "x")])
    from jurisprudencia_privada_etl_spark.operators.change_feed import change_feed

    with pytest.raises(ValueError, match="delete_image"):
        change_feed(None, 0, delete_image="bogus")
