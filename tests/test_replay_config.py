"""ReplayConfig construction invariants (plans/replay.py) — driver-side
only, no Spark session."""

from __future__ import annotations

import os

import pytest

from jurisprudencia_privada_etl_spark.plans.replay import ReplayConfig, replay_dataframe


def test_check_constraints_auto_enable_validate():
    """Declared CHECK constraints must never silently not run: a
    programmatic caller setting only check_constraints gets validate
    flipped on (ADVICE r04 — the CLI already guarded this, the dataclass
    didn't)."""
    cfg = ReplayConfig(check_constraints={"pos": "ordinal >= 0"})
    assert cfg.validate is True


def test_validate_stays_off_without_constraints():
    assert ReplayConfig().validate is False
    assert ReplayConfig(check_constraints={}).validate is False


@pytest.mark.parametrize(
    "kw",
    [
        {"merge_strategy": "agg"},
        {"merge_strategy": "bucket_agg"},
        {"merge_strategy": "windw"},
        {"write_mode": "copy"},
    ],
    ids=["agg", "bucket_agg", "typo", "write_mode"],
)
def test_unknown_strategy_or_mode_raises_before_any_spark_job(tmp_path, kw):
    """An unknown merge_strategy or write_mode must fail loudly, not run some
    other merge.  No SparkSession is passed: the sink rejects the value in
    its constructor, before the table is created or a job is planned."""
    with pytest.raises(ValueError, match=next(iter(kw))):
        replay_dataframe(None, None, str(tmp_path / "t"), ReplayConfig(**kw))
    assert not os.listdir(tmp_path)
