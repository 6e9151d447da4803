"""A tail epoch's fixed cost follows the epoch, not the table's age.

The sink reads its touched buckets in one schema-supplied scan whose files
are listed on the driver, so building that read runs no Spark job however
many buckets it covers or versions wrote them.  It writes them with at
most ``spark.sql.shuffle.partitions`` tasks and still one file per bucket.
``read_epoch`` lists one ``epoch=N`` dir, not the whole changelog.  Tables
here hold tens of rows: the counts, not the data, are under test.
"""

from __future__ import annotations

import glob
import os

from jurisprudencia_privada_etl_spark.functions.hashing import xxhash64_strings_py
from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink
from jurisprudencia_privada_etl_spark.schemas import (
    CHANGELOG_SCHEMA,
    TARGET_SCHEMA,
    TableSchema,
)
from jurisprudencia_privada_etl_spark.sources.changelog import read_epoch, write_changelog


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs on this thread, counted on a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _key_per_bucket(n_buckets: int) -> dict[int, tuple[str, str]]:
    """One (repo, path) key hashing into each bucket."""
    keys: dict[int, tuple[str, str]] = {}
    i = 0
    while len(keys) < n_buckets:
        key = ("r0", f"f{i}.py")
        keys.setdefault(xxhash64_strings_py(*key) % n_buckets, key)
        i += 1
    return keys


def _events(spark, keys, epoch: int, ordinal: int):
    rows = [
        (epoch, ordinal + i, "I", r, p, f"c{epoch}", "py", f"body {epoch} {p}")
        for i, (r, p) in enumerate(keys)
    ]
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def _sink(spark, path: str, n_buckets: int) -> HadoopParquetSink:
    sink = HadoopParquetSink(spark, path, n_buckets=n_buckets)
    sink.create(TableSchema.from_struct(TARGET_SCHEMA))
    return sink


def test_load_of_64_buckets_builds_without_a_job(spark, tmp_path):
    """64 bucket dirs are past Spark's default 32-root parallel-listing
    threshold; with the file schema supplied and listing on the driver the
    read builds with no job (inferring the schema cost 2).  The 64 buckets
    were written by 8 tasks and are still one file each, and ``_bucket``
    (taken from each file's dir) is every key's bucket."""
    keys = _key_per_bucket(64)
    sink = _sink(spark, str(tmp_path / "t"), 64)
    sink.merge(_events(spark, keys.values(), 0, 0), 0)
    m = sink.manifest()
    assert len(m.buckets) == 64
    for entry in m.buckets.values():
        files = glob.glob(os.path.join(sink.table_path, entry["path"], "*.parquet"))
        assert len(files) == 1, entry["path"]

    assert _jobs(spark, "load_64", lambda: sink.load(buckets=list(range(64)))) == 0
    got = {(r["path"], r["_bucket"]) for r in sink.load().select("path", "_bucket").collect()}
    assert got == {(p, b) for b, (_, p) in keys.items()}


def test_cow_epoch_jobs_do_not_grow_with_writing_versions(spark, tmp_path):
    """The same 10-key epoch on a table whose 10 touched buckets were each
    written at a different version runs exactly as many jobs as on a table
    that wrote them all at once (a read per writing version, each with a
    footer-inference job, made the aged table's epoch 9 jobs dearer)."""
    keys = _key_per_bucket(16)
    touched = [keys[b] for b in range(10)]
    aged = _sink(spark, str(tmp_path / "aged"), 16)
    for e, key in enumerate(touched):
        aged.merge(_events(spark, [key], e, 10 * e), e)
    versions = {aged.manifest().buckets[str(b)]["schema_version"] for b in range(10)}
    assert len(versions) == 10
    fresh = _sink(spark, str(tmp_path / "fresh"), 16)
    fresh.merge(_events(spark, touched, 0, 0), 0)

    epoch = _events(spark, touched, 10, 1000)
    n_aged = _jobs(spark, "aged_epoch", lambda: aged.merge(epoch, 10))
    n_fresh = _jobs(spark, "fresh_epoch", lambda: fresh.merge(epoch, 10))
    assert n_aged == n_fresh
    assert aged.manifest().metrics["updated"] == fresh.manifest().metrics["updated"] == 10
    cols = ["repo", "path", "content", "ordinal"]
    assert sorted(aged.load().select(*cols).collect()) == sorted(
        fresh.load().select(*cols).collect()
    )


def test_read_epoch_lists_only_its_epoch_dir(spark, tmp_path):
    """read_epoch scans ``epoch=N`` alone (its input files all lie there),
    keeps ``epoch`` typed as the whole-changelog scan types it, and falls
    back to the root scan for an epoch with no dir."""
    clog = str(tmp_path / "clog")
    write_changelog(
        _events(spark, [("r0", "a.py")], 0, 0)
        .union(_events(spark, [("r0", "b.py")], 1, 1))
        .union(_events(spark, [("r0", "c.py")], 2, 2)),
        clog,
    )
    batch = read_epoch(spark, clog, 1)
    files = batch.inputFiles()
    assert files and all("/epoch=1/" in f for f in files)
    root = spark.read.parquet(clog)
    assert batch.schema["epoch"].dataType == root.schema["epoch"].dataType
    assert [r["path"] for r in batch.collect()] == ["b.py"]
    assert read_epoch(spark, clog, 7).count() == 0

