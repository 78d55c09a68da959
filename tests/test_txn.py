"""Transactional snapshot tables (catalog/txn.py) — the ACID layer under
operators/mutate.py's copy-on-write semantics (VERDICT r5 missing #2).

Covers: snapshot isolation, time travel, atomic publish (create-if-absent),
optimistic conflict detection, lost-update-free concurrent MERGE,
crash-before-publish leaving the table untouched (a half-written manifest
included), and snapshot reads that take their schema from the manifest
instead of a Spark inference job.
"""

import json
import os
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from rad_database_parse_spark.catalog.txn import (
    CommitConflict,
    _manifest_path,
    commit,
    latest_version,
    merge_upsert_txn,
    read_snapshot,
    vacuum,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="txn_table_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, seg string, v int"
    )


def test_create_read_roundtrip(spark, root):
    v = commit(spark, root, _base(spark), "create", expected_version=None)
    assert v == 0 and latest_version(root) == 0
    got = sorted(read_snapshot(spark, root).collect())
    assert [r.k for r in got] == [1, 2, 3]


def test_time_travel_reads_old_version(spark, root):
    commit(spark, root, _base(spark), "create", expected_version=None)
    updated = _base(spark).withColumn("v", F.col("v") * 100)
    commit(spark, root, updated, "overwrite", expected_version=0)
    assert latest_version(root) == 1
    assert sorted(r.v for r in read_snapshot(spark, root).collect()) == [
        1000, 2000, 3000,
    ]
    assert sorted(r.v for r in read_snapshot(spark, root, 0).collect()) == [
        10, 20, 30,
    ]


def test_conflicting_commit_raises_and_changes_nothing(spark, root):
    commit(spark, root, _base(spark), "create", expected_version=None)
    commit(spark, root, _base(spark), "w1", expected_version=0)
    with pytest.raises(CommitConflict):
        commit(spark, root, _base(spark), "w2", expected_version=0)
    assert latest_version(root) == 1
    m = json.load(open(os.path.join(root, "_manifests", "v0000000001.json")))
    assert m["op"] == "w1"


def test_staged_data_without_manifest_is_invisible(spark, root):
    commit(spark, root, _base(spark), "create", expected_version=None)
    # simulate a writer that crashed after staging data, before publishing
    orphan = os.path.join(root, "data", "orphan")
    _base(spark).write.parquet(orphan)
    assert latest_version(root) == 0
    assert read_snapshot(spark, root).count() == 3


def test_failed_manifest_write_leaves_the_table_unchanged(spark, root, monkeypatch):
    from rad_database_parse_spark.catalog import txn

    commit(spark, root, _base(spark), "create", expected_version=None)

    def torn_dump(obj, f):
        f.write('{"version": 1, "files": [')
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(txn.json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            commit(spark, root, _base(spark), "w1", expected_version=0)
    assert latest_version(root) == 0
    assert sorted(r.v for r in read_snapshot(spark, root).collect()) == [10, 20, 30]
    assert os.listdir(os.path.join(root, "_manifests")) == ["v0000000000.json"]
    # the version was never taken, so the retry commits it
    updated = _base(spark).withColumn("v", F.col("v") + 1)
    assert commit(spark, root, updated, "w1", expected_version=0) == 1
    assert sorted(r.v for r in read_snapshot(spark, root).collect()) == [11, 21, 31]


def test_stray_temp_manifest_is_ignored(spark, root):
    from rad_database_parse_spark.catalog.txn import committed_ops, list_versions

    commit(spark, root, _base(spark), "create", expected_version=None)
    # what a writer that crashed before its link leaves behind
    mdir = os.path.join(root, "_manifests")
    for stray in (".0123abcd.json.tmp", "v0000000001.json.tmp"):
        with open(os.path.join(mdir, stray), "w") as f:
            f.write('{"version": 1, "fi')
    assert list_versions(root) == [0] and latest_version(root) == 0
    assert committed_ops(root) == {"create"}
    assert read_snapshot(spark, root).count() == 3
    assert commit(spark, root, _base(spark), "w1", expected_version=0) == 1
    assert list_versions(root) == [0, 1]


def test_concurrent_merges_lose_no_update(spark, root):
    commit(spark, root, _base(spark), "create", expected_version=None)
    upd_a = spark.createDataFrame([(1, "a", 111), (4, "d", 40)], "k int, seg string, v int")
    upd_b = spark.createDataFrame([(2, "b", 222), (5, "e", 50)], "k int, seg string, v int")
    errs = []

    def run(upd):
        try:
            merge_upsert_txn(spark, root, upd, "k")
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    t1 = threading.Thread(target=run, args=(upd_a,))
    t2 = threading.Thread(target=run, args=(upd_b,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    # both merges landed: one won version 1, the loser retried onto it
    assert latest_version(root) == 2
    final = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert final == {1: 111, 2: 222, 3: 30, 4: 40, 5: 50}


def test_vacuum_expires_old_versions_keeps_head(spark, root):
    commit(spark, root, _base(spark), "create", expected_version=None)
    commit(spark, root, _base(spark).withColumn("v", F.col("v") + 1), "w1", 0)
    commit(spark, root, _base(spark).withColumn("v", F.col("v") + 2), "w2", 1)
    stats = vacuum(root, keep_last=1)
    assert stats == {
        "removed_versions": 2, "removed_data_dirs": 2, "head_version": 2,
    }
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, version=0)
    assert sorted(r.v for r in read_snapshot(spark, root).collect()) == [
        12, 22, 32,
    ]
    assert len(os.listdir(os.path.join(root, "data"))) == 1


def test_vacuum_removes_orphaned_staging_dirs(spark, root):
    commit(spark, root, _base(spark), "create", expected_version=None)
    _base(spark).write.parquet(os.path.join(root, "data", "crashed_writer"))
    stats = vacuum(root, keep_last=1)
    assert stats["removed_versions"] == 0
    assert stats["removed_data_dirs"] == 1  # the orphan, not the head
    assert read_snapshot(spark, root).count() == 3


@pytest.mark.parametrize("keep_last", [0, -1])
def test_vacuum_rejects_keep_last_below_one(spark, root, keep_last):
    commit(spark, root, _base(spark), "create", expected_version=None)
    commit(spark, root, _base(spark), "w1", 0)
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(root, keep_last=keep_last)
    assert [latest_version(root), read_snapshot(spark, root, 0).count()] == [1, 3]


def _manifest(root, version):
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _snapshot_checked(spark, root, count_jobs, version=None):
    """read_snapshot, asserting it launches no job and presents the schema
    inference over the same files would."""
    jobs, df = count_jobs(lambda: read_snapshot(spark, root, version))
    assert jobs == 0
    v = latest_version(root) if version is None else version
    assert df.schema == spark.read.parquet(*_manifest(root, v)["files"]).schema
    return df


def test_snapshot_schema_comes_from_the_manifest(spark, root, count_jobs):
    empty = spark.createDataFrame([], "doc string, part string, row_key string")
    commit(spark, root, empty, "create", expected_version=None)
    assert _snapshot_checked(spark, root, count_jobs).count() == 0

    rows = spark.createDataFrame(
        [("d1", "p1"), ("d1", "p2")], "doc string, part string"
    ).withColumn("row_key", F.sha2(F.concat_ws("|", "doc", "part"), 256))
    merge_upsert_txn(spark, root, rows, "row_key")
    merge_upsert_txn(spark, root, rows.limit(1), "row_key")
    assert latest_version(root) == 2
    assert _snapshot_checked(spark, root, count_jobs).count() == 2
    assert _snapshot_checked(spark, root, count_jobs, version=0).count() == 0


def test_manifest_without_schema_is_read_by_inference(spark, root, count_jobs):
    commit(spark, root, _base(spark), "create", expected_version=None)
    manifest = _manifest(root, 0)
    del manifest["schema"]
    with open(_manifest_path(root, 0), "w") as f:
        json.dump(manifest, f)
    jobs, df = count_jobs(lambda: read_snapshot(spark, root))
    assert jobs == 1
    assert sorted(df.collect()) == sorted(_base(spark).collect())


def test_committed_ops_ledger(spark, root):
    from rad_database_parse_spark.catalog.txn import committed_ops

    assert committed_ops(root) == set()
    commit(spark, root, _base(spark), "create", expected_version=None)
    commit(spark, root, _base(spark), "batch_0", expected_version=0)
    assert committed_ops(root) == {"create", "batch_0"}


def _counted_updates(spark, acc):
    """Updates whose key passes through a Python UDF that counts its
    calls, so each evaluation of the batch shows in `acc`."""

    @F.udf("int")
    def counted(k):
        acc.add(1)
        return k

    raw = spark.createDataFrame(
        [(1, "a", 111), (4, "d", 40)], "k0 int, seg string, v int"
    )
    return raw.select(counted("k0").alias("k"), "seg", "v")


@pytest.mark.parametrize("race", [False, True], ids=["no_conflict", "retry"])
def test_merge_evaluates_updates_once_per_commit(spark, root, monkeypatch, race):
    from rad_database_parse_spark.catalog import txn

    commit(spark, root, _base(spark), "create", expected_version=None)
    if race:
        # a rival publishes the version this merge was derived from after
        # the merge staged its data: the merge must retry on the batch it
        # already evaluated
        real_commit = txn.commit

        def racing_commit(spark, root, df, op, expected_version):
            if latest_version(root) == 0:
                real_commit(spark, root, _base(spark), "rival", 0)
            return real_commit(spark, root, df, op, expected_version)

        monkeypatch.setattr(txn, "commit", racing_commit)
    acc = spark.sparkContext.accumulator(0)
    version = merge_upsert_txn(spark, root, _counted_updates(spark, acc), "k")
    assert version == (2 if race else 1)
    assert acc.value == 2  # two update rows, each evaluated once
    final = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert final == {1: 111, 2: 20, 3: 30, 4: 40}


def test_merge_leaves_no_cache_and_keeps_the_callers(spark, root):
    from pyspark import StorageLevel

    commit(spark, root, _base(spark), "create", expected_version=None)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    upd = spark.createDataFrame([(1, "a", 111)], "k int, seg string, v int")
    merge_upsert_txn(spark, root, upd, "k")
    assert jsc.getPersistentRDDs().size() == before
    assert upd.storageLevel == StorageLevel.NONE

    cached = spark.createDataFrame([(2, "b", 222)], "k int, seg string, v int")
    cached.persist()
    try:
        merge_upsert_txn(spark, root, cached, "k")
        assert cached.storageLevel != StorageLevel.NONE
        assert jsc.getPersistentRDDs().size() == before + 1
    finally:
        cached.unpersist()
