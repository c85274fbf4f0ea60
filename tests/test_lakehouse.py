"""Unit tests for the transactional lakehouse core (lakehouse.py):
manifest commits, MERGE semantics, copy-on-write pruning, snapshot
isolation / time travel, and the optimistic-concurrency rebase loop —
on small synthetic tables so every branch is driven directly (the
registered lakehouse_* audits pin the fixture-scale scenario against
DuckDB)."""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager
from unittest import mock

import pytest
from pyspark.sql import functions as F

from jobminer_spark import lakehouse as lh


@pytest.fixture()
def table_dir():
    d = tempfile.mkdtemp(prefix="jm_lake_test_")
    yield os.path.join(d, "t")
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def _df(spark, n=20000, status="O"):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(status).alias("status"),
        (F.col("id") * 10).alias("v"),
    )


def _rewrite_and_insert_batch(spark):
    """Changes a row of bucket 0 (a rewrite) and adds a far key (an
    insert) in a table made with ``_df(spark, n=1000)``."""
    return spark.createDataFrame(
        [(3, "X", -1), (5_000_000, "N", 7)], "k long, status string, v long"
    )


@contextmanager
def _job_group(sc, group):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_create_and_read_roundtrip(spark, table_dir):
    lh.create_table(spark, table_dir, _df(spark), "k")
    snap = lh.read_snapshot(spark, table_dir)
    assert snap.count() == 20000
    assert set(snap.columns) == {"k", "status", "v"}
    assert lh.latest_version(table_dir) == 1


def test_merge_matched_condition_and_inserts(spark, table_dir):
    lh.create_table(spark, table_dir, _df(spark), "k")
    upd = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit("X").alias("status"),
        F.lit(-1).cast("long").alias("v"),
    ).unionByName(
        spark.range(5).select(
            (F.col("id") + 1_000_000).alias("k"),
            F.lit("N").alias("status"),
            F.lit(7).cast("long").alias("v"),
        )
    )
    stats = lh.merge_into(
        spark, table_dir, upd, lambda j: j["status"] == "O"
    )
    assert stats["version"] == 2
    assert stats["n_updates_applied"] == 100
    assert stats["n_inserts"] == 5
    snap = lh.read_snapshot(spark, table_dir)
    assert snap.count() == 20005
    assert snap.filter(F.col("status") == "X").count() == 100
    assert snap.filter(F.col("status") == "N").count() == 5
    # matched rows took the update's value; unmatched kept theirs
    assert snap.filter((F.col("k") < 100) & (F.col("v") != -1)).count() == 0
    assert (
        snap.filter((F.col("k") >= 100) & (F.col("k") < 20000))
        .filter(F.col("v") != F.col("k") * 10)
        .count()
        == 0
    )


def test_matched_condition_false_keeps_old_row(spark, table_dir):
    lh.create_table(spark, table_dir, _df(spark, n=1000, status="F"), "k")
    upd = spark.range(50).select(
        F.col("id").alias("k"), F.lit("X").alias("status"), F.lit(0).cast("long").alias("v")
    )
    stats = lh.merge_into(spark, table_dir, upd, lambda j: j["status"] == "O")
    # every key matched but the condition held for none: no updates,
    # no inserts, and no file rewritten — the new version carries
    # every file of v1 by reference
    assert stats["n_updates_applied"] == 0
    assert stats["n_inserts"] == 0
    assert stats["n_files_rewritten"] == 0
    assert stats["n_files_carried"] == len(lh._read_manifest(table_dir, 1)["files"])
    assert lh._read_manifest(table_dir, 2)["files"] == lh._read_manifest(
        table_dir, 1
    )["files"]
    snap = lh.read_snapshot(spark, table_dir)
    assert snap.filter(F.col("status") == "X").count() == 0
    assert snap.count() == 1000


def test_file_pruning_rewrites_only_intersecting_buckets(spark, table_dir):
    # 20000 keys / 4096 per bucket = 5 files
    lh.create_table(spark, table_dir, _df(spark), "k")
    import json

    with open(os.path.join(table_dir, "_manifests", "v1.json")) as f:
        assert len(json.load(f)["files"]) == 5
    # updates confined to bucket 0, inserts far away: exactly one
    # rewrite despite the batch's [min, max] interval spanning the
    # whole table — the bucket-set pruning, not the interval, decides
    upd = spark.range(10).select(
        F.col("id").alias("k"), F.lit("X").alias("status"), F.lit(0).cast("long").alias("v")
    ).unionByName(
        spark.range(3).select(
            (F.col("id") + 5_000_000).alias("k"),
            F.lit("N").alias("status"),
            F.lit(0).cast("long").alias("v"),
        )
    )
    stats = lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    assert stats["n_files_rewritten"] == 1
    assert stats["n_files_carried"] == 4
    assert stats["n_insert_files"] == 1
    assert lh.read_snapshot(spark, table_dir).count() == 20003


def test_only_files_with_a_changed_row_are_rewritten(spark, table_dir):
    """The batch touches two bucket files but changes a row in only
    one: the other file is carried by reference, unread by the
    rewrite, and its matched row keeps its values."""
    lh.create_table(spark, table_dir, _df(spark, n=2 * lh.KEY_BUCKET), "k")
    b1 = lh.KEY_BUCKET + 5
    upd = spark.createDataFrame(
        [(5, "X", -1), (b1, "O", -1), (3 * lh.KEY_BUCKET, "N", 7)],
        "k long, status string, v long",
    )
    # a matched row takes the batch row only when its status changes
    stats = lh.merge_into(
        spark, table_dir, upd, lambda j: j["status"] != F.col("__u_status")
    )
    assert stats["n_files_rewritten"] == 1
    assert stats["n_files_carried"] == 1
    assert stats["n_insert_files"] == 1
    assert stats["n_updates_applied"] == 1
    assert stats["n_deletes"] == 0
    assert stats["n_inserts"] == 1
    v1_files = lh._read_manifest(table_dir, 1)["files"]
    v2_files = lh._read_manifest(table_dir, 2)["files"]
    assert v1_files[1] in v2_files  # bucket 1's file, carried as is
    assert v1_files[0] not in v2_files
    snap = lh.read_snapshot(spark, table_dir)
    assert snap.count() == 2 * lh.KEY_BUCKET + 1
    rows = {
        r["k"]: (r["status"], r["v"])
        for r in snap.filter(F.col("k").isin(5, b1, 3 * lh.KEY_BUCKET)).collect()
    }
    assert rows == {5: ("X", -1), b1: ("O", b1 * 10), 3 * lh.KEY_BUCKET: ("N", 7)}
    assert snap.filter(F.col("v") != F.col("k") * 10).count() == 2


def test_create_writes_one_file_per_bucket_from_parallel_tasks(spark, table_dir):
    """Bucket files are written by several tasks, not funnelled through
    the one task AQE would coalesce a small repartition into — and
    still exactly one file per bucket."""
    n_buckets = 64
    # one input partition: only the write stage can run several tasks
    wide = spark.range(0, n_buckets, 1, numPartitions=1).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("O").alias("status"),
        F.col("id").alias("v"),
    )
    sc = spark.sparkContext
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with _job_group(sc, "lakehouse-create-width"):
            lh.create_table(spark, table_dir, wide, "k")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)
    tracker = sc.statusTracker()
    stage_ids = [
        sid
        for jid in tracker.getJobIdsForGroup("lakehouse-create-width")
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert max(tracker.getStageInfo(sid).numTasks for sid in stage_ids) > 1
    files = lh._read_manifest(table_dir, 1)["files"]
    assert len(files) == n_buckets
    assert sorted(f["min_key"] // lh.KEY_BUCKET for f in files) == list(
        range(n_buckets)
    )
    assert all(f["min_key"] // lh.KEY_BUCKET == f["max_key"] // lh.KEY_BUCKET for f in files)


def test_time_travel_snapshot_isolation(spark, table_dir):
    lh.create_table(spark, table_dir, _df(spark, n=1000), "k")
    before = lh.read_snapshot(spark, table_dir, 1)
    upd = spark.range(1000).select(
        F.col("id").alias("k"), F.lit("X").alias("status"), (F.col("id") + 1).alias("v")
    )
    lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    # the v1 frame resolved BEFORE the merge and a fresh v1 read AFTER
    # it agree bit-for-bit: data files are immutable, the manifest is
    # the only mutable pointer
    after_v1 = lh.read_snapshot(spark, table_dir, 1)
    assert after_v1.filter(F.col("status") == "X").count() == 0
    assert before.agg(F.sum("v")).first()[0] == after_v1.agg(F.sum("v")).first()[0]
    assert lh.read_snapshot(spark, table_dir, 2).filter(
        F.col("status") == "X"
    ).count() == 1000


def test_commit_conflict_is_raised(spark, table_dir):
    lh.create_table(spark, table_dir, _df(spark, n=100), "k")
    with pytest.raises(lh.CommitConflict):
        lh._commit(
            table_dir,
            {"version": 1, "parent": None, "key_col": "k", "files": []},
        )


def test_losing_writer_rebases_and_reapplies(spark, table_dir):
    """Force the merge_into-internal rebase: the first attempt
    prepares against a stale version (mocked latest_version), loses
    the exclusive create, and must re-read the REAL latest snapshot —
    including the competing commit's rows — before re-applying."""
    lh.create_table(spark, table_dir, _df(spark, n=1000), "k")
    # competing writer wins version 2 first: bumps v for keys < 10
    comp = spark.range(10).select(
        F.col("id").alias("k"), F.lit("O").alias("status"), F.lit(111).cast("long").alias("v")
    )
    lh.merge_into(spark, table_dir, comp, lambda j: F.lit(True))
    assert lh.latest_version(table_dir) == 2

    upd = spark.range(5).select(
        (F.col("id") + 100).alias("k"), F.lit("X").alias("status"), F.lit(0).cast("long").alias("v")
    )
    real_latest = lh.latest_version
    with mock.patch.object(
        lh,
        "latest_version",
        side_effect=lambda t: 1
        if lh.latest_version.call_count == 1  # type: ignore[attr-defined]
        else real_latest(t),
    ):
        stats = lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    assert stats["version"] == 3  # rebased onto the real v2
    snap = lh.read_snapshot(spark, table_dir)
    # BOTH writers' effects present — the rebase re-applied on top of
    # the competing commit instead of clobbering it
    assert snap.filter(F.col("v") == 111).count() == 10
    assert snap.filter(F.col("status") == "X").count() == 5


def test_matched_delete_empties_every_affected_file(spark, table_dir):
    """A matched-delete that removes EVERY row of the affected files:
    the rewrite frame is empty, no rw- files may be written (an empty
    parquet write has no parts and would break the stats read), and
    the emptied files are simply dropped from the manifest."""
    lh.create_table(spark, table_dir, _df(spark, n=2 * lh.KEY_BUCKET), "k")
    # delete the whole of key-bucket 0
    dels = spark.range(lh.KEY_BUCKET).select(
        F.col("id").alias("k"),
        F.lit("O").alias("status"),
        F.lit(0).cast("long").alias("v"),
    )
    stats = lh.merge_into(
        spark,
        table_dir,
        dels,
        matched_condition=lambda j: F.lit(False),
        matched_delete=lambda j: F.lit(True),
        # no inserts: every update key already exists
        insert_condition=lambda u: F.lit(False),
    )
    assert stats["n_deletes"] == lh.KEY_BUCKET
    assert stats["n_files_rewritten"] == 0
    snap = lh.read_snapshot(spark, table_dir)
    assert snap.count() == lh.KEY_BUCKET
    assert snap.agg(F.min("k")).first()[0] == lh.KEY_BUCKET
    m = lh._read_manifest(table_dir, 2)
    assert all(f["n_rows"] > 0 for f in m["files"])


@pytest.mark.parametrize("failing", ["ins", "rw"])
def test_failed_write_removes_the_other_writes_files(spark, table_dir, failing):
    """The insert is written on a helper thread while the rewrite runs.
    When either write raises, the merge must wait for the other one,
    delete the files it wrote (no manifest will reference them) and
    re-raise the error; no version is committed."""
    import threading

    lh.create_table(spark, table_dir, _df(spark, n=1000), "k")
    real_write = lh._write_files
    other_done = threading.Event()

    def failing_write(*args, **kwargs):
        if args[4] == failing:
            # fail only once the other write has written its files, so
            # a write left running cannot hide a leak from the check
            other_done.wait(120)
            raise RuntimeError(f"injected {failing} failure")
        try:
            return real_write(*args, **kwargs)
        finally:
            other_done.set()

    with mock.patch.object(lh, "_write_files", side_effect=failing_write):
        with pytest.raises(RuntimeError, match=f"injected {failing} failure"):
            lh.merge_into(spark, table_dir, _rewrite_and_insert_batch(spark), lambda j: F.lit(True))
    assert other_done.is_set()  # the other write did run
    assert lh.latest_version(table_dir) == 1
    data = os.path.join(table_dir, "data")
    assert [d for d in os.listdir(data) if d.startswith(("rw-", "ins-"))] == []
    assert lh.read_snapshot(spark, table_dir).filter(F.col("status") == "X").count() == 0


def test_merge_helper_thread_keeps_the_callers_job_group(spark, table_dir):
    """Jobs the merge starts on its helper thread (the insert write)
    belong to the caller's job group, like the ones it starts on the
    calling thread."""
    lh.create_table(spark, table_dir, _df(spark, n=1000), "k")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with _job_group(sc, "lakehouse-merge-group"):
        stats = lh.merge_into(
            spark, table_dir, _rewrite_and_insert_batch(spark), lambda j: F.lit(True)
        )
    assert stats["n_files_rewritten"] == 1 and stats["n_inserts"] == 1
    assert tracker.getJobIdsForGroup("lakehouse-merge-group")
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def _data_files_on_disk(table_dir):
    out = set()
    data = os.path.join(table_dir, "data")
    for root, _dirs, files in os.walk(data):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.realpath(os.path.join(root, f)))
    return out


def test_conflict_rebase_removes_orphaned_attempt_files(spark, table_dir):
    """Files written by a LOSING merge attempt are referenced by no
    manifest and must be deleted during the rebase, or conflict-heavy
    workloads leak disk forever (vacuum only sweeps files referenced
    by the manifests it retires)."""
    lh.create_table(spark, table_dir, _df(spark, n=1000), "k")
    comp = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit("O").alias("status"),
        F.lit(111).cast("long").alias("v"),
    )
    lh.merge_into(spark, table_dir, comp, lambda j: F.lit(True))

    upd = spark.range(5).select(
        (F.col("id") + 100).alias("k"),
        F.lit("X").alias("status"),
        F.lit(0).cast("long").alias("v"),
    )
    real_latest = lh.latest_version
    with mock.patch.object(
        lh,
        "latest_version",
        side_effect=lambda t: 1
        if lh.latest_version.call_count == 1  # type: ignore[attr-defined]
        else real_latest(t),
    ):
        lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))

    referenced = set()
    for v in range(1, lh.latest_version(table_dir) + 1):
        for f in lh._read_manifest(table_dir, v)["files"]:
            referenced.add(os.path.realpath(f["path"]))
    orphans = _data_files_on_disk(table_dir) - referenced
    assert orphans == set()


def test_vacuum_counts_successful_unlinks_only(spark, table_dir):
    lh.create_table(spark, table_dir, _df(spark, n=100), "k")
    upd = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit("X").alias("status"),
        F.lit(0).cast("long").alias("v"),
    )
    lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))

    real_unlink = os.unlink
    state = {"failed": 0}

    def flaky_unlink(p):
        if p.endswith(".parquet") and state["failed"] == 0:
            state["failed"] = 1
            raise OSError("transient")
        real_unlink(p)

    with mock.patch.object(lh.os, "unlink", side_effect=flaky_unlink):
        stats = lh.vacuum(table_dir, keep_last=1)
    assert stats["n_unlink_failures"] == 1
    # ADVICE r12: a manifest whose doomed files failed to unlink is
    # KEPT — it is the garbage's only index, so removing it first
    # would leak the files forever. The failure leaves the table
    # re-vacuumable, not corrupted.
    assert stats["n_manifests_removed"] == 0
    assert os.path.exists(lh._manifest_path(table_dir, 1))
    # the next vacuum re-discovers the same garbage through the kept
    # manifest and finishes the job
    stats2 = lh.vacuum(table_dir, keep_last=1)
    assert stats2["n_unlink_failures"] == 0
    assert stats2["n_manifests_removed"] == 1
    assert stats2["n_files_removed"] >= 1
    assert not os.path.exists(lh._manifest_path(table_dir, 1))


def test_negative_keys_floor_bucket_semantics(spark, table_dir):
    """ADVICE r12: Spark's `div` truncates toward zero while the
    driver's file/shard ranges use Python `//` (floor) — for negative
    keys the batch bucket landed one too high, the holding file was
    missed by the affected-files pruning, and (since the insert
    anti-join probes only affected files) an EXISTING key was
    re-inserted as a duplicate. _bucket_expr pins floor semantics on
    the Spark side; this fixture (all keys in bucket -1, plus a
    mixed-sign variant) reproduced the duplicate before the fix."""
    base = spark.range(4096).select(
        (F.col("id") - 4096).alias("k"),  # -4096..-1 -> floor bucket -1
        F.lit("O").alias("status"),
        F.col("id").alias("v"),
    )
    lh.create_table(spark, table_dir, base, "k")
    upd = spark.createDataFrame(
        [(-1, "X", -7), (-4096, "X", -7), (-9000, "N", 1)],
        "k long, status string, v long",
    )
    stats = lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    assert stats["n_updates_applied"] == 2  # matched, NOT re-inserted
    assert stats["n_inserts"] == 1  # only the genuinely new key
    snap = lh.read_snapshot(spark, table_dir)
    assert snap.count() == 4097
    assert snap.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    assert snap.filter(F.col("status") == "X").count() == 2

    # mixed-sign second merge: buckets -1 and 0 both resolve
    upd2 = spark.createDataFrame(
        [(-2, "Y", 0), (10_000, "N", 2)], "k long, status string, v long"
    )
    stats2 = lh.merge_into(spark, table_dir, upd2, lambda j: F.lit(True))
    assert stats2["n_updates_applied"] == 1
    assert stats2["n_inserts"] == 1
    snap2 = lh.read_snapshot(spark, table_dir)
    assert snap2.count() == 4098
    assert snap2.groupBy("k").count().filter(F.col("count") > 1).count() == 0


def test_manifest_bound_many_buckets(spark, table_dir):
    """Adversarial bucket count (VERDICT r10 item 7): one row per
    bucket across 200 buckets produces 200 data files; creation, the
    streamed stats fetch, bucket-pruned MERGE, and time travel must
    all hold, and the manifest must carry exactly one entry per
    bucket."""
    n_buckets = 200
    wide = spark.range(n_buckets).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("O").alias("status"),
        F.col("id").alias("v"),
    )
    lh.create_table(spark, table_dir, wide, "k")
    m1 = lh._read_manifest(table_dir, 1)
    assert len(m1["files"]) == n_buckets

    # merge touches exactly 2 buckets -> 198 carried by reference
    upd = spark.range(2).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("X").alias("status"),
        F.lit(-1).cast("long").alias("v"),
    )
    stats = lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    assert stats["n_files_rewritten"] == 2
    assert stats["n_files_carried"] == n_buckets - 2
    assert lh.read_snapshot(spark, table_dir).count() == n_buckets


def test_manifest_split_past_threshold(spark, table_dir, monkeypatch):
    """VERDICT r11 item 5: past MANIFEST_SPLIT_FILES the commit shards
    the file list into per-key-range manifest files. With the
    threshold forced below the bucket count: creation produces a
    sharded root (no inline files), a 2-bucket MERGE loads only the
    intersecting shard and carries every other shard BY REFERENCE
    (same ref path as v1 — no copy), reads and time travel resolve
    through the shards, and vacuum deletes retired shard files but
    never one a kept manifest still references."""
    monkeypatch.setattr(lh, "MANIFEST_SPLIT_FILES", 40)
    monkeypatch.setattr(lh, "MANIFEST_SHARD_FILES", 16)
    n_buckets = 200
    wide = spark.range(n_buckets).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("O").alias("status"),
        F.col("id").alias("v"),
    )
    lh.create_table(spark, table_dir, wide, "k")
    m1 = lh._read_manifest(table_dir, 1)
    assert m1["files"] == [] and len(m1["file_shards"]) == 13  # ceil(200/16)
    assert sum(s["n_files"] for s in m1["file_shards"]) == n_buckets
    assert len(lh._manifest_files(m1)) == n_buckets
    assert lh.read_snapshot(spark, table_dir).count() == n_buckets

    # merge touches buckets 0 and 1 -> both live in the first shard;
    # the other 12 shards must carry by reference, unloaded
    upd = spark.range(2).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("X").alias("status"),
        F.lit(-1).cast("long").alias("v"),
    )
    stats = lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    assert stats["n_files_rewritten"] == 2
    assert stats["n_files_carried"] == n_buckets - 2
    assert stats["n_updates_applied"] == 2 and stats["n_inserts"] == 0
    m2 = lh._read_manifest(table_dir, 2)
    v1_shards = {s["path"] for s in m1["file_shards"]}
    carried = [s for s in m2["file_shards"] if s["path"] in v1_shards]
    assert len(carried) == 12  # every non-hit shard is the SAME file
    # residue of the loaded shard (16-2=14 files) + 2 rewrites stay
    # inline: under the 40-entry threshold, no re-shard needed
    assert len(m2["files"]) == 16
    snap2 = lh.read_snapshot(spark, table_dir)
    assert snap2.count() == n_buckets
    assert snap2.filter(F.col("status") == "X").count() == 2
    # time travel through the shared shards still sees v1
    assert (
        lh.read_snapshot(spark, table_dir, 1)
        .filter(F.col("status") == "X")
        .count()
        == 0
    )

    stats_v = lh.vacuum(table_dir, keep_last=1)
    assert stats_v["n_manifests_removed"] == 1
    # only the superseded first shard is removable; the 12 carried
    # refs are still referenced by the kept manifest
    assert stats_v["n_shards_removed"] == 1
    assert stats_v["n_files_removed"] == 2  # the two rewritten buckets
    assert all(os.path.exists(s["path"]) for s in carried)
    assert lh.read_snapshot(spark, table_dir).count() == n_buckets


def test_vacuum_actually_deletes_files_from_disk(spark, table_dir):
    """Regression for the file:-scheme path wart: manifest paths must
    be plain filesystem paths, so vacuum's unlinks really delete (the
    scheme-prefixed strings made every unlink a silently swallowed
    no-op while the count still reported success)."""
    lh.create_table(spark, table_dir, _df(spark, n=100), "k")
    m = lh._read_manifest(table_dir, 1)
    assert all(not f["path"].startswith("file:") for f in m["files"])
    assert all(os.path.exists(f["path"]) for f in m["files"])
    upd = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit("X").alias("status"),
        F.lit(0).cast("long").alias("v"),
    )
    lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    v1_files = {f["path"] for f in m["files"]}
    stats = lh.vacuum(table_dir, keep_last=1)
    assert stats["n_unlink_failures"] == 0
    assert stats["n_files_removed"] >= 1
    kept = {
        f["path"]
        for f in lh._read_manifest(table_dir, lh.latest_version(table_dir))["files"]
    }
    gone = v1_files - kept
    assert gone and all(not os.path.exists(p) for p in gone)


def test_vacuum_survives_stranded_shard(spark, table_dir, monkeypatch):
    """Crash-window regression (r13 review): a retired manifest whose
    shard file is already gone (vacuum killed between shard and
    manifest unlinks, or a pre-fix ordering) must not crash the next
    vacuum — discovery is lenient to the missing shard and the
    manifest is then removable, so recovery actually runs."""
    monkeypatch.setattr(lh, "MANIFEST_SPLIT_FILES", 40)
    monkeypatch.setattr(lh, "MANIFEST_SHARD_FILES", 16)
    n_buckets = 100
    wide = spark.range(n_buckets).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("O").alias("status"),
        F.col("id").alias("v"),
    )
    lh.create_table(spark, table_dir, wide, "k")
    m1 = lh._read_manifest(table_dir, 1)
    upd = spark.range(2).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("X").alias("status"),
        F.lit(-1).cast("long").alias("v"),
    )
    lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))
    # simulate the stranded state: the superseded first shard (the one
    # v2 rewrote) vanishes while the v1 manifest is still on disk
    m2 = lh._read_manifest(table_dir, 2)
    v2_shards = {s["path"] for s in m2.get("file_shards", [])}
    stranded = next(
        s["path"] for s in m1["file_shards"] if s["path"] not in v2_shards
    )
    os.unlink(stranded)
    stats = lh.vacuum(table_dir, keep_last=1)
    assert stats["n_manifests_removed"] == 1  # recovery ran, no crash
    assert stats["n_unlink_failures"] == 0
    assert not os.path.exists(lh._manifest_path(table_dir, 1))
    # the kept snapshot is untouched and fully readable
    assert lh.read_snapshot(spark, table_dir).count() == n_buckets


def test_vacuum_keeps_shards_of_blocked_manifest(spark, table_dir, monkeypatch):
    """When a doomed DATA unlink fails, the retiring manifest is kept
    — and so are its doomed shard files (the manifest's re-discovery
    index); the next clean vacuum finishes data, shards, and manifest
    together."""
    monkeypatch.setattr(lh, "MANIFEST_SPLIT_FILES", 40)
    monkeypatch.setattr(lh, "MANIFEST_SHARD_FILES", 16)
    n_buckets = 100
    wide = spark.range(n_buckets).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("O").alias("status"),
        F.col("id").alias("v"),
    )
    lh.create_table(spark, table_dir, wide, "k")
    upd = spark.range(2).select(
        (F.col("id") * lh.KEY_BUCKET).alias("k"),
        F.lit("X").alias("status"),
        F.lit(-1).cast("long").alias("v"),
    )
    lh.merge_into(spark, table_dir, upd, lambda j: F.lit(True))

    real_unlink = os.unlink
    state = {"failed": 0}

    def flaky_unlink(p):
        if p.endswith(".parquet") and state["failed"] == 0:
            state["failed"] = 1
            raise OSError("transient")
        real_unlink(p)

    with mock.patch.object(lh.os, "unlink", side_effect=flaky_unlink):
        stats = lh.vacuum(table_dir, keep_last=1)
    assert stats["n_unlink_failures"] == 1
    assert stats["n_manifests_removed"] == 0
    assert stats["n_shards_removed"] == 0  # index kept with its manifest
    m1 = lh._read_manifest(table_dir, 1)  # still present and loadable
    assert all(os.path.exists(s["path"]) for s in m1["file_shards"])
    stats2 = lh.vacuum(table_dir, keep_last=1)
    assert stats2["n_unlink_failures"] == 0
    assert stats2["n_manifests_removed"] == 1
    assert stats2["n_shards_removed"] >= 1
    assert lh.read_snapshot(spark, table_dir).count() == n_buckets


def test_footer_stats_resolve_leaf_by_path_under_nested_column(spark, tmp_path):
    """ADVICE r14: parquet row-group column() takes a FLATTENED LEAF
    index, so a struct column ordered before the key used to shift the
    footer-stats read onto the wrong leaf (nested.b) — corrupting
    manifest min/max and merge pruning. The leaf is now resolved by
    path_in_schema; the manifest must carry the KEY's true range, not
    the struct field's."""
    from pyspark.sql import functions as F

    from jobminer_spark.lakehouse import (
        _manifest_files,
        _read_manifest,
        create_table,
        latest_version,
    )

    df = spark.range(1, 51).select(
        F.struct(
            F.lit(999_999).alias("a"), F.lit(-5).alias("b")
        ).alias("nested"),
        F.col("id").alias("k"),
    )
    table = str(tmp_path / "tbl_nested")
    create_table(spark, table, df, "k")
    files = _manifest_files(_read_manifest(table, latest_version(table)))
    assert files, "expected at least one data file"
    assert min(f["min_key"] for f in files) == 1
    assert max(f["max_key"] for f in files) == 50
    assert sum(f["n_rows"] for f in files) == 50
