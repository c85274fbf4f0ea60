"""One commit path per table format: every Delta writer after version 0
commits through one optimistic loop (a writer that loses the race to a
version retries one version later and leaves nothing of its lost
attempt on disk; each version on the checkpoint interval is
checkpointed, whichever writer made it), and every Iceberg writer
builds its manifest list through one snapshot writer (each list
record's stats counts are its manifest's entries counted by status)."""

from __future__ import annotations

import ast
import glob
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from jobminer_spark.sources import delta
from jobminer_spark.sources.avro import read_avro_records
from jobminer_spark.sources.delta import (
    _add_abs_path,
    _checkpoint_file,
    _dv_file_path,
    delete_delta,
    delta_domain_metadata,
    delta_latest_version,
    optimize_delta,
    read_delta,
    restore_delta,
    set_delta_domain_metadata,
    update_delta,
    write_delta,
)
from jobminer_spark.sources.iceberg import (
    iceberg_live_files,
    iceberg_metadata,
    read_iceberg,
    rewrite_iceberg_data_files,
    rewrite_iceberg_deletes,
    write_iceberg,
    write_iceberg_deletes,
    write_iceberg_dvs,
    write_iceberg_equality_deletes,
)
from jobminer_spark.sources.uniform import (
    export_iceberg_to_delta,
    write_uniform_iceberg_metadata,
)

SOURCES = pathlib.Path(__file__).resolve().parent.parent / "jobminer_spark"


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _rows(spark, t):
    return sorted((r.k, r.v) for r in read_delta(spark, t).collect())


def _referenced_files(t) -> set[str]:
    """Every file any commit of the log names: data files, DV files
    and change-data files."""
    out = set()
    for commit in glob.glob(os.path.join(t, "_delta_log", "*.json")):
        with open(commit) as f:
            for line in f:
                a = json.loads(line) if line.strip() else {}
                for kind in ("add", "remove", "cdc"):
                    if kind not in a:
                        continue
                    out.add(os.path.abspath(_add_abs_path(t, a[kind]["path"])))
                    dv = a[kind].get("deletionVector")
                    if dv and dv.get("storageType") in ("u", "p"):
                        out.add(os.path.abspath(_dv_file_path(t, dv)))
    return out


def _files_on_disk(t) -> set[str]:
    return {
        os.path.abspath(os.path.join(root, f))
        for root, _dirs, files in os.walk(t)
        if "_delta_log" not in root.split(os.sep)
        for f in files
    }


# writer name -> (call, expected rows from the two-commit fixture)
_DELTA_WRITERS = {
    "write_delta": (
        lambda spark, t: write_delta(spark, t, _df(spark, 20, 25)),
        [(k, k * 10) for k in range(25)],
    ),
    "optimize_delta": (
        lambda spark, t: optimize_delta(spark, t, target_files=1)[0],
        [(k, k * 10) for k in range(20)],
    ),
    "delete_delta": (
        lambda spark, t: delete_delta(spark, t, "k < 3")[0],
        [(k, k * 10) for k in range(3, 20)],
    ),
    "update_delta": (
        lambda spark, t: update_delta(spark, t, "k < 3", {"v": "v + 1000"})[0],
        sorted([(k, k * 10 + 1000) for k in range(3)]
               + [(k, k * 10) for k in range(3, 20)]),
    ),
    "restore_delta": (
        lambda spark, t: restore_delta(spark, t, 0)[0],
        [(k, k * 10) for k in range(10)],
    ),
    "set_delta_domain_metadata": (
        lambda spark, t: set_delta_domain_metadata(t, "test.race", '{"a": 1}'),
        [(k, k * 10) for k in range(20)],
    ),
}


@pytest.mark.parametrize("writer", sorted(_DELTA_WRITERS))
def test_delta_writer_that_loses_the_race_retries_and_unstages(
    spark, tmp_path, monkeypatch, writer
):
    """A concurrent writer takes the version between the loser's replay
    and its publish: the loser commits one version later with the right
    rows, and no data, DV or change-data file of its lost attempt stays
    on disk."""
    t = str(tmp_path / writer)
    write_delta(
        spark, t, _df(spark, 0, 10),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_delta(spark, t, _df(spark, 10, 20))
    real_publish = delta.publish_new
    lost: list[str] = []

    def _racing_publish(path, text):
        if not lost and os.path.basename(os.path.dirname(path)) == "_delta_log":
            lost.append(path)  # the winner lands first
            real_publish(
                path, json.dumps({"commitInfo": {"operation": "WINNER"}}) + "\n"
            )
        return real_publish(path, text)

    monkeypatch.setattr(delta, "publish_new", _racing_publish)
    call, expected = _DELTA_WRITERS[writer]
    assert call(spark, t) == 3
    assert lost == [delta._commit_file(t, 2)]
    assert delta_latest_version(t) == 3
    assert _rows(spark, t) == expected
    leaked = _files_on_disk(t) - _referenced_files(t)
    assert not leaked, sorted(leaked)
    if writer == "set_delta_domain_metadata":
        assert delta_domain_metadata(t)["test.race"] == '{"a": 1}'


def _export_over(spark, t, tmp_path):
    ice = str(tmp_path / "ice")
    write_iceberg(spark, ice, _df(spark, 100, 105))
    return export_iceberg_to_delta(ice, t)


@pytest.mark.parametrize(
    "writer, expected",
    [
        (
            lambda spark, t, _tmp: set_delta_domain_metadata(t, "test.ck"),
            [(k, k * 10) for k in range(10)],
        ),
        (_export_over, [(k, k * 10) for k in range(100, 105)]),
    ],
    ids=["set_delta_domain_metadata", "export_iceberg_to_delta"],
)
def test_delta_writer_checkpoints_on_the_interval(
    spark, tmp_path, writer, expected
):
    """Log compaction is per version, not per writer: version 10 is
    checkpointed whichever writer makes it."""
    t = str(tmp_path / "t")
    for i in range(10):
        write_delta(spark, t, _df(spark, i, i + 1))
    assert writer(spark, t, tmp_path) == 10
    assert os.path.exists(_checkpoint_file(t, 10))
    assert _rows(spark, t) == expected


def _assert_list_counts_match_manifests(table):
    meta = iceberg_metadata(table)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, records = read_avro_records(snap["manifest-list"])
    for m in records:
        _, entries = read_avro_records(m["manifest_path"])
        for status, kind in ((1, "added"), (0, "existing"), (2, "deleted")):
            group = [e for e in entries if e["status"] == status]
            want = (len(group), sum(e["data_file"]["record_count"] for e in group))
            got = (m[f"{kind}_files_count"], m[f"{kind}_rows_count"])
            assert got == want, (os.path.basename(m["manifest_path"]), kind)


def test_manifest_list_counts_match_their_manifests(spark, tmp_path):
    """After every kind of commit, each current manifest-list record
    reports the added/existing/deleted file and row counts of its own
    manifest's entries."""
    t = str(tmp_path / "ice")

    def _one_file(lo, hi):
        write_iceberg(spark, t, _df(spark, lo, hi).coalesce(1))
        _assert_list_counts_match_manifests(t)

    def _scan():
        return spark.read.parquet(*iceberg_live_files(t)).select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
            "k",
        )

    def _positions(*ks):
        return _scan().where(F.col("k").isin(*ks)).select("file_path", "pos")

    _one_file(0, 10)
    _one_file(10, 20)
    write_iceberg_deletes(spark, t, _positions(1))
    _assert_list_counts_match_manifests(t)
    write_iceberg_equality_deletes(
        spark, t, spark.range(1).select(F.lit(18).cast("long").alias("k"))
    )
    _assert_list_counts_match_manifests(t)
    write_iceberg_dvs(spark, t, _positions(0, 3, 12))
    _assert_list_counts_match_manifests(t)
    # supersedes the first file's DV: its old entry retires
    write_iceberg_dvs(spark, t, _positions(5, 15))
    _assert_list_counts_match_manifests(t)
    rewrite_iceberg_deletes(spark, t)
    _assert_list_counts_match_manifests(t)
    _one_file(20, 30)
    _one_file(30, 40)
    write_iceberg_deletes(spark, t, _positions(25))
    rewrite_iceberg_data_files(spark, t, target_files=1)
    _assert_list_counts_match_manifests(t)
    gone = {0, 1, 3, 5, 12, 15, 18, 25}
    assert sorted(r.k for r in read_iceberg(spark, t).collect()) == [
        k for k in range(40) if k not in gone
    ]

    d = str(tmp_path / "uniform")
    write_delta(spark, d, _df(spark, 0, 10))
    write_delta(spark, d, _df(spark, 10, 15))
    write_uniform_iceberg_metadata(d)
    _assert_list_counts_match_manifests(d)
    assert read_iceberg(spark, d).count() == 15


def _calls_by_top_function(path: pathlib.Path):
    """(enclosing top-level function or None, node) for every node of
    the module."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for top in tree.body:
        owner = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            else None
        )
        for node in ast.walk(top):
            yield owner, node


def test_one_commit_path_per_table_format():
    """Delta versions after 0 are published only by the commit loop
    (the version-0 creators publish directly: for them a lost race
    means the table already exists), and Iceberg manifest lists and
    their records are built only by the snapshot writer. The foreign
    writers' manifests hand-built in operators/icebergdel.py are reader
    fixtures and stay outside the rule."""
    publishers = {
        ("sources/delta.py", "_commit_loop"),
        ("sources/delta.py", "clone_delta"),
        ("sources/delta.py", "convert_to_delta"),
        ("operators/deltastream.py", "export_lakehouse_snapshot_to_delta"),
    }
    list_writers = {"_commit_snapshot"}
    record_builders = {"_snapshot_records", "_added_manifest", "_retire_entries"}
    bad = []
    for path in sorted(SOURCES.rglob("*.py")):
        rel = path.relative_to(SOURCES).as_posix()
        if rel == "operators/icebergdel.py":
            continue
        for owner, node in _calls_by_top_function(path):
            where = f"{rel}:{getattr(node, 'lineno', '?')} in {owner}"
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_publish_commit"
                and (rel, owner) not in publishers
            ):
                bad.append(f"{where}: _publish_commit(")
            if (
                isinstance(node, ast.Name)
                and node.id == "_MANIFEST_LIST_SCHEMA"
                and isinstance(node.ctx, ast.Load)
                and owner not in list_writers
            ):
                bad.append(f"{where}: _MANIFEST_LIST_SCHEMA")
            if isinstance(node, ast.Dict) and owner not in record_builders:
                if any(
                    isinstance(k, ast.Constant) and k.value == "min_sequence_number"
                    for k in node.keys
                ):
                    bad.append(f"{where}: 'min_sequence_number' record key")
    assert not bad, bad


def _iceberg_winner_takes_v2(monkeypatch, md):
    """Make the next Iceberg metadata publish lose to a concurrent
    writer that lands v2 first (a copy of v1)."""
    from jobminer_spark.sources import iceberg

    real_publish = iceberg.publish_new
    v1 = os.path.join(md, "v1.metadata.json")
    v2 = os.path.join(md, "v2.metadata.json")

    def _racing_publish(path, text):
        if path == v2 and not os.path.exists(v2):
            with open(v1) as f:
                real_publish(v2, f.read())
        return real_publish(path, text)

    monkeypatch.setattr(iceberg, "publish_new", _racing_publish)
    return v2


@pytest.mark.parametrize("writer", ["write_iceberg", "uniform"])
def test_iceberg_writer_that_loses_the_race_leaves_nothing(
    spark, tmp_path, monkeypatch, writer
):
    """A concurrent writer takes v2 while an append is publishing: the
    loser re-raises FileExistsError and no data file, manifest or
    manifest list of its attempt stays on disk. A UniForm export's
    ADDED entries are the Delta table's own files, which stay."""
    t = str(tmp_path / writer)
    if writer == "write_iceberg":
        write_iceberg(spark, t, _df(spark, 0, 10))
    else:
        write_delta(spark, t, _df(spark, 0, 10))
        write_uniform_iceberg_metadata(t)
        write_delta(spark, t, _df(spark, 10, 15))
    before = _files_on_disk(t)
    v2 = _iceberg_winner_takes_v2(monkeypatch, os.path.join(t, "metadata"))
    with pytest.raises(FileExistsError):
        if writer == "write_iceberg":
            write_iceberg(spark, t, _df(spark, 10, 20))
        else:
            write_uniform_iceberg_metadata(t)
    assert _files_on_disk(t) == before | {os.path.abspath(v2)}
    if writer == "uniform":
        assert _rows(spark, t) == [(k, k * 10) for k in range(15)]
