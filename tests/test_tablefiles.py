"""The file layer under the three table formats (sources/tablefiles.py):
a reader that runs while a commit is being written sees the old
version or the whole new one, a stage write that raises leaves no stage
dir behind, and the layer's pieces exist once in the engine."""

from __future__ import annotations

import ast
import builtins
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from jobminer_spark import lakehouse as lh
from jobminer_spark.sources.delta import (
    delta_latest_version,
    read_delta,
    write_delta,
)
from jobminer_spark.sources.iceberg import read_iceberg, write_iceberg
from jobminer_spark.sources.tablefiles import (
    footer_minmax,
    path_key,
    publish_new,
    staged_parts,
)

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "jobminer_spark"


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _probe_each_write(monkeypatch, watch_dir: str, probe) -> list:
    """Run ``probe`` before the first write to each file opened for
    writing in ``watch_dir`` — the moment a commit has created a file
    there but not yet filled it — and return what the probes saw (the
    probe's value, or the exception it raised)."""
    watch_dir = os.path.abspath(watch_dir)
    seen: list = []
    fd_paths: dict[int, str] = {}
    real_open, real_os_open, real_fdopen = builtins.open, os.open, os.fdopen

    class _Probed:
        def __init__(self, f):
            self._f, self._probed = f, False

        def write(self, data):
            if not self._probed:
                self._probed = True
                try:
                    seen.append(probe())
                except Exception as e:  # the reader's failure is the finding
                    seen.append(e)
            return self._f.write(data)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return self._f.__exit__(*exc)

        def __getattr__(self, name):
            return getattr(self._f, name)

    def _watched(path) -> bool:
        return (
            isinstance(path, str)
            and os.path.dirname(os.path.abspath(path)) == watch_dir
        )

    def _open(file, mode="r", *a, **k):
        f = real_open(file, mode, *a, **k)
        return _Probed(f) if set(mode) & set("wxa") and _watched(file) else f

    def _os_open(path, flags, *a, **k):
        fd = real_os_open(path, flags, *a, **k)
        if _watched(os.fspath(path)):
            fd_paths[fd] = path
        return fd

    def _fdopen(fd, mode="r", *a, **k):
        f = real_fdopen(fd, mode, *a, **k)
        return _Probed(f) if fd_paths.pop(fd, None) else f

    monkeypatch.setattr(builtins, "open", _open)
    monkeypatch.setattr(os, "open", _os_open)
    monkeypatch.setattr(os, "fdopen", _fdopen)
    return seen


def test_lakehouse_reader_never_sees_a_half_written_manifest(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "lh")
    lh.create_table(spark, t, _df(spark, 0, 10), "k")

    def probe():
        v = lh.latest_version(t)
        return v, lh.read_snapshot(spark, t).count()

    seen = _probe_each_write(monkeypatch, os.path.join(t, "_manifests"), probe)
    lh.merge_into(spark, t, _df(spark, 10, 15), lambda j: F.lit(True))
    monkeypatch.undo()
    assert seen, "the commit wrote nothing under _manifests"
    assert all(s in [(1, 10), (2, 15)] for s in seen), seen


def test_delta_reader_never_sees_a_half_written_commit(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "delta")
    write_delta(spark, t, _df(spark, 0, 10))

    def probe():
        v = delta_latest_version(t)
        return v, read_delta(spark, t, version=v).count()

    seen = _probe_each_write(monkeypatch, os.path.join(t, "_delta_log"), probe)
    write_delta(spark, t, _df(spark, 10, 15))
    monkeypatch.undo()
    assert seen, "the commit wrote nothing under _delta_log"
    assert all(s in [(0, 10), (1, 15)] for s in seen), seen


def test_iceberg_reader_never_sees_a_half_written_version(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "ice")
    write_iceberg(spark, t, _df(spark, 0, 10))

    def probe():
        return read_iceberg(spark, t).count()

    seen = _probe_each_write(monkeypatch, os.path.join(t, "metadata"), probe)
    write_iceberg(spark, t, _df(spark, 10, 15))
    monkeypatch.undo()
    assert seen, "the commit wrote nothing under metadata/"
    assert all(s in (10, 15) for s in seen), seen
    assert read_iceberg(spark, t).count() == 15


def _frame(spark, lo, hi, fail_from):
    """Rows [lo, hi) whose Spark write raises inside its tasks at the
    first key >= ``fail_from``."""
    return _df(spark, lo, hi).withColumn(
        "v",
        F.when(
            F.col("k") >= fail_from, F.raise_error(F.lit("write fails"))
        ).otherwise(F.col("v")),
    )


def _stage_dirs(table: str) -> list[str]:
    return [d for d in os.listdir(table) if d.startswith((".stage", "_stage"))]


@pytest.mark.parametrize(
    "write, read",
    [(write_delta, read_delta), (write_iceberg, read_iceberg)],
    ids=["delta", "iceberg"],
)
def test_failed_stage_write_leaves_no_stage_dir(spark, tmp_path, write, read):
    t = str(tmp_path / "t")
    write(spark, t, _frame(spark, 0, 4, fail_from=100))
    with pytest.raises(Exception, match="write fails"):
        write(spark, t, _frame(spark, 4, 8, fail_from=0))
    assert _stage_dirs(t) == []
    assert read(spark, t).count() == 4


def test_publish_new_is_put_if_absent(tmp_path):
    p = str(tmp_path / "v1.json")
    publish_new(p, "first")
    with pytest.raises(FileExistsError):
        publish_new(p, "second")
    assert open(p).read() == "first"
    assert os.listdir(tmp_path) == ["v1.json"]  # no temp file left


def test_staged_parts_decode_hive_values_and_footer_stats(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a/b"), (5, None), (3, "a/b")], "k long, p string"
    )
    stage = str(tmp_path / ".stage_x")
    with staged_parts(df.coalesce(1), stage, ["p"]) as parts:
        got = {}
        for path, rel, values in parts:
            _md, stats = footer_minmax(path, {"k"})
            got[rel] = (values, stats["k"][:2])
    assert not os.path.exists(stage)
    assert got == {
        "p=__HIVE_DEFAULT_PARTITION__": ({"p": None}, (5, 5)),
        "p=a%2Fb": ({"p": "a/b"}, (1, 3)),
    }
    assert path_key("file:/tmp/a%20b/x+y") == "/tmp/a b/x+y"
    assert path_key("file:///tmp/a") == path_key("/tmp/a") == "/tmp/a"


def test_table_file_pieces_live_only_in_tablefiles():
    """Put-if-absent publishing (os.O_EXCL), row-group statistics loops
    and the file-URI decoder regexp appear in no engine module but
    sources/tablefiles.py."""
    bad = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel == "sources/tablefiles.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in (
                "O_EXCL", "statistics"
            ):
                bad.append(f"{rel}:{node.lineno} .{node.attr}")
            if isinstance(node, ast.Constant) and node.value == "^file:/+":
                bad.append(f"{rel}:{node.lineno} '^file:/+'")
    assert not bad, bad
