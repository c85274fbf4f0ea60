"""The scenario memo (operators/common.scenario): one build per
(session, sf_dir, data state, name), a rebuild when the data under
sf_dir changes, nothing stored for a build that raises, and no other
hand-rolled scenario cache or scratch-dir code in the engine."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import tempfile
import time

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from jobminer_spark import ORACLES, load_all_operators
from jobminer_spark.operators.common import forget_scenarios, scenario
from tests.conftest import SF_DIR

load_all_operators()

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "jobminer_spark"


def _write_subset(src_sf: str, dst_sf, table: str, mask) -> None:
    """Write ``table`` of ``src_sf`` into ``dst_sf``, keeping the rows
    where ``mask(table)`` holds."""
    t = pq.read_table(os.path.join(src_sf, f"{table}.parquet"))
    pq.write_table(t.filter(mask(t)), os.path.join(dst_sf, f"{table}.parquet"))


def _oracle(name: str, sf_dir) -> list[tuple]:
    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, f)}')"
                )
        return sorted(con.execute(ORACLES[name]).fetchall())
    finally:
        con.close()


def test_build_runs_once_and_again_after_the_data_changes(spark, tmp_path):
    calls = []

    def build(work):
        calls.append(work)
        return len(calls)

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_subset(SF_DIR, sf, "documents", lambda t: pc.less(t["doc_id"], 100))
    assert scenario(spark, str(sf), "t_once", build) == 1
    assert scenario(spark, str(sf), "t_once", build) == 1
    assert scenario(spark, str(sf) + "/", "t_once", build) == 1
    assert len(calls) == 1
    assert os.path.basename(calls[0]).startswith(
        f"jm_t_once_{spark.sparkContext.applicationId}_sf_"
    )
    # a file under sf_dir changes: a fresh build in a fresh root
    _write_subset(SF_DIR, sf, "documents", lambda t: pc.less(t["doc_id"], 50))
    assert scenario(spark, str(sf), "t_once", build) == 2
    assert calls[1] != calls[0]
    # another name is another scenario
    assert scenario(spark, str(sf), "t_other", build) == 3


def test_failed_build_stores_nothing_and_forget_drops_one_name(spark, tmp_path):
    def boom(_work):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scenario(spark, str(tmp_path), "t_fail", boom)
    assert scenario(spark, str(tmp_path), "t_fail", lambda w: "ok") == "ok"
    assert scenario(spark, str(tmp_path), "t_keep", lambda w: "kept") == "kept"
    forget_scenarios("t_fail")
    assert scenario(spark, str(tmp_path), "t_fail", lambda w: "again") == "again"
    assert scenario(spark, str(tmp_path), "t_keep", boom) == "kept"


def test_split_counts_follow_rewritten_documents(spark, tmp_path, monkeypatch):
    """leakage_safe_split_counts memoizes its clustering: a second
    call does not rebuild it, but rewriting documents.parquet under
    the same sf_dir does, and the counts are the new data's."""
    from jobminer_spark.operators import splitguard

    builds = []
    real_build = splitguard._build_grouped

    def counting_build(*args):
        builds.append(1)
        return real_build(*args)

    monkeypatch.setattr(splitguard, "_build_grouped", counting_build)
    sf = tmp_path / "sf"
    sf.mkdir()

    def counts():
        rows = splitguard.leakage_safe_split_counts(spark, str(sf)).collect()
        return sorted(tuple(r) for r in rows)

    _write_subset(SF_DIR, sf, "documents", lambda t: pc.less(t["doc_id"], 200))
    first = counts()
    assert counts() == first == _oracle("leakage_safe_split_counts", sf)
    assert len(builds) == 1
    _write_subset(SF_DIR, sf, "documents", lambda t: pc.less(t["doc_id"], 400))
    second = counts()
    assert len(builds) == 2
    assert second == _oracle("leakage_safe_split_counts", sf)
    assert second != first


def test_lake_scenarios_of_alike_named_dirs_stay_apart(spark, tmp_path):
    """Two sf dirs that share a basename get their own lakehouse: the
    vacuum audit of A, run after B's scenario was built, matches A's
    oracle, not B's."""
    from jobminer_spark.operators import lakeaudit

    a = tmp_path / "a" / "sfX"
    b = tmp_path / "b" / "sfX"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    _write_subset(SF_DIR, a, "orders", lambda t: pc.less(t["o_orderkey"], 1200))
    _write_subset(SF_DIR, b, "orders", lambda t: pc.greater(t["o_orderkey"], 300))
    for sf in (a, b):
        got = sorted(
            tuple(r) for r in lakeaudit.lakehouse_merge_parity(spark, str(sf)).collect()
        )
        assert got == _oracle("lakehouse_merge_parity", sf)
    got = sorted(
        tuple(r) for r in lakeaudit.lakehouse_vacuum_audit(spark, str(a)).collect()
    )
    assert got == _oracle("lakehouse_vacuum_audit", a)
    assert got != _oracle("lakehouse_vacuum_audit", b)


def test_maintenance_keeps_a_live_sessions_dirs(spark):
    """A maintenance query sweeps other sessions' jm_maint_ roots only
    once they are six hours old: a just-touched one survives, an old
    one is removed."""
    from jobminer_spark.operators.maintenance import partitioned_write_pruning_audit

    tmp = tempfile.gettempdir()
    live = os.path.join(tmp, "jm_maint_local-live-other-app_sfX_0")
    stale = os.path.join(tmp, "jm_maint_local-dead-other-app_sfX_0")
    for d in (live, stale):
        os.makedirs(os.path.join(d, "part"), exist_ok=True)
    old = time.time() - 7 * 3600
    for p in (os.path.join(stale, "part"), stale):
        os.utime(p, (old, old))
    try:
        forget_scenarios("maint")
        partitioned_write_pruning_audit(spark, SF_DIR).collect()
        assert os.path.isdir(live)
        assert not os.path.exists(stale)
    finally:
        for d in (live, stale):
            shutil.rmtree(d, ignore_errors=True)


_ALLOWED_CACHES = {
    ("operators/common.py", "_SCENARIO_CACHE"),
    ("operators/common.py", "_DIM_PROBE_CACHE"),
    ("sources/parquet.py", "_TS_NANOS_CACHE"),
}
_SCRATCH_CALLS = {"sweep_stale_dirs", "scenario_workdir", "mkdtemp"}


def test_no_hand_rolled_scenario_caches_or_scratch_dirs():
    """Scenario reuse goes through operators/common.scenario only: no
    other module-level *_CACHE dict, and no sweep / workdir / mkdtemp
    call outside common.py."""
    bad = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.endswith("_CACHE")
                    and (rel, t.id) not in _ALLOWED_CACHES
                ):
                    bad.append(f"{rel}:{node.lineno} module-level {t.id}")
        if rel == "operators/common.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in _SCRATCH_CALLS:
                    bad.append(f"{rel}:{node.lineno} calls {name}")
    assert not bad, bad
