"""Delta table-maintenance audits: partitioned OPTIMIZE and VACUUM
(sources/delta.py) exercised end-to-end and pinned against oracles
that recompute every row-level fact from the raw events table.

deltaaudit.py attests the read/replay/OPTIMIZE-unpartitioned surface;
this module closes the maintenance pair a production deployment runs
on a schedule: small-file compaction WITHIN each partition of a
partitioned table (one dataChange=false commit, partition values —
including the protocol's JSON-null partition — preserved), and
physical deletion of tombstoned files past retention (delta-spark's
listing algorithm: live files and recent tombstones survive, expired
unreferenced files go, time travel past the vacuum horizon fails
loudly rather than misreads).

Scenario (one build per session+sf, fingerprint-keyed): six
single-file-per-partition appends of an events projection partitioned
by event_type, OPTIMIZE'd to 2 files per partition; a second table
OPTIMIZE'd then VACUUM'd with an elapsed retention. The maintenance
operations run ONCE at build time and their engine-side facts (file
counts, deletion lists) are memoized — re-running the queries renders
the same attested numbers instead of re-mutating the table.

Scale shape: OPTIMIZE's per-partition compaction reads only
over-target groups (bounded by layout, not history) and publishes one
commit; VACUUM is a driver-side listing + unlink pass, O(files on
disk), with no Spark job at all — both identical in shape to the
lakehouse maintenance audits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table
from jobminer_spark.sources.delta import (
    optimize_delta,
    read_delta,
    vacuum_delta,
    write_delta,
)


_ROWS_CTE = """
    rows AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q
      FROM events
    )"""

_N_APPENDS = 6
_TARGET = 2


def _rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100.0).cast("long").alias("val_q"),
    )


def _build_partitioned(spark: SparkSession, sf_dir: str, path: str) -> None:
    rows = _rows(spark, sf_dir)
    for i in range(_N_APPENDS):
        # repartition(1): ONE task writes every partition dir, so each
        # append lands exactly one file per event_type — the
        # deterministic small-file layout the compaction then fixes
        write_delta(
            spark,
            path,
            rows.filter(F.col("event_id") % _N_APPENDS == i).repartition(1),
            partition_by=["event_type"],
        )


def _scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dmaint", lambda work: _build_scenario(spark, sf_dir, work)
    )


def _build_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    opt = os.path.join(work, "opt")
    _build_partitioned(spark, sf_dir, opt)
    pre_version = _N_APPENDS - 1
    opt_version, n_before, n_after = optimize_delta(
        spark, opt, target_files=_TARGET
    )

    vac = os.path.join(work, "vac")
    _build_partitioned(spark, sf_dir, vac)
    optimize_delta(spark, vac, target_files=_TARGET)
    # dry run first (names the victims, deletes nothing), then the
    # real pass with an elapsed retention; memoized so re-rendering
    # the audit never re-mutates the table
    dry, _dry_kept = vacuum_delta(vac, retention_ms=-60_000, dry_run=True)
    survivors_pre = sorted(read_delta(spark, vac).inputFiles())
    deleted, kept = vacuum_delta(vac, retention_ms=-60_000)
    survivors_post = sorted(read_delta(spark, vac).inputFiles())
    rerun = vacuum_delta(vac, retention_ms=-60_000)

    result = {
        "opt": opt,
        "opt_version": opt_version,
        "pre_version": pre_version,
        "n_before": n_before,
        "n_after": n_after,
        "vac": vac,
        "n_dry": len(dry),
        "n_deleted": len(deleted),
        "dry_matches": sorted(dry) == sorted(deleted),
        "n_kept": kept,
        "survivors_stable": survivors_pre == survivors_post,
        "rerun_clean": rerun == ([], 0),
    }
    return result


@query(
    "delta_partitioned_optimize_audit",
    oracle=f"""
    WITH {_ROWS_CTE},
    t AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
          FROM rows)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val_q) AS BIGINT) AS ck,
           (SELECT n_types * {_N_APPENDS} FROM t) AS n_files_before,
           (SELECT n_types * {_TARGET} FROM t) AS n_files_after,
           CAST(COUNT(*) AS BIGINT) AS n_travel
    FROM rows GROUP BY event_type
    """,
)
def delta_partitioned_optimize_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Six one-file-per-partition appends → OPTIMIZE compacts WITHIN
    each event_type partition to 2 files, in one dataChange=false
    commit. Per-type counts and checksums recomputed from raw events
    pin row preservation; the file counts pin the per-partition
    compaction arithmetic (types × appends → types × target); the
    travel column re-reads the PRE-optimize version through the old
    layout — still resolvable, per the remove-from-active-set-only
    contract."""
    s = _scenario(spark, sf_dir)
    cur = read_delta(spark, s["opt"]).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    travel = (
        read_delta(spark, s["opt"], version=s["pre_version"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_travel"))
    )
    return (
        cur.join(travel, "event_type")
        .selectExpr(
            "event_type",
            "n",
            "ck",
            f"CAST({s['n_before']} AS BIGINT) AS n_files_before",
            f"CAST({s['n_after']} AS BIGINT) AS n_files_after",
            "n_travel",
        )
    )


@query(
    "delta_vacuum_audit",
    oracle=f"""
    WITH {_ROWS_CTE},
    t AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
          FROM rows)
    SELECT (SELECT n_types * {_N_APPENDS} FROM t) AS n_deleted,
           CAST(1 AS BIGINT) AS dry_matches,
           CAST(0 AS BIGINT) AS n_kept,
           CAST(1 AS BIGINT) AS survivors_stable,
           CAST(1 AS BIGINT) AS rerun_clean,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows_after,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_after
    """,
)
def delta_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE leaves every pre-compaction file tombstoned; VACUUM
    with an elapsed retention must delete exactly those (types ×
    appends files — the dry run names the same set), keep every live
    file byte-identical (survivor list unchanged, rows and checksum
    re-verified through a post-vacuum read), and be idempotent. A
    vacuum that touches a live file shifts the checksum; one that
    misses a tombstoned file shifts n_deleted."""
    s = _scenario(spark, sf_dir)
    after = read_delta(spark, s["vac"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_after"),
        F.sum("val_q").cast("long").alias("ck_after"),
    )
    return after.selectExpr(
        f"CAST({s['n_deleted']} AS BIGINT) AS n_deleted",
        f"CAST({int(s['dry_matches'] and s['n_dry'] == s['n_deleted'])}"
        " AS BIGINT) AS dry_matches",
        f"CAST({s['n_kept']} AS BIGINT) AS n_kept",
        f"CAST({int(s['survivors_stable'])} AS BIGINT) AS survivors_stable",
        f"CAST({int(s['rerun_clean'])} AS BIGINT) AS rerun_clean",
        "n_rows_after",
        "ck_after",
    )
