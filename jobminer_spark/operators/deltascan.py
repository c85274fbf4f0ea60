"""Delta read-optimization audits: data skipping on add-action
statistics, and the incremental change reader (sources/delta.py),
pinned against oracles that recompute row facts from raw events.

deltamaint.py attests the maintenance pair; this module attests the
two READ paths that make a 100 TB Delta table cheap to consume:

* **Data skipping** — the writer stamps each add-action with
  delta-spark's stats JSON (numRecords + per-integer-column min/max/
  nullCount from the parquet footer), and ``read_delta(...,
  stats_filters=...)`` drops files whose [min, max] cannot intersect
  the requested range BEFORE the plan is built. On a range-clustered
  layout the audit proves a 1-of-8 file scan returns exactly the
  rows the oracle computes from the raw table.
* **Incremental changes** — ``delta_changes`` delivers the rows
  appended in a version range, skipping dataChange=false OPTIMIZE
  rearrangements (their rows were already delivered) and refusing
  ranges that contain a real delete — the contract of a Delta
  streaming SOURCE, complementing deltastream.py's exactly-once SINK.

Scale shape: both prunes are log-level (driver metadata, O(live
files)); the scans they admit are ordinary distributed parquet reads
with pushdown intact. Stats stamping is footer-read-per-file bounded
by the small-commit cap (wider commits ship unprunable-but-correct;
a cluster writer computes stats executor-side in the write job).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table
from jobminer_spark.sources.delta import (
    delta_changes,
    delta_changes_adds,
    delta_latest_version,
    optimize_delta,
    read_delta,
    write_delta,
)


_N_BUCKETS = 8

_ROWS_CTE = """
    rows AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q
      FROM events
    ),
    wparam AS (
      SELECT (MAX(event_id) + 8) // 8 AS w FROM rows
    )"""


def _rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100.0).cast("long").alias("val_q"),
    )


def _scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dscan", lambda work: _build_scenario(spark, sf_dir, work)
    )


def _build_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    rows = _rows(spark, sf_dir)

    # RANGE-CLUSTERED table: commit i holds event_id ∈ [i·W, (i+1)·W),
    # W = ceil((max_id+1)/8) — the layout a writer produces when data
    # arrives ordered, and the one data skipping pays off on
    max_id = rows.agg(F.max("event_id")).first()[0]
    w = (max_id + _N_BUCKETS) // _N_BUCKETS
    skip = os.path.join(work, "skip")
    for i in range(_N_BUCKETS):
        write_delta(
            spark,
            skip,
            rows.filter(
                (F.col("event_id") >= i * w)
                & (F.col("event_id") < (i + 1) * w)
            ).repartition(1),
        )
    full = read_delta(spark, skip)
    pruned = read_delta(spark, skip, stats_filters={"event_id": (0, w - 1)})
    n_files_total = len(full.inputFiles())
    n_files_scanned = len(pruned.inputFiles())

    # CHANGE-FED table: 4 appends, an OPTIMIZE (dataChange=false),
    # one more append — the history an incremental consumer tails
    chg = os.path.join(work, "chg")
    for b in range(4):
        write_delta(
            spark, chg,
            rows.filter(F.col("user_id") % 5 == b).repartition(1),
        )
    _v, _nb, n_after = optimize_delta(spark, chg, target_files=2)
    write_delta(spark, chg, rows.filter(F.col("user_id") % 5 == 4))
    _adds, n_rearranged = delta_changes_adds(chg, -1)

    # Z-ORDERED table (r18): four INTERLEAVED commits — every file
    # spans the full (a, b) space, so a 2-D range predicate prunes
    # NOTHING — then OPTIMIZE zorder_by=["a", "b"] re-clusters into 16
    # z-range files whose per-file min/max are tight on BOTH columns
    z_table = os.path.join(work, "zorder")
    # a 16x16 (a, b) space derived from event_id alone: fully swept
    # at EVERY fixture scale (sf0.001's id range is too short for a
    # 64-wide second dimension, and user_id is too skewed)
    zrows = rows.select(
        (F.col("event_id") % 16).alias("a"),
        ((F.col("event_id") / 16).cast("long") % 16).alias("b"),
        "val_q",
        "event_id",
    )
    for i in range(4):
        write_delta(
            spark, z_table,
            zrows.filter(F.col("event_id") % 4 == i).repartition(1),
        )
    z_filters = {"a": (0, 3), "b": (0, 3)}
    pre_total = len(read_delta(spark, z_table).inputFiles())
    pre_pruned = len(
        read_delta(spark, z_table, stats_filters=z_filters).inputFiles()
    )
    optimize_delta(spark, z_table, target_files=16, zorder_by=["a", "b"])
    z_total = len(read_delta(spark, z_table).inputFiles())
    z_pruned = len(
        read_delta(spark, z_table, stats_filters=z_filters).inputFiles()
    )

    # MIXED-TYPE Z-ORDER table (r19): the SAME 16x16 grid, but
    # dimension 1 is a DATE (16 distinct days, unix_date proxy) and
    # dimension 2 a STRING key prefix (equi-depth sampled boundaries)
    # — the common real clustering keys the numeric-only refusal made
    # the r18 audit unrepresentative of (VERDICT r18 item 2)
    zm_table = os.path.join(work, "zmix")
    zmrows = rows.select(
        F.date_add(
            F.to_date(F.lit("2024-01-01")),
            (F.col("event_id") % 16).cast("int"),
        ).alias("d"),
        F.concat(
            F.format_string(
                "k%02d",
                ((F.col("event_id") / 16).cast("long") % 16).cast("int"),
            ),
            F.lit("-"),
            F.col("event_id").cast("string"),
        ).alias("s"),
        "val_q",
        "event_id",
    )
    for i in range(4):
        write_delta(
            spark, zm_table,
            zmrows.filter(F.col("event_id") % 4 == i).repartition(1),
        )
    zm_filters = {
        "d": ("2024-01-01", "2024-01-04"),
        "s": (None, "k03z"),
    }
    zm_pre_total = len(read_delta(spark, zm_table).inputFiles())
    zm_pre_pruned = len(
        read_delta(spark, zm_table, stats_filters=zm_filters).inputFiles()
    )
    optimize_delta(spark, zm_table, target_files=16, zorder_by=["d", "s"])
    zm_total = len(read_delta(spark, zm_table).inputFiles())
    zm_pruned = len(
        read_delta(spark, zm_table, stats_filters=zm_filters).inputFiles()
    )

    result = {
        "zmix": zm_table,
        "zm_filters": zm_filters,
        "zm_pre_prune_none": int(zm_pre_pruned == zm_pre_total == 4),
        "zm_improved": int(zm_pruned < zm_total),
        "zm_quarter": int(zm_pruned * 4 <= zm_total),
        "zorder": z_table,
        "z_filters": z_filters,
        # interleaved layout: the 2-D predicate prunes nothing
        "z_pre_prune_none": int(pre_pruned == pre_total == 4),
        # post-zorder: strictly fewer files, and at most a quarter —
        # the predicate covers 1/16 of the (a, b) space
        "z_improved": int(z_pruned < z_total),
        "z_quarter": int(z_pruned * 4 <= z_total),
        "skip": skip,
        "w": w,
        "n_files_total": n_files_total,
        "n_files_scanned": n_files_scanned,
        "chg": chg,
        "n_rearranged": n_rearranged,
        "n_opt_outputs": n_after,
        "n_versions": delta_latest_version(chg) + 1,
    }
    return result


@query(
    "delta_stats_skipping_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id < (SELECT w FROM wparam)) AS n,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id < (SELECT w FROM wparam)) AS ck,
           CAST({_N_BUCKETS} AS BIGINT) AS n_files_total,
           CAST(1 AS BIGINT) AS n_files_scanned,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_unpruned
    FROM rows LIMIT 1
    """,
)
def delta_stats_skipping_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eight range-clustered commits, then a stats-filtered read of
    the first bucket: the log-level min/max prune must plan exactly
    ONE of the eight files, and the rows that come back (with the real
    filter applied on top, as data skipping requires) must match the
    oracle's recomputation from raw events — while an unfiltered read
    still sees everything. A writer that mis-stamps stats or a pruner
    that drops a matching file goes red on n/ck; one that stops
    pruning goes red on n_files_scanned."""
    s = _scenario(spark, sf_dir)
    w = s["w"]
    pruned = (
        read_delta(spark, s["skip"], stats_filters={"event_id": (0, w - 1)})
        .filter(F.col("event_id") < w)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("val_q").cast("long").alias("ck"),
        )
    )
    full = read_delta(spark, s["skip"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_unpruned")
    )
    return (
        pruned.crossJoin(F.broadcast(full))
        .selectExpr(
            "n",
            "ck",
            f"CAST({s['n_files_total']} AS BIGINT) AS n_files_total",
            f"CAST({s['n_files_scanned']} AS BIGINT) AS n_files_scanned",
            "n_unpruned",
        )
    )


@query(
    "delta_changes_incremental_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_incremental,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_incremental,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE user_id % 5 = 4) AS n_last_batch,
           CAST(2 AS BIGINT) AS n_rearranged_skipped,
           CAST(6 AS BIGINT) AS n_versions
    FROM rows LIMIT 1
    """,
)
def delta_changes_incremental_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail a 6-version history (4 appends, an OPTIMIZE, an append)
    with the incremental reader: the full (−1, latest] range must
    deliver every row exactly once — the OPTIMIZE's dataChange=false
    output files are SKIPPED (their rows arrived with the original
    appends; double delivery would double n/ck) — and the single-
    version batch after the OPTIMIZE must be exactly the last append.
    Counts and checksums recomputed from raw events."""
    s = _scenario(spark, sf_dir)
    inc = delta_changes(spark, s["chg"], -1).agg(
        F.count(F.lit(1)).cast("long").alias("n_incremental"),
        F.sum("val_q").cast("long").alias("ck_incremental"),
    )
    last = delta_changes(
        spark, s["chg"], s["n_versions"] - 2, s["n_versions"] - 1
    ).agg(F.count(F.lit(1)).cast("long").alias("n_last_batch"))
    return (
        inc.crossJoin(F.broadcast(last))
        .selectExpr(
            "n_incremental",
            "ck_incremental",
            "n_last_batch",
            f"CAST({s['n_rearranged']} AS BIGINT) AS n_rearranged_skipped",
            f"CAST({s['n_versions']} AS BIGINT) AS n_versions",
        )
    )


@query(
    "delta_zorder_optimize_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 16 BETWEEN 0 AND 3
               AND CAST(FLOOR(event_id / 16) AS BIGINT) % 16
                   BETWEEN 0 AND 3) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 16 BETWEEN 0 AND 3
               AND CAST(FLOOR(event_id / 16) AS BIGINT) % 16
                   BETWEEN 0 AND 3) AS ck,
           CAST(1 AS BIGINT) AS pre_prune_none,
           CAST(1 AS BIGINT) AS prune_improved,
           CAST(1 AS BIGINT) AS prune_quarter
    """,
)
def delta_zorder_optimize_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE Z-ORDER (r18): four interleaved commits where a 2-D
    range predicate on (a, b) prunes NOTHING (pre_prune_none pins the
    adversarial layout), re-clustered by Morton-interleaved z-values
    into 16 range files — the same stats-filtered read must then plan
    strictly fewer files (prune_improved) and at most a quarter of
    them (prune_quarter — the predicate covers 1/16 of the space),
    while the rows it returns match the oracle's recomputation from
    raw events exactly (a z-shuffle that lost or duplicated rows, or
    a prune that dropped a matching file, goes red on values)."""
    s = _scenario(spark, sf_dir)
    got = (
        read_delta(spark, s["zorder"], stats_filters=s["z_filters"])
        .where(
            F.col("a").between(0, 3) & F.col("b").between(0, 3)
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val_q").cast("long").alias("ck"),
        )
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['z_pre_prune_none']} AS BIGINT) AS pre_prune_none",
        f"CAST({s['z_improved']} AS BIGINT) AS prune_improved",
        f"CAST({s['z_quarter']} AS BIGINT) AS prune_quarter",
    )


@query(
    "delta_zorder_mixed_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 16 BETWEEN 0 AND 3
               AND CAST(FLOOR(event_id / 16) AS BIGINT) % 16
                   BETWEEN 0 AND 3) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 16 BETWEEN 0 AND 3
               AND CAST(FLOOR(event_id / 16) AS BIGINT) % 16
                   BETWEEN 0 AND 3) AS ck,
           CAST(1 AS BIGINT) AS pre_prune_none,
           CAST(1 AS BIGINT) AS prune_improved,
           CAST(1 AS BIGINT) AS prune_quarter
    """,
)
def delta_zorder_mixed_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE Z-ORDER past numeric-only (r19, VERDICT r18 item 2):
    the same 16x16 interleaved grid as delta_zorder_optimize_audit,
    but clustered on a DATE column (16 days; monotone unix_date
    proxy) and a STRING key prefix (equi-depth sampled quantile
    boundaries, counted JVM-side — no UDF). Pre-OPTIMIZE the 2-D
    stats filter prunes NOTHING (pre_prune_none); post-OPTIMIZE it
    plans strictly fewer files (prune_improved) and at most a
    quarter (prune_quarter — the predicate covers 1/16 of the
    space), and the rows under the pruned plan match the oracle's
    recomputation from raw events exactly (a boundary-sampling bug,
    a proxy that broke monotonicity, or string stats that over-prune
    all go red on values)."""
    s = _scenario(spark, sf_dir)
    got = (
        read_delta(spark, s["zmix"], stats_filters=s["zm_filters"])
        .where(
            F.col("d").between("2024-01-01", "2024-01-04")
            & (F.substring("s", 1, 3) <= "k03")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val_q").cast("long").alias("ck"),
        )
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['zm_pre_prune_none']} AS BIGINT) AS pre_prune_none",
        f"CAST({s['zm_improved']} AS BIGINT) AS prune_improved",
        f"CAST({s['zm_quarter']} AS BIGINT) AS prune_quarter",
    )


@query(
    "delta_liquid_clustering_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 16 BETWEEN 0 AND 3
               AND CAST(FLOOR(event_id / 16) AS BIGINT) % 16
                   BETWEEN 0 AND 3) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 16 BETWEEN 0 AND 3
               AND CAST(FLOOR(event_id / 16) AS BIGINT) % 16
                   BETWEEN 0 AND 3) AS ck,
           CAST(1 AS BIGINT) AS registry_ok,
           CAST(1 AS BIGINT) AS prune_improved,
           CAST(1 AS BIGINT) AS prune_quarter
    """,
)
def delta_liquid_clustering_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIQUID CLUSTERING interop (r19): CREATE ... CLUSTER BY (a, b)
    lands the column registry in the delta.clustering domain
    (registry_ok pins the exact domainMetadata configuration plus the
    writer-only clustering+domainMetadata protocol), four interleaved
    appends stay unclustered, and a PLAIN optimize_delta — no
    zorder_by — must pick the domain's columns up: the 2-D stats
    filter then plans strictly fewer files (prune_improved) and at
    most a quarter (prune_quarter), with the rows under the pruned
    plan matching the oracle's recomputation exactly. Reference:
    delta-spark's clustered-table OPTIMIZE + the Delta protocol's
    Clustered Table / Domain Metadata sections."""
    import json as _json

    from jobminer_spark.sources.delta import (
        _replay_full,
        delta_domain_metadata,
        delta_latest_version,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        zrows = rows.select(
            (F.col("event_id") % 16).alias("a"),
            ((F.col("event_id") / 16).cast("long") % 16).alias("b"),
            "val_q",
            "event_id",
        )
        t = os.path.join(work, "liquid")
        for i in range(4):
            write_delta(
                spark, t,
                zrows.filter(F.col("event_id") % 4 == i).repartition(1),
                cluster_by=["a", "b"] if i == 0 else None,
            )
        flt = {"a": (0, 3), "b": (0, 3)}
        pre = len(
            read_delta(spark, t, stats_filters=flt).inputFiles()
        )
        pre_total = len(read_delta(spark, t).inputFiles())
        optimize_delta(spark, t, target_files=16)  # NO zorder_by
        total = len(read_delta(spark, t).inputFiles())
        pruned = len(
            read_delta(spark, t, stats_filters=flt).inputFiles()
        )
        proto = _replay_full(t, delta_latest_version(t))[4]
        registry_ok = int(
            _json.loads(
                delta_domain_metadata(t).get("delta.clustering", "{}")
            )
            == {"clusteringColumns": [["a"], ["b"]]}
            and proto.get("minReaderVersion") == 1
            and {"clustering", "domainMetadata"}
            <= set(proto.get("writerFeatures") or [])
            and pre == pre_total == 4
        )
        return {
            "table": t,
            "flt": flt,
            "registry_ok": registry_ok,
            "improved": int(pruned < total),
            "quarter": int(pruned * 4 <= total),
        }

    s = scenario(spark, sf_dir, "liq", _build)
    got = (
        read_delta(spark, s["table"], stats_filters=s["flt"])
        .where(F.col("a").between(0, 3) & F.col("b").between(0, 3))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val_q").cast("long").alias("ck"),
        )
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['registry_ok']} AS BIGINT) AS registry_ok",
        f"CAST({s['improved']} AS BIGINT) AS prune_improved",
        f"CAST({s['quarter']} AS BIGINT) AS prune_quarter",
    )
