"""Persisted-baseline drift monitoring: today's batch vs yesterday's
PROFILE, at O(batch + grid) — the production shape of drift.py.

drift.py's monitors compare the corpus's own two time halves, which
re-scans the whole corpus every run. A production monitor (the
reference's daily re-run cadence, JobScraper function.json:6) instead
persists a small PROFILE of the baseline period — the cents-quantized
value-count grid, the same artifact drift.py aggregates internally —
and compares each new batch against that parquet, never touching the
baseline's raw events again (VERDICT r13 "What's missing"). This is
the incremental sibling of incremental_rollup_audit and the shingle
index (increment.py): heavy state lives in a persisted, re-loadable
parquet keyed for cheap probes.

Profile layout (three parquet dirs under one root, the shingle-index
pattern; one baseline build serves both monitors):
  * ``grid/`` — (vq BIGINT, c1 BIGINT): baseline count per cents
    bucket, non-null values only (the KS sample). VALUE-SPACE bounded
    (~50k rows for a bounded price domain), corpus-size-independent.
  * ``types/`` — (event_type, c1 BIGINT): baseline count per event
    type over EVERY event (the TVD sample; a type that never carries
    a value must still register as categorical drift).
  * ``meta/`` — one row (mid BIGINT, n1 BIGINT, n1_all BIGINT): the
    epoch-µs split point and both baseline sample sizes.

The fixture has no external "yesterday", so baseline = the corpus's
first time half and batch = the second, making the result EXACTLY
``ks_drift_event_values`` (same grid union, same cross-multiplied
integer KS) — which is the correctness story: the persisted-profile
path must reproduce the direct two-sample computation bit-for-bit,
and the oracle (shared SQL) replays both profiles from the raw table.

Scale shape: the baseline build is one events scan (yesterday's job,
amortized). The COMPARISON plan scans events ONCE (the batch side —
in production a date-partitioned source prunes to the new partition;
the profile's ``mid`` bounds the filter) plus the grid parquet; the
union grid is value-space bounded; ECDFs use the distributed
prefix-sum plan (rfm._distributed_prefix — no unpartitioned window).
tests/test_plans.py pins the single-events-scan shape. Overflow bound
as drift.py: cum·n stays in int64 through ~3e9 rows per side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import jobminer_spark.operators.drift  # noqa: F401  (registers the shared oracle)
from jobminer_spark.operators.common import scenario
from jobminer_spark.operators.rfm import _distributed_prefix
from jobminer_spark.registry import ORACLES, query
from jobminer_spark.sources import load_table

def _fixture_profile(spark: SparkSession, sf_dir: str) -> str:
    """Root of the first-half baseline profile, built once per
    scenario — the "yesterday ran the profile job" premise."""
    return scenario(
        spark, sf_dir, "driftbase",
        lambda root: _build_fixture_profile(spark, sf_dir, root),
    )


def _build_fixture_profile(spark: SparkSession, sf_dir: str, root: str) -> str:
    """Build the first-half baseline profile under ``root``."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.floor(F.col("value") * 100.0).cast("long").alias("vq"),
        F.col("value").isNotNull().alias("has_v"),
        "event_type",
    )
    mm = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("m")
    ).first()  # bounded: one scalar row (the split point)
    # Empty corpus ⇒ min/max are NULL and there is no split point.
    # Short-circuit to mid = 0 (ADVICE r14): the profile then persists
    # empty grids with n1 = n1_all = 0, and the comparison degrades to
    # the same NULL-permille row the direct two-sample twins produce
    # for the same degenerate input (pinned in tests/test_driftbase).
    mid = mm["m"] if mm["m"] is not None else 0
    side0 = ev.filter(F.col("us") < F.lit(mid))
    # one profile job serves BOTH monitors: the value grid (KS, non-null
    # values only) and the type-count grid (TVD, EVERY event — a type
    # that never carries a value must still register as drift)
    grid = (
        side0.filter(F.col("has_v"))
        .groupBy("vq")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    grid.write.mode("overwrite").parquet(os.path.join(root, "grid"))
    types = side0.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    types.write.mode("overwrite").parquet(os.path.join(root, "types"))
    # totals from the WRITTEN grids (not a second corpus aggregation):
    # the profile is the source of truth the comparison trusts
    n1 = (
        spark.read.parquet(os.path.join(root, "grid"))
        .agg(F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n1"))
        .first()["n1"]
    )  # bounded: one scalar over the value-space-bounded grid
    n1_all = (
        spark.read.parquet(os.path.join(root, "types"))
        .agg(F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n"))
        .first()["n"]
    )  # bounded: one scalar over the |types|-bounded grid
    # JVM-only literal row (a 1-row createDataFrame would plan a
    # Python-RDD scan and pay the cold Python-worker pool)
    spark.range(1).select(
        F.lit(int(mid)).cast("long").alias("mid"),
        F.lit(int(n1)).cast("long").alias("n1"),
        F.lit(int(n1_all)).cast("long").alias("n1_all"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "meta"))
    return root


def compare_batch_to_profile(
    spark: SparkSession, batch_counts: DataFrame, root: str
) -> DataFrame:
    """Exact two-sample KS between ``batch_counts`` (vq, c2) and the
    persisted profile at ``root`` — O(batch + grid): the baseline
    side is the grid parquet, never its raw rows. Full outer on vq:
    values new in the batch and values that vanished from it must
    both stretch the ECDF gap."""
    grid = spark.read.parquet(os.path.join(root, "grid"))
    meta = spark.read.parquet(os.path.join(root, "meta"))
    joined = (
        grid.join(batch_counts, "vq", "full_outer")
        .select(
            "vq",
            F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
            F.coalesce("c2", F.lit(0)).cast("long").alias("c2"),
        )
    )
    ecdf = _distributed_prefix(
        joined, [F.col("vq").asc()], {"c1": "cum1", "c2": "cum2"}
    )
    # n1 is the PROFILE's persisted total (identical to sum(c1) by
    # construction); n2 = max(cum2) — the running sum's last value —
    # computed over the MATERIALIZED ecdf (prefix-sum checkpoints its
    # input) so the totals pass never re-evaluates the batch scan.
    tot = (
        ecdf.agg(
            F.coalesce(F.max("cum2"), F.lit(0)).cast("long").alias("n2")
        )
        .crossJoin(F.broadcast(meta.select("n1")))
    )
    gap = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return (
        ecdf.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.count(F.lit(1)).cast("long").alias("n_value_buckets"),
            F.max(gap).cast("long").alias("max_scaled_gap"),
        )
        .selectExpr(
            "n1",
            "n2",
            "n_value_buckets",
            "max_scaled_gap",
            "CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL"
            " ELSE (1000 * max_scaled_gap) div (n1 * n2) END AS BIGINT)"
            " AS ks_permille",
        )
    )


@query(
    "ks_drift_vs_baseline",
    # The oracle REPLAYS both profiles from the raw table — it is the
    # SAME SQL as ks_drift_event_values, because the persisted-profile
    # path must reproduce the direct two-sample KS bit-for-bit (drift
    # is imported above, so its registration precedes this lookup).
    oracle=ORACLES["ks_drift_event_values"],
)
def ks_drift_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift of the second time half (the "batch") against the
    PERSISTED first-half profile. Builds the profile parquet once per
    session (yesterday's job), then compares at O(batch + grid): the
    comparison plan reads the batch events ONCE plus the profile —
    the baseline raw rows are never rescanned (plan-pinned in
    tests/test_plans.py). ``mid`` is read from the profile's one-row
    meta (bounded scalar) and inlined so the batch filter is a
    literal predicate."""
    root = _fixture_profile(spark, sf_dir)
    batch_counts = (
        _batch_events(spark, sf_dir, root)
        .filter(F.col("has_v"))
        .groupBy("vq")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    return compare_batch_to_profile(spark, batch_counts, root)


def _batch_events(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The "today's batch" frame: events at or past the profile's
    persisted split point. ``mid`` is read from the one-row meta
    (bounded scalar) and inlined so the batch filter is a literal
    predicate — in production, the partition-pruning bound on a
    date-partitioned source."""
    mid = spark.read.parquet(os.path.join(root, "meta")).first()["mid"]
    return (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
            F.floor(F.col("value") * 100.0).cast("long").alias("vq"),
            F.col("value").isNotNull().alias("has_v"),
            "event_type",
        )
        .filter(F.col("us") >= F.lit(mid))
    )


def compare_batch_types_to_profile(
    spark: SparkSession, batch_type_counts: DataFrame, root: str
) -> DataFrame:
    """Exact total-variation distance between ``batch_type_counts``
    (event_type, c2) and the persisted type-count profile — the
    CATEGORICAL twin of compare_batch_to_profile, O(batch + |types|).
    No prefix sum is needed (TVD is a per-cell sum, not an ECDF), so
    the |types|-bounded joined frame is materialized directly
    (localCheckpoint) and the totals/gap passes read only it — the
    comparison plan scans no raw table, like the KS path."""
    types = spark.read.parquet(os.path.join(root, "types"))
    meta = spark.read.parquet(os.path.join(root, "meta"))
    joined = (
        types.join(batch_type_counts, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
            F.coalesce("c2", F.lit(0)).cast("long").alias("c2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = (
        joined.agg(
            F.coalesce(F.sum("c2"), F.lit(0)).cast("long").alias("n2")
        )
        .crossJoin(F.broadcast(meta.select(F.col("n1_all").alias("n1"))))
    )
    gap = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return (
        joined.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(gap).cast("long").alias("sum_scaled_gap"),
        )
        .selectExpr(
            "n1",
            "n2",
            "n_types",
            "sum_scaled_gap",
            "CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL"
            " ELSE (500 * sum_scaled_gap) div (n1 * n2) END AS BIGINT)"
            " AS tvd_permille",
        )
    )


@query(
    "tvd_drift_vs_baseline",
    # Shared with tvd_drift_event_types for the same reason the KS
    # twin shares its oracle: the persisted-profile path must
    # reproduce the direct two-sample TVD bit-for-bit.
    oracle=ORACLES["tvd_drift_event_types"],
)
def tvd_drift_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift of the batch against the PERSISTED type-count
    profile — the type-count half of the production monitor pair
    (VERDICT r13 item 4 names "value-grid/type-count profile"; the
    value-grid half is ks_drift_vs_baseline). Counts EVERY batch
    event, null values included, exactly like tvd_drift_event_types;
    types new in the batch and types that vanished both register
    through the full-outer grid union."""
    root = _fixture_profile(spark, sf_dir)
    batch_type_counts = (
        _batch_events(spark, sf_dir, root)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    return compare_batch_types_to_profile(spark, batch_type_counts, root)


# ---------------------------------------------------------------------------
# PSI on the persisted grid (VERDICT r14 item 5): the industry-standard
# drift metric, exact-integer and cross-engine via a fixed-point log2.
# ---------------------------------------------------------------------------
#
# PSI = Σ (p2 − p1)·ln(p2/p1) needs a logarithm, and libm `ln` is
# banned (last-ulp differences across engines — the no-libm rule that
# kept PSI out of drift.py). The escape is a QUANTIZED log2 computed
# with nothing but integer ops both dialects share bit-for-bit:
#
#   QL(x) = 1024·e + P(t)        e = length(bin(x)) − 1   (exact ⌊log2⌋,
#                                 the proven r9 recipe; Spark bin ==
#                                 DuckDB bin == Python bit_length−1)
#   m = x >> (e−10)  (or << when e < 10)  — the 1024-scaled mantissa,
#   t = m − 1024 ∈ [0, 1023],
#   P(t) = (1461·t + (−605·t²) div 1024 + (169·t³) div 1048576) div 1024
#
# P is a cubic fit of 1024·log2(1 + t/1024): max abs error 1.57/1024
# ≈ 0.0015 log2-units, exhaustively verified MONOTONE over all 1024
# mantissa values and across octave boundaries (P(0)=0, P(1023)=1024),
# under TRUNCATING division semantics (Spark `div` == DuckDB `//`,
# both truncate toward zero — the r13 probe row). Monotonicity makes
# every PSI term non-negative: sign(QL(a) − QL(b)) agrees with
# sign(a − b).
#
# The metric is reported in LOG2 base ("millibits"): PSI's base only
# scales the statistic, and log2 is the one base with an exact integer
# recipe. Zero cells take the standard ε-clip (counts clamped to ≥ 1)
# so the log argument is always positive. Cross-multiplied form:
#   term = (c2'·n1 − c1'·n2) · (QL(c2'·n1) − QL(c1'·n2))
#   psi_permille_log2 = (1000·Σ term) div (n1·n2·1024)
# Overflow bound: |Σ term| ≤ 2·n1·n2·max|ΔQL| ≲ 2·n1·n2·2e4, so the
# ×1000 numerator stays in int64 through ~2e5 rows per side at a full
# 2^18× per-cell ratio — and far beyond it for real drift (ΔQL is
# small when distributions are close). Past that, widen the sum to
# DECIMAL(38,0) (stated, as for the KS family's ~3e9 bound).

_QLA, _QLB, _QLC = 1461, -605, 169


def _e_sql(x: str) -> str:
    """Exact ⌊log2⌋ of positive BIGINT ``x`` — dialect-shared text."""
    return f"length(bin({x})) - 1"


def _t_sql(x: str, e: str, dialect: str) -> str:
    """1024-scaled mantissa offset t = (x normalized to [1024,2048)) - 1024."""
    if dialect == "spark":
        shr = f"shiftright({x}, {e} - 10)"
        shl = f"shiftleft({x}, 10 - {e})"
    else:
        shr = f"({x} >> ({e} - 10))"
        shl = f"({x} << (10 - {e}))"
    return f"CASE WHEN {e} >= 10 THEN {shr} ELSE {shl} END - 1024"


def _ql_sql(e: str, t: str, dialect: str) -> str:
    """QL = 1024·e + P(t), the fixed-point log2 (module comment)."""
    d = "div" if dialect == "spark" else "//"
    return (
        f"1024 * {e} + ({_QLA} * {t} + ({_QLB} * {t} * {t}) {d} 1024"
        f" + ({_QLC} * {t} * {t} * {t}) {d} 1048576) {d} 1024"
    )


def compare_batch_psi_to_profile(
    spark: SparkSession, batch_counts: DataFrame, root: str
) -> DataFrame:
    """ε-clipped PSI (log2 base, permille) between ``batch_counts``
    (vq, c2) and the persisted grid — O(batch + grid) like the KS
    comparison: the baseline side is the grid parquet, never raw rows.
    No prefix sum (PSI is a per-cell sum), so the value-space-bounded
    joined frame is materialized once and every later pass reads only
    it. The cell chain is ONE code path with the per-source diagnostic
    (``_psi_from_cells`` — review r15 folded the duplicate);
    ``global_agg`` keeps this variant's always-one-row output shape."""
    grid = spark.read.parquet(os.path.join(root, "grid"))
    meta = spark.read.parquet(os.path.join(root, "meta"))
    joined = (
        grid.join(batch_counts, "vq", "full_outer")
        .select(
            "vq",
            F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
            F.coalesce("c2", F.lit(0)).cast("long").alias("c2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = (
        joined.agg(F.sum("c2").cast("long").alias("n2"))
        .crossJoin(F.broadcast(meta.select("n1")))
    )
    cells = joined.crossJoin(F.broadcast(tot)).select("n1", "n2", "c1", "c2")
    return _psi_from_cells(cells, [], global_agg=True)


def _psi_oracle() -> str:
    """The raw-replay oracle: rebuild both halves' counts from events
    (the same split CTE the KS/TVD twins share), then the IDENTICAL
    integer cell chain in DuckDB dialect — generated from the same
    helper functions as the Spark expressions so the two texts cannot
    drift apart."""
    from jobminer_spark.operators.drift import _SPLIT_CTE

    return f"""
    WITH {_SPLIT_CTE},
    counts AS (
      SELECT vq,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM vsides GROUP BY vq
    ),
    vt AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM counts
    ),
    cells AS (
      SELECT GREATEST(c2, 1) * (SELECT n1 FROM vt)
               - GREATEST(c1, 1) * (SELECT n2 FROM vt) AS diff,
             GREATEST(GREATEST(c2, 1) * (SELECT n1 FROM vt), 1) AS a,
             GREATEST(GREATEST(c1, 1) * (SELECT n2 FROM vt), 1) AS b
      FROM counts
    ),
    l1 AS (
      SELECT diff, a, b,
             {_e_sql('a')} AS ea,
             {_e_sql('b')} AS eb
      FROM cells
    ),
    l2 AS (
      SELECT diff, ea, eb,
             {_t_sql('a', 'ea', 'duckdb')} AS ta,
             {_t_sql('b', 'eb', 'duckdb')} AS tb
      FROM l1
    ),
    l3 AS (
      SELECT diff,
             {_ql_sql('ea', 'ta', 'duckdb')} AS qa,
             {_ql_sql('eb', 'tb', 'duckdb')} AS qb
      FROM l2
    ),
    s AS (
      SELECT CAST(SUM(diff * (qa - qb)) AS BIGINT) AS psi_scaled,
             CAST(COUNT(*) AS BIGINT) AS n_value_buckets
      FROM l3
    )
    SELECT (SELECT n1 FROM vt) AS n1,
           (SELECT n2 FROM vt) AS n2,
           (SELECT n_value_buckets FROM s) AS n_value_buckets,
           (SELECT psi_scaled FROM s) AS psi_scaled,
           CAST(CASE WHEN (SELECT n1 FROM vt) = 0 OR (SELECT n2 FROM vt) = 0
                THEN NULL
                ELSE (1000 * (SELECT psi_scaled FROM s))
                     // ((SELECT n1 FROM vt) * (SELECT n2 FROM vt) * 1024) END
             AS BIGINT) AS psi_permille_log2
    """


@query("psi_drift_vs_baseline", oracle=_psi_oracle())
def psi_drift_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the batch against the PERSISTED
    value-grid profile — the third monitor on the same grid the KS and
    TVD twins attest, in log2 base with ε-clipped zero cells (module
    comment derives the exact-integer recipe and its bounds). The
    comparison plan scans the batch events once plus the profile
    parquet; the baseline's raw rows are never rescanned."""
    root = _fixture_profile(spark, sf_dir)
    batch_counts = (
        _batch_events(spark, sf_dir, root)
        .filter(F.col("has_v"))
        .groupBy("vq")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    return compare_batch_psi_to_profile(spark, batch_counts, root)


# ---------------------------------------------------------------------------
# Multi-day profile history with retention (VERDICT r14 item 4): what a
# deployed monitor actually keeps — one profile per day, comparison
# against ANY kept day, and a vacuum that bounds the store.
# ---------------------------------------------------------------------------
#
# The fixture has no external calendar, so "days" are the corpus's us
# quartiles: quarters 0-2 are the persisted baseline days (day0 the
# oldest), quarter 3 is today's batch. Each day dir reuses the single-
# profile layout (grid/ types/ meta/) so compare_batch_to_profile
# works unchanged against any day; a one-row bounds/ parquet persists
# (lo, span) so the batch filter replays without rescanning history.
# Retention is the lakehouse vacuum pattern scoped to profiles: keep
# the newest PROFILE_RETENTION_KEEP days, delete the rest — deletes
# walk oldest-first so a crash mid-vacuum leaves a re-vacuumable
# store (the r13 GC-ordering rule).

_HISTORY_DAYS = 3  # persisted baseline days; quarter 3 is the batch
PROFILE_RETENTION_KEEP = 2


def _day_expr(us_col: str, lo: int, span: int) -> str:
    """Quartile index 0..3 of ``us_col`` — pure integer, identical in
    both dialects (dividend is always non-negative)."""
    return f"(({us_col} - {lo}) * 4) div {span}"


def _profile_history(spark: SparkSession, sf_dir: str) -> str:
    """Root of the date-keyed profile store, built once per scenario."""
    return scenario(
        spark, sf_dir, "drifthist",
        lambda root: _build_profile_history(spark, sf_dir, root),
    )


def _build_profile_history(spark: SparkSession, sf_dir: str, root: str) -> str:
    """Build under ``root`` the date-keyed profile store: day0/ day1/
    day2/ each holding grid/ types/ meta/, plus bounds/ with the
    (lo, span) the day split derives from. One events
    scan per day job — in production each day's job ran on that day;
    here they amortize into the fixture build exactly like
    _build_fixture_profile."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.floor(F.col("value") * 100.0).cast("long").alias("vq"),
        F.col("value").isNotNull().alias("has_v"),
        "event_type",
    )
    b = ev.agg(
        F.min("us").alias("lo"), F.max("us").alias("hi")
    ).first()  # bounded: one scalar row (the day-split bounds)
    # empty corpus: no split exists — same short-circuit as the
    # single-profile build (ADVICE r14); every day profile is empty
    lo = b["lo"] if b["lo"] is not None else 0
    span = (b["hi"] - lo + 1) if b["hi"] is not None else 1
    dayq = F.expr(_day_expr("us", lo, span))
    # ONE events scan per artifact kind for ALL days (not one per
    # day): aggregate (day, key) counts first — value-space / |types|
    # bounded × 3 days — materialize the bounded result, and cut each
    # day's parquet from it. 2 corpus scans + 6 bounded writes instead
    # of 6 corpus scans.
    grid_all = (
        ev.filter(F.col("has_v") & (dayq < _HISTORY_DAYS))
        .groupBy(dayq.alias("dayq"), F.col("vq"))
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .localCheckpoint(eager=True)
    )
    types_all = (
        ev.filter(dayq < _HISTORY_DAYS)
        .groupBy(dayq.alias("dayq"), F.col("event_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .localCheckpoint(eager=True)
    )
    for d in range(_HISTORY_DAYS):
        day_root = os.path.join(root, f"day{d}")
        grid_all.filter(F.col("dayq") == d).select("vq", "c1").write.mode(
            "overwrite"
        ).parquet(os.path.join(day_root, "grid"))
        types_all.filter(F.col("dayq") == d).select(
            "event_type", "c1"
        ).write.mode("overwrite").parquet(os.path.join(day_root, "types"))
        n1 = (
            spark.read.parquet(os.path.join(day_root, "grid"))
            .agg(F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n"))
            .first()["n"]
        )  # bounded scalar over the value-space-bounded day grid
        n1_all = (
            spark.read.parquet(os.path.join(day_root, "types"))
            .agg(F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n"))
            .first()["n"]
        )  # bounded scalar over the |types|-bounded day grid
        # meta.mid carries the day's END boundary (informational — the
        # batch filter replays from bounds/, not from any day's meta)
        day_end = lo + ((d + 1) * span) // 4
        spark.range(1).select(
            F.lit(int(day_end)).cast("long").alias("mid"),
            F.lit(int(n1)).cast("long").alias("n1"),
            F.lit(int(n1_all)).cast("long").alias("n1_all"),
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(day_root, "meta")
        )
    spark.range(1).select(
        F.lit(int(lo)).cast("long").alias("lo"),
        F.lit(int(span)).cast("long").alias("span"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "bounds"))
    return root


def vacuum_profile_history(
    root: str, keep: int = PROFILE_RETENTION_KEEP
) -> int:
    """Delete all but the newest ``keep`` day profiles under ``root``;
    returns how many were removed. Oldest-first so an interrupted
    vacuum leaves a prefix-deleted, re-vacuumable store; lenient to
    already-missing dirs (same contract as lakehouse.vacuum)."""
    import shutil

    # NUMERIC day order — lexicographic names would put day10 before
    # day2 and vacuum the wrong days once a store holds 10+ of them
    # (review r15; unreachable at _HISTORY_DAYS=3 but this is the
    # reusable retention primitive)
    days = sorted(
        (
            d
            for d in os.listdir(root)
            if d.startswith("day") and os.path.isdir(os.path.join(root, d))
        ),
        key=lambda d: int(d[3:]),
    )
    drop = days[: max(len(days) - keep, 0)]
    for d in drop:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return len(drop)


_HISTORY_EV_CTE = """
    ev AS (
      SELECT epoch_us(ts) AS us,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS vq,
             value IS NOT NULL AS has_v,
             event_type
      FROM events
    ),
    bnds AS (SELECT MIN(us) AS lo, MAX(us) - MIN(us) + 1 AS span FROM ev),
    q AS (
      SELECT vq, has_v, event_type,
             ((us - (SELECT lo FROM bnds)) * 4) // (SELECT span FROM bnds)
               AS dayq
      FROM ev
    )"""


@query(
    "profile_history_day_compare",
    # Replays the day-1 profile AND the quarter-3 batch from raw
    # events with the same quartile split, then the standard exact-
    # integer KS chain — the compare-against-any-day claim: day 1 is
    # NOT the latest profile (day 2 is).
    oracle=f"""
    WITH {_HISTORY_EV_CTE},
    counts AS (
      SELECT vq,
             CAST(SUM(CASE WHEN dayq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN dayq = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM q WHERE has_v AND dayq IN (1, 3) GROUP BY vq
    ),
    ecdf AS (
      SELECT vq,
             CAST(SUM(c1) OVER (ORDER BY vq) AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER (ORDER BY vq) AS BIGINT) AS cum2
      FROM counts
    ),
    vt AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM counts
    )
    SELECT (SELECT n1 FROM vt) AS n1,
           (SELECT n2 FROM vt) AS n2,
           CAST(COUNT(*) AS BIGINT) AS n_value_buckets,
           CAST(MAX(ABS(cum1 * (SELECT n2 FROM vt)
                        - cum2 * (SELECT n1 FROM vt))) AS BIGINT)
             AS max_scaled_gap,
           CAST(CASE WHEN (SELECT n1 FROM vt) = 0 OR (SELECT n2 FROM vt) = 0
                THEN NULL
                ELSE (1000 * MAX(ABS(cum1 * (SELECT n2 FROM vt)
                                     - cum2 * (SELECT n1 FROM vt))))
                     // ((SELECT n1 FROM vt) * (SELECT n2 FROM vt)) END
             AS BIGINT) AS ks_permille,
           CAST(1 AS BIGINT) AS baseline_day
    FROM ecdf
    """,
)
def profile_history_day_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift of today's batch (quarter 3) against a NON-LATEST day
    profile (day 1 of 0..2) — the compare-against-any-day shape a real
    monitor deploys (was yesterday already drifting, or only today?).
    The comparison plan reads the batch events once plus day 1's grid
    parquet; no other day and no baseline raw rows are touched —
    compare_batch_to_profile is reused unchanged against the day dir."""
    root = _profile_history(spark, sf_dir)
    b = spark.read.parquet(os.path.join(root, "bounds")).first()
    # bounded scalar; inlined so the batch filter is a literal
    # predicate (in production: the partition-pruning bound)
    dayq = F.expr(_day_expr("us", b["lo"], b["span"]))
    batch_counts = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
            F.floor(F.col("value") * 100.0).cast("long").alias("vq"),
            F.col("value").isNotNull().alias("has_v"),
        )
        .filter(F.col("has_v") & (dayq == 3))
        .groupBy("vq")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    return compare_batch_to_profile(
        spark, batch_counts, os.path.join(root, "day1")
    ).selectExpr("*", "CAST(1 AS BIGINT) AS baseline_day")


@query(
    "profile_history_retention_audit",
    # One row per SURVIVING day (the newest PROFILE_RETENTION_KEEP =
    # days 1 and 2), replayed from raw events; n_days_removed pins
    # that the vacuum deleted exactly day 0.
    oracle=f"""
    WITH {_HISTORY_EV_CTE}
    SELECT CAST(1 AS BIGINT) AS day,
           CAST(COUNT(DISTINCT CASE WHEN has_v THEN vq END) AS BIGINT)
             AS n_value_buckets,
           CAST(COALESCE(SUM(CASE WHEN has_v THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n1,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n1_all,
           CAST(1 AS BIGINT) AS n_days_removed
    FROM q WHERE dayq = 1
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN has_v THEN vq END) AS BIGINT),
           CAST(COALESCE(SUM(CASE WHEN has_v THEN 1 ELSE 0 END), 0)
             AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(1 AS BIGINT)
    FROM q WHERE dayq = 2
    """,
)
def profile_history_retention_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vacuum the profile store to the newest PROFILE_RETENTION_KEEP
    days, then audit what survived — reading ONLY the profile parquet
    (grid row counts, count sums, type counts per kept day; no raw
    table in the plan). The oracle replays each surviving day from raw
    events, so a vacuum that deleted the wrong day, or a profile that
    mis-counted, both go red. n_days_removed is the session's actual
    unlink count (cached at first vacuum — later calls are no-ops on
    an already-retained store), pinned against the oracle's expected
    1."""
    root = _profile_history(spark, sf_dir)
    removed = scenario(
        spark, sf_dir, "drifthistvac", lambda _work: vacuum_profile_history(root)
    )
    days = sorted(
        int(d[3:])
        for d in os.listdir(root)
        if d.startswith("day") and os.path.isdir(os.path.join(root, d))
    )
    parts = []
    for d in days:
        day_root = os.path.join(root, f"day{d}")
        g = spark.read.parquet(os.path.join(day_root, "grid")).agg(
            F.count(F.lit(1)).cast("long").alias("n_value_buckets"),
            F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n1"),
        )
        t = spark.read.parquet(os.path.join(day_root, "types")).agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n1_all"),
        )
        parts.append(
            g.crossJoin(F.broadcast(t)).selectExpr(
                f"CAST({d} AS BIGINT) AS day",
                "n_value_buckets",
                "n1",
                "n_types",
                "n1_all",
                f"CAST({removed} AS BIGINT) AS n_days_removed",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Streaming micro-batch-vs-profile monitor (VERDICT r14 item 3): the
# daily-cadence production loop — each drained micro-batch compared
# against the persisted profile as it arrives.
# ---------------------------------------------------------------------------

def _run_stream_drift(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "sdrift",
        lambda work: _build_stream_drift(spark, sf_dir, work),
    )


def _build_stream_drift(spark: SparkSession, sf_dir: str, work: str) -> dict:
    """Spool the batch-side events into 3 parquet files, stream them
    back one file per trigger (maxFilesPerTrigger=1 → exactly 3
    micro-batches), and in each foreachBatch: (a) run the batch
    through compare_batch_to_profile — the per-arrival monitor row the
    reference's daily cadence implies (function.json:6) — and (b)
    persist the batch's value counts under its BATCH ID. Re-delivery
    of a batch after a crash overwrites its own counts dir, so the
    accumulated state is idempotent by construction (the CDC stream's
    exactly-once-effect discipline, via overwrite instead of MERGE).
    The parity result is the accumulated state's comparison, which is
    batching-invariant: counts commute, so any drain schedule must
    reproduce the direct two-sample KS bit-for-bit."""
    from jobminer_spark.streaming.windows import pinned_drain_shuffle

    root = _fixture_profile(spark, sf_dir)
    spool = os.path.join(work, "spool")

    # Spool the batch side as 3 files — the "3 daily drops" fixture.
    # Already-quantized longs (no NTZ timestamp in the stream schema,
    # so no session-tz sensitivity on the streaming read).
    _batch_events(spark, sf_dir, root).select(
        "us", "vq", "has_v", "event_type"
    ).repartition(3).write.mode("overwrite").parquet(spool)

    monitor_rows_seen = [0]  # count only — keeping the rows would
    # pin them (and the closure) in the memo for the session

    def monitor_batch(bdf: DataFrame, bid: int) -> None:
        sp = bdf.sparkSession
        bcounts = (
            bdf.filter(F.col("has_v"))
            .groupBy("vq")
            .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        )
        # the monitor row for THIS arrival — one bounded row per batch
        row = compare_batch_to_profile(sp, bcounts, root).first()
        assert row is not None, "per-batch monitor produced no row"
        monitor_rows_seen[0] += 1
        # batch-id-keyed state: overwrite-idempotent under re-delivery
        bcounts.write.mode("overwrite").parquet(
            os.path.join(work, "state", f"batch_{bid:05d}")
        )

    with pinned_drain_shuffle(spark):
        q = (
            spark.readStream.schema(
                "us long, vq long, has_v boolean, event_type string"
            )
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .load(spool)
            .writeStream.foreachBatch(monitor_batch)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    state_root = os.path.join(work, "state")
    dirs = (
        sorted(
            os.path.join(state_root, d)
            for d in os.listdir(state_root)
            if d.startswith("batch_")
        )
        if os.path.isdir(state_root)
        else []
    )
    if dirs:
        acc = (
            spark.read.parquet(*dirs)
            .groupBy("vq")
            .agg(F.sum("c2").cast("long").alias("c2"))
        )
    else:  # degenerate empty batch side: typed empty counts
        acc = spark.createDataFrame([], "vq long, c2 long")
    final = (
        compare_batch_to_profile(spark, acc, root)
        .selectExpr(
            "*", f"CAST({len(dirs)} AS BIGINT) AS n_micro_batches"
        )
        .first()
    )
    return {"row": final.asDict(), "n_batches": len(dirs)}


@query(
    "stream_drift_profile_parity",
    # The union of all drained batches IS the batch side, so the
    # accumulated comparison must reproduce the direct two-sample KS
    # bit-for-bit — the same replayed SQL the ks twins share — and
    # the 3-file spool under maxFilesPerTrigger=1 pins the drain to
    # exactly 3 micro-batches.
    oracle=(
        "WITH base AS (" + ORACLES["ks_drift_event_values"] + ")\n"
        "    SELECT base.*, CAST(3 AS BIGINT) AS n_micro_batches FROM base"
    ),
)
def stream_drift_profile_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production monitoring loop run for real: readStream over
    the spooled batch-side drops, one micro-batch per file, each batch
    driven through compare_batch_to_profile on arrival, each batch's
    counts persisted under its batch id (re-delivery overwrites — the
    accumulated state is idempotent), and the accumulated state
    compared at the end. Returns that final comparison plus the drain's
    micro-batch count; the oracle replays the two-sample KS from raw
    and pins n_micro_batches = 3."""
    s = _run_stream_drift(spark, sf_dir)
    r = s["row"]
    return spark.range(1).select(
        F.lit(r["n1"]).cast("long").alias("n1"),
        F.lit(r["n2"]).cast("long").alias("n2"),
        F.lit(r["n_value_buckets"]).cast("long").alias("n_value_buckets"),
        F.lit(r["max_scaled_gap"]).cast("long").alias("max_scaled_gap"),
        F.lit(r["ks_permille"]).cast("long").alias("ks_permille"),
        F.lit(r["n_micro_batches"]).cast("long").alias("n_micro_batches"),
    )


# ---------------------------------------------------------------------------
# Per-source PSI + the alert panel: WHICH source drifted (the PSI twin
# of drift.ks_quality_by_source), and the decision layer that turns the
# three monitors into one actionable row.
# ---------------------------------------------------------------------------


def _psi_from_cells(
    cells: DataFrame,
    group_cols: list[str],
    global_agg: bool = False,
) -> DataFrame:
    """The shared PSI tail: ``cells`` carries (c1, c2, n1, n2) plus
    ``group_cols``; returns one row per group with the ε-clipped
    exact-integer PSI (module comment). Factoring the tail keeps the
    baseline twin and the per-source diagnostic on ONE derivation.

    ``global_agg`` (ungrouped callers only) selects the empty-input
    shape: a global aggregate always yields ONE row (NULL fields on an
    empty frame — the monitor contract of compare_batch_psi_to_
    profile), where the default groupBy yields ZERO rows per absent
    group."""
    if global_agg and group_cols:
        raise ValueError("global_agg requires empty group_cols")
    staged = cells.selectExpr(
        *group_cols,
        "n1",
        "n2",
        "greatest(c2, 1) * n1 - greatest(c1, 1) * n2 AS diff",
        "greatest(greatest(c2, 1) * n1, 1) AS a",
        "greatest(greatest(c1, 1) * n2, 1) AS b",
    )
    l1 = staged.selectExpr(
        "*", f"{_e_sql('a')} AS ea", f"{_e_sql('b')} AS eb"
    )
    l2 = l1.selectExpr(
        *group_cols, "n1", "n2", "diff", "ea", "eb",
        f"{_t_sql('a', 'ea', 'spark')} AS ta",
        f"{_t_sql('b', 'eb', 'spark')} AS tb",
    )
    l3 = l2.selectExpr(
        *group_cols, "n1", "n2", "diff",
        f"{_ql_sql('ea', 'ta', 'spark')} AS qa",
        f"{_ql_sql('eb', 'tb', 'spark')} AS qb",
    )
    if global_agg:
        agged = l3.agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.count(F.lit(1)).cast("long").alias("n_value_buckets"),
            F.sum(F.expr("diff * (qa - qb)")).cast("long").alias(
                "psi_scaled"
            ),
        )
        return agged.selectExpr(
            "n1",
            "n2",
            "n_value_buckets",
            "psi_scaled",
            "CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL"
            " ELSE (1000 * psi_scaled) div (n1 * n2 * 1024) END AS BIGINT)"
            " AS psi_permille_log2",
        )
    grouped = (
        l3.groupBy(*group_cols, "n1", "n2")
        if group_cols
        else l3.groupBy("n1", "n2")
    )
    return grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n_value_buckets"),
        F.sum(F.expr("diff * (qa - qb)")).cast("long").alias("psi_scaled"),
    ).selectExpr(
        *group_cols,
        "n1",
        "n2",
        "n_value_buckets",
        "psi_scaled",
        "CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL"
        " ELSE (1000 * psi_scaled) div (n1 * n2 * 1024) END AS BIGINT)"
        " AS psi_permille_log2",
    )


def _psi_by_source_oracle() -> str:
    """Per-source PSI oracle: the quality-score grid and source-vs-rest
    counts replayed exactly like ks_quality_by_source, then the same
    integer PSI cell chain the baseline twin uses — generated from the
    shared helper functions."""
    from jobminer_spark.operators.textanalysis import quality_cte

    return f"""
    WITH {quality_cte()},
    src AS (
      SELECT q.doc_id, d.source,
             CAST(FLOOR(q.quality_score * 10000.0) AS BIGINT) AS vq
      FROM qual q JOIN documents d ON d.doc_id = q.doc_id
    ),
    counts AS (
      SELECT source, vq, CAST(COUNT(*) AS BIGINT) AS c
      FROM src GROUP BY source, vq
    ),
    grid AS (SELECT DISTINCT vq FROM counts),
    srcs AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
    tc AS (SELECT vq, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY vq),
    cells AS (
      SELECT s.source,
             (SELECT n FROM tot) - s.n_s AS n1,
             s.n_s AS n2,
             GREATEST(COALESCE(c.c, 0), 1)
               * ((SELECT n FROM tot) - s.n_s)
               - GREATEST(t.t - COALESCE(c.c, 0), 1) * s.n_s AS diff,
             GREATEST(GREATEST(COALESCE(c.c, 0), 1)
               * ((SELECT n FROM tot) - s.n_s), 1) AS a,
             GREATEST(GREATEST(t.t - COALESCE(c.c, 0), 1) * s.n_s, 1) AS b
      FROM grid g
      CROSS JOIN srcs s
      JOIN tc t ON t.vq = g.vq
      LEFT JOIN counts c ON c.source = s.source AND c.vq = g.vq
    ),
    l1 AS (
      SELECT source, n1, n2, diff, a, b,
             {_e_sql('a')} AS ea, {_e_sql('b')} AS eb
      FROM cells
    ),
    l2 AS (
      SELECT source, n1, n2, diff, ea, eb,
             {_t_sql('a', 'ea', 'duckdb')} AS ta,
             {_t_sql('b', 'eb', 'duckdb')} AS tb
      FROM l1
    ),
    l3 AS (
      SELECT source, n1, n2, diff,
             {_ql_sql('ea', 'ta', 'duckdb')} AS qa,
             {_ql_sql('eb', 'tb', 'duckdb')} AS qb
      FROM l2
    )
    SELECT source,
           n1, n2,
           CAST(COUNT(*) AS BIGINT) AS n_value_buckets,
           CAST(SUM(diff * (qa - qb)) AS BIGINT) AS psi_scaled,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                ELSE (1000 * CAST(SUM(diff * (qa - qb)) AS BIGINT))
                     // (n1 * n2 * 1024) END AS BIGINT)
             AS psi_permille_log2
    FROM l3 GROUP BY source, n1, n2
    """


@query("psi_quality_by_source", oracle=_psi_by_source_oracle())
def psi_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH source drifted, in PSI terms: each source's quality-score
    distribution against the REST of the corpus — the magnitude-scaled
    companion of ks_quality_by_source (KS finds the worst single gap;
    PSI accumulates every cell's contribution, the number monitoring
    teams threshold). Baseline = rest (rest_c = total_c − src_c, no
    second pass), comparison = the source; same ε-clip and fixed-point
    log2 as psi_drift_vs_baseline.

    Scale shape: one documents scan → (source, bucket) counts with
    map-side combine; the fill frame is grid × |sources| — corpus-
    size-independent — and PSI needs no ECDF, so there is no window
    anywhere: keyed joins on the bounded frame only."""
    from jobminer_spark.operators.textanalysis import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    src = quality_scores(docs, extra_cols=("source",)).select(
        "source",
        F.floor(F.col("quality_score") * 10000.0).cast("long").alias("vq"),
    )
    counts = src.groupBy("source", "vq").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = counts.select("vq").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    tot = counts.agg(F.sum("c").cast("long").alias("n"))
    tc = counts.groupBy("vq").agg(F.sum("c").cast("long").alias("t"))
    cells = (
        grid.crossJoin(F.broadcast(srcs))
        .join(tc, "vq")
        .join(counts, ["source", "vq"], "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n - n_s AS n1",
            "n_s AS n2",
            "COALESCE(c, 0) AS c2r",
            "t - COALESCE(c, 0) AS c1r",
        )
        .selectExpr(
            "source", "n1", "n2",
            "c1r AS c1",
            "c2r AS c2",
        )
    )
    return _psi_from_cells(cells, ["source"])


# Alert thresholds (permille / millibit units, stated constants): the
# decision layer a monitoring deployment wires to paging. KS and TVD
# alarm at 50‰; PSI's industry rule-of-thumb 0.1/0.25 (natural log)
# maps to ~144/361 permille-log2 (÷ln2) — 144 is the "investigate"
# line used here.
ALERT_KS_PERMILLE = 50
ALERT_TVD_PERMILLE = 50
ALERT_PSI_PERMILLE_LOG2 = 144


@query(
    "drift_alert_panel",
    # Each monitor's full oracle runs as its own CTE (nested WITHs are
    # subquery-scoped), then one row of thresholded verdicts — the
    # alert bits are recomputed by the oracle, not copied.
    oracle=None,  # assigned below: composed from the three twins
)
def drift_alert_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three persisted-profile monitors folded into ONE actionable
    row: each statistic plus its thresholded alert bit and the overall
    any_alert — what a daily cadence actually pages on. All three
    comparisons run against the same persisted profile (one build,
    plan shape unchanged); thresholds are stated integer constants so
    the row is exact cross-engine."""
    root = _fixture_profile(spark, sf_dir)
    batch = _batch_events(spark, sf_dir, root)
    vcounts = (
        batch.filter(F.col("has_v"))
        .groupBy("vq")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .localCheckpoint(eager=True)  # one batch scan serves KS + PSI
    )
    tcounts = batch.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    ks = compare_batch_to_profile(spark, vcounts, root).selectExpr(
        "ks_permille"
    )
    tvd = compare_batch_types_to_profile(spark, tcounts, root).selectExpr(
        "tvd_permille"
    )
    psi = compare_batch_psi_to_profile(spark, vcounts, root).selectExpr(
        "psi_permille_log2"
    )
    return (
        ks.crossJoin(F.broadcast(tvd))
        .crossJoin(F.broadcast(psi))
        .selectExpr(
            "ks_permille",
            "tvd_permille",
            "psi_permille_log2",
            f"CAST(CASE WHEN ks_permille > {ALERT_KS_PERMILLE} THEN 1"
            " ELSE 0 END AS BIGINT) AS ks_alert",
            f"CAST(CASE WHEN tvd_permille > {ALERT_TVD_PERMILLE} THEN 1"
            " ELSE 0 END AS BIGINT) AS tvd_alert",
            f"CAST(CASE WHEN psi_permille_log2 > {ALERT_PSI_PERMILLE_LOG2}"
            " THEN 1 ELSE 0 END AS BIGINT) AS psi_alert",
            f"CAST(CASE WHEN ks_permille > {ALERT_KS_PERMILLE}"
            f" OR tvd_permille > {ALERT_TVD_PERMILLE}"
            f" OR psi_permille_log2 > {ALERT_PSI_PERMILLE_LOG2}"
            " THEN 1 ELSE 0 END AS BIGINT) AS any_alert",
        )
    )


# The panel's oracle: the three monitors' full replay SQLs as nested
# CTEs plus the same stated thresholds.
ORACLES["drift_alert_panel"] = f"""
    WITH ks_m AS ({ORACLES["ks_drift_event_values"]}),
    tvd_m AS ({ORACLES["tvd_drift_event_types"]}),
    psi_m AS ({_psi_oracle()})
    SELECT (SELECT ks_permille FROM ks_m) AS ks_permille,
           (SELECT tvd_permille FROM tvd_m) AS tvd_permille,
           (SELECT psi_permille_log2 FROM psi_m) AS psi_permille_log2,
           CAST(CASE WHEN (SELECT ks_permille FROM ks_m)
                > {ALERT_KS_PERMILLE} THEN 1 ELSE 0 END AS BIGINT)
             AS ks_alert,
           CAST(CASE WHEN (SELECT tvd_permille FROM tvd_m)
                > {ALERT_TVD_PERMILLE} THEN 1 ELSE 0 END AS BIGINT)
             AS tvd_alert,
           CAST(CASE WHEN (SELECT psi_permille_log2 FROM psi_m)
                > {ALERT_PSI_PERMILLE_LOG2} THEN 1 ELSE 0 END AS BIGINT)
             AS psi_alert,
           CAST(CASE WHEN (SELECT ks_permille FROM ks_m)
                  > {ALERT_KS_PERMILLE}
                OR (SELECT tvd_permille FROM tvd_m)
                  > {ALERT_TVD_PERMILLE}
                OR (SELECT psi_permille_log2 FROM psi_m)
                  > {ALERT_PSI_PERMILLE_LOG2}
                THEN 1 ELSE 0 END AS BIGINT) AS any_alert
"""
