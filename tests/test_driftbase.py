"""Persisted-baseline drift monitor (driftbase.py): the profile path
must reproduce the direct two-sample KS bit-for-bit, reuse its cached
profile, and never rescan the baseline's raw rows on the comparison."""

from __future__ import annotations

import os

from jobminer_spark.operators.drift import ks_drift_event_values
from jobminer_spark.operators.driftbase import ks_drift_vs_baseline
from tests.conftest import SF_DIR, stored_scenario


def test_baseline_path_equals_direct_two_sample(spark):
    """Same grid union, same integer cross-multiplied KS: the
    persisted-profile computation and the direct in-plan two-sample
    computation must agree on every output cell."""
    (a,) = ks_drift_vs_baseline(spark, SF_DIR).collect()
    (b,) = ks_drift_event_values(spark, SF_DIR).collect()
    assert a.asDict() == b.asDict()
    assert a["n_value_buckets"] > 0 and a["ks_permille"] is not None


def test_profile_is_built_once_and_reused(spark):
    """The second call must hit the session cache — the grid parquet's
    mtime is untouched and the cache key resolves to the same root."""
    ks_drift_vs_baseline(spark, SF_DIR).collect()
    root = stored_scenario(spark, SF_DIR, "driftbase")
    grid_dir = os.path.join(root, "grid")
    mtime = os.path.getmtime(grid_dir)
    ks_drift_vs_baseline(spark, SF_DIR).collect()
    assert stored_scenario(spark, SF_DIR, "driftbase") == root
    assert os.path.getmtime(grid_dir) == mtime


def test_profile_totals_match_grid(spark):
    """meta.n1 is definitionally the grid's count sum, and mid splits
    the corpus so n1 + n2 covers every non-null-value event."""
    from pyspark.sql import functions as F

    from jobminer_spark.sources import load_table

    ks_drift_vs_baseline(spark, SF_DIR).collect()  # ensure built
    root = stored_scenario(spark, SF_DIR, "driftbase")
    (meta,) = spark.read.parquet(os.path.join(root, "meta")).collect()
    gsum = (
        spark.read.parquet(os.path.join(root, "grid"))
        .agg(F.sum("c1").alias("s"))
        .first()["s"]
    )
    assert meta["n1"] == gsum
    (row,) = ks_drift_vs_baseline(spark, SF_DIR).collect()
    n_valued = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .count()
    )
    assert row["n1"] + row["n2"] == n_valued


def test_tvd_baseline_path_equals_direct_two_sample(spark):
    """The categorical twin: the persisted type-count-profile TVD must
    equal the direct two-sample TVD on every output cell."""
    from jobminer_spark.operators.drift import tvd_drift_event_types
    from jobminer_spark.operators.driftbase import tvd_drift_vs_baseline

    (a,) = tvd_drift_vs_baseline(spark, SF_DIR).collect()
    (b,) = tvd_drift_event_types(spark, SF_DIR).collect()
    assert a.asDict() == b.asDict()
    assert a["n_types"] > 0 and a["tvd_permille"] is not None


def test_profile_serves_both_monitors_from_one_build(spark):
    """ks_drift_vs_baseline and tvd_drift_vs_baseline share one
    profile root: running either first builds it; the other reuses it
    (grid mtimes untouched by the second call)."""
    from jobminer_spark.operators.driftbase import (
        ks_drift_vs_baseline,
        tvd_drift_vs_baseline,
    )

    ks_drift_vs_baseline(spark, SF_DIR).collect()
    root = stored_scenario(spark, SF_DIR, "driftbase")
    mtimes = {
        d: os.path.getmtime(os.path.join(root, d))
        for d in ("grid", "types", "meta")
    }
    tvd_drift_vs_baseline(spark, SF_DIR).collect()
    for d, m in mtimes.items():
        assert os.path.getmtime(os.path.join(root, d)) == m


def test_baseline_monitors_on_adversarial_nulls_and_one_sided_types(
    spark, tmp_path
):
    """The standard fixture carries no null-valued events, so the
    profile path's has_v branch (KS counts non-null values only, TVD
    counts EVERY event) and the full-outer grid union's one-sided
    cases are exercised here instead: nulls in both halves, a value
    bucket that exists only in the baseline, one only in the batch,
    an event type that vanishes after the split and one born after
    it. Both persisted-profile monitors must still equal their
    direct two-sample twins cell-for-cell."""
    from tests.test_analytics import _write_events_adversarial

    from jobminer_spark.operators.drift import (
        ks_drift_event_values,
        tvd_drift_event_types,
    )
    from jobminer_spark.operators.driftbase import (
        ks_drift_vs_baseline,
        tvd_drift_vs_baseline,
    )

    h = 3_600_000_000  # one hour in epoch µs; span 0..10h, mid = 5h
    rows = [
        # first half: values 1.00/2.00, types A (dies at mid), B
        (1, 0 * h, 1, "A", 1.00),
        (2, 1 * h, 1, "A", None),  # null value, counted by TVD only
        (3, 2 * h, 2, "B", 2.00),  # bucket 200 exists ONLY here
        (4, 3 * h, 2, "B", 1.00),
        (5, 4 * h, 3, "A", None),
        # second half: type C born after mid, bucket 300 only here
        (6, 6 * h, 1, "B", 1.00),
        (7, 7 * h, 2, "C", 3.00),
        (8, 8 * h, 3, "C", None),
        (9, 9 * h, 1, "B", 3.00),
        (10, 10 * h, 2, "C", 1.00),
    ]
    _write_events_adversarial(tmp_path, rows)
    sf = str(tmp_path)

    (ka,) = ks_drift_vs_baseline(spark, sf).collect()
    (kb,) = ks_drift_event_values(spark, sf).collect()
    assert ka.asDict() == kb.asDict()
    # non-null halves: 3 vs 4 values; union grid {100, 200, 300}
    assert (ka["n1"], ka["n2"], ka["n_value_buckets"]) == (3, 4, 3)

    (ta,) = tvd_drift_vs_baseline(spark, sf).collect()
    (tb,) = tvd_drift_event_types(spark, sf).collect()
    assert ta.asDict() == tb.asDict()
    # TVD counts nulls too: 5 vs 5 events; union types {A, B, C}
    assert (ta["n1"], ta["n2"], ta["n_types"]) == (5, 5, 3)
    # A: 3/5 vs 0/5, B: 2/5 vs 2/5, C: 0/5 vs 3/5 -> TVD = 3/5
    assert ta["tvd_permille"] == 600


def test_profile_roots_distinct_for_same_basename_dirs(spark, tmp_path):
    """Two sf_dirs sharing a basename must get DISTINCT profile roots
    — a basename-keyed root would let the second build overwrite the
    first's profile while both cache entries still pointed at it."""
    from tests.test_analytics import _write_events_adversarial

    from jobminer_spark.operators.driftbase import ks_drift_vs_baseline

    h = 3_600_000_000
    rows_a = [(i, i * h, 1, "A", 1.0 * i) for i in range(1, 7)]
    rows_b = [(i, i * h, 1, "B", 2.0 * i) for i in range(1, 11)]
    da = tmp_path / "one" / "sfX"
    db = tmp_path / "two" / "sfX"
    da.mkdir(parents=True)
    db.mkdir(parents=True)
    _write_events_adversarial(da, rows_a)
    _write_events_adversarial(db, rows_b)
    (ra,) = ks_drift_vs_baseline(spark, str(da)).collect()
    (rb,) = ks_drift_vs_baseline(spark, str(db)).collect()
    roots = {
        stored_scenario(spark, str(da), "driftbase"),
        stored_scenario(spark, str(db), "driftbase"),
    }
    assert len(roots) == 2
    # and the first dir's cached result is still ITS data, not b's
    (ra2,) = ks_drift_vs_baseline(spark, str(da)).collect()
    assert ra2.asDict() == ra.asDict()
    assert ra["n1"] + ra["n2"] == len(rows_a)
    assert rb["n1"] + rb["n2"] == len(rows_b)


def test_profile_cache_invalidates_when_data_changes_under_same_path(
    spark, tmp_path
):
    """ADVICE r14: rewriting the dataset under the SAME sf_dir within
    one Spark session must not silently reuse the stale persisted
    profile — the cache key folds in a (size, mtime) fingerprint of
    the events source, so the rewrite resolves to a fresh root and
    the monitor re-agrees with its direct two-sample twin."""
    from tests.test_analytics import _write_events_adversarial

    from jobminer_spark.operators.drift import ks_drift_event_values

    h = 3_600_000_000
    sf = str(tmp_path)
    _write_events_adversarial(
        tmp_path, [(i, i * h, 1, "A", 1.0 * i) for i in range(1, 7)]
    )
    (r1,) = ks_drift_vs_baseline(spark, sf).collect()
    root1 = stored_scenario(spark, sf, "driftbase")
    _write_events_adversarial(
        tmp_path, [(i, i * h, 1, "A", 2.0 * i) for i in range(1, 11)]
    )
    (r2,) = ks_drift_vs_baseline(spark, sf).collect()
    root2 = stored_scenario(spark, sf, "driftbase")
    assert root1 != root2
    assert r2["n1"] + r2["n2"] == 10
    (d,) = ks_drift_event_values(spark, sf).collect()
    assert r2.asDict() == d.asDict()


def test_empty_corpus_degrades_like_direct_twins(spark, tmp_path):
    """ADVICE r14: an empty events table has no split point (min/max
    are NULL). The profile build must short-circuit instead of raising
    on int(None), and BOTH persisted-profile monitors must produce the
    same NULL-permille degenerate row as their direct two-sample
    twins."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from jobminer_spark.operators.drift import (
        ks_drift_event_values,
        tvd_drift_event_types,
    )
    from jobminer_spark.operators.driftbase import tvd_drift_vs_baseline

    table = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    papq.write_table(table, str(tmp_path / "events.parquet"))
    sf = str(tmp_path)

    (ka,) = ks_drift_vs_baseline(spark, sf).collect()
    (kb,) = ks_drift_event_values(spark, sf).collect()
    assert ka.asDict() == kb.asDict()
    assert ka["ks_permille"] is None and ka["n_value_buckets"] == 0

    (ta,) = tvd_drift_vs_baseline(spark, sf).collect()
    (tb,) = tvd_drift_event_types(spark, sf).collect()
    assert ta.asDict() == tb.asDict()
    assert ta["tvd_permille"] is None and ta["n_types"] == 0


# ---------------------------------------------------------------------------
# r15: PSI twin, profile history + retention, streaming monitor
# ---------------------------------------------------------------------------


def test_psi_zero_on_identical_halves(spark, tmp_path):
    """Two identical half-distributions ⇒ every cell's cross-products
    agree and PSI is exactly 0 — the clamped-count formula must not
    invent drift where there is none."""
    from tests.test_analytics import _write_events_adversarial

    from jobminer_spark.operators.driftbase import psi_drift_vs_baseline

    h = 3_600_000_000
    rows = [
        # first half (0..4h): values 1.00, 2.00, 2.00
        (1, 0 * h, 1, "A", 1.00),
        (2, 1 * h, 1, "A", 2.00),
        (3, 2 * h, 1, "A", 2.00),
        # second half (6..10h): same multiset
        (4, 6 * h, 1, "A", 1.00),
        (5, 7 * h, 1, "A", 2.00),
        (6, 10 * h, 1, "A", 2.00),
    ]
    _write_events_adversarial(tmp_path, rows)
    (r,) = psi_drift_vs_baseline(spark, str(tmp_path)).collect()
    assert (r["n1"], r["n2"]) == (3, 3)
    assert r["psi_scaled"] == 0 and r["psi_permille_log2"] == 0


def test_psi_positive_on_shifted_distribution(spark, tmp_path):
    """A clear value shift must produce strictly positive PSI, and the
    one-sided cells (value present in only one half) must flow through
    the ε-clip instead of a log-of-zero."""
    from tests.test_analytics import _write_events_adversarial

    from jobminer_spark.operators.driftbase import psi_drift_vs_baseline

    h = 3_600_000_000
    rows = [(i, i * h, 1, "A", 1.00) for i in range(5)] + [
        (10 + i, (6 + i) * h, 1, "A", 9.00) for i in range(5)
    ]
    _write_events_adversarial(tmp_path, rows)
    (r,) = psi_drift_vs_baseline(spark, str(tmp_path)).collect()
    assert r["psi_scaled"] > 0
    assert r["psi_permille_log2"] is not None and r["psi_permille_log2"] > 0


def test_psi_qlog_matches_python_reference(spark):
    """The Spark fixed-point log2 chain must equal the Python
    bit_length reference value-for-value over both mantissa branches
    and octave boundaries (the same contract the envprobe rows pin as
    two hard literals)."""
    from jobminer_spark.operators.driftbase import _e_sql, _ql_sql, _t_sql

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def ref(x):
        e = x.bit_length() - 1
        m = (x >> (e - 10)) if e >= 10 else (x << (10 - e))
        t = m - 1024
        return 1024 * e + tdiv(
            1461 * t + tdiv(-605 * t * t, 1024)
            + tdiv(169 * t * t * t, 1048576),
            1024,
        )

    xs = [1, 2, 3, 700, 1023, 1024, 1025, 2047, 2048, 123456,
          1234567890123, (1 << 62) - 1]
    df = spark.range(1).selectExpr(
        *[f"CAST({x} AS BIGINT) AS x{i}" for i, x in enumerate(xs)]
    )
    l1 = df.selectExpr(
        "*", *[f"{_e_sql(f'x{i}')} AS e{i}" for i in range(len(xs))]
    )
    l2 = l1.selectExpr(
        "*",
        *[
            f"{_t_sql(f'x{i}', f'e{i}', 'spark')} AS t{i}"
            for i in range(len(xs))
        ],
    )
    (row,) = l2.selectExpr(
        *[
            f"{_ql_sql(f'e{i}', f't{i}', 'spark')} AS q{i}"
            for i in range(len(xs))
        ]
    ).collect()
    for i, x in enumerate(xs):
        assert row[f"q{i}"] == ref(x), (x, row[f"q{i}"], ref(x))


def test_history_retention_keeps_newest_and_is_idempotent(spark):
    """The retention audit vacuums to the newest 2 day profiles (day0
    deleted, days 1-2 kept, n_days_removed = 1) and is a no-op when
    re-run — same rows, day0 still gone, nothing else deleted."""
    from jobminer_spark.operators.driftbase import (
        profile_history_retention_audit,
    )

    rows1 = sorted(
        (
            r.asDict()
            for r in profile_history_retention_audit(spark, SF_DIR).collect()
        ),
        key=lambda d: d["day"],
    )
    assert [d["day"] for d in rows1] == [1, 2]
    assert all(d["n_days_removed"] == 1 for d in rows1)
    assert all(d["n1_all"] > 0 for d in rows1)
    root = stored_scenario(spark, SF_DIR, "drifthist")
    assert not os.path.isdir(os.path.join(root, "day0"))
    assert os.path.isdir(os.path.join(root, "day1"))
    rows2 = sorted(
        (
            r.asDict()
            for r in profile_history_retention_audit(spark, SF_DIR).collect()
        ),
        key=lambda d: d["day"],
    )
    assert rows2 == rows1


def test_history_day_compare_targets_nonlatest_day_and_survives_vacuum(
    spark,
):
    """day_compare reads day 1 — NOT the latest (day 2) — and must
    keep working after retention ran (day 1 is inside the keep set)."""
    from jobminer_spark.operators.driftbase import (
        profile_history_day_compare,
        profile_history_retention_audit,
    )

    profile_history_retention_audit(spark, SF_DIR).collect()  # vacuum ran
    (r,) = profile_history_day_compare(spark, SF_DIR).collect()
    assert r["baseline_day"] == 1
    assert r["n1"] > 0 and r["n2"] > 0 and r["ks_permille"] is not None


def test_stream_drift_parity_matches_direct_twin_and_batch_count(spark):
    """The accumulated streamed comparison must equal the direct
    two-sample KS cell-for-cell, the drain must split into exactly 3
    micro-batches (3 spool files, one per trigger), and each batch
    must have produced its own monitor row."""
    from jobminer_spark.operators.drift import ks_drift_event_values
    from jobminer_spark.operators.driftbase import stream_drift_profile_parity

    (a,) = stream_drift_profile_parity(spark, SF_DIR).collect()
    (b,) = ks_drift_event_values(spark, SF_DIR).collect()
    assert a["n_micro_batches"] == 3
    for k in ("n1", "n2", "n_value_buckets", "max_scaled_gap", "ks_permille"):
        assert a[k] == b[k], (k, a[k], b[k])
    s = stored_scenario(spark, SF_DIR, "sdrift")
    assert s["n_batches"] == 3


def test_psi_by_source_rows_and_sign(spark):
    """One row per source; every PSI is non-negative (the monotone
    qlog makes each cell's term ≥ 0) and the source/rest totals
    complement each other to one corpus."""
    from jobminer_spark.operators.driftbase import psi_quality_by_source

    rows = psi_quality_by_source(spark, SF_DIR).collect()
    assert len(rows) >= 2
    n = rows[0]["n1"] + rows[0]["n2"]
    for r in rows:
        assert r["n1"] + r["n2"] == n  # same corpus from every row
        assert r["psi_scaled"] >= 0
        assert r["psi_permille_log2"] is not None


def test_alert_panel_bits_match_standalone_monitors(spark):
    """The panel's statistics and alert bits must equal what the three
    standalone monitors + the stated thresholds produce."""
    from jobminer_spark.operators.driftbase import (
        ALERT_KS_PERMILLE,
        ALERT_PSI_PERMILLE_LOG2,
        ALERT_TVD_PERMILLE,
        drift_alert_panel,
        psi_drift_vs_baseline,
        tvd_drift_vs_baseline,
    )

    (p,) = drift_alert_panel(spark, SF_DIR).collect()
    (ks,) = ks_drift_vs_baseline(spark, SF_DIR).collect()
    (tvd,) = tvd_drift_vs_baseline(spark, SF_DIR).collect()
    (psi,) = psi_drift_vs_baseline(spark, SF_DIR).collect()
    assert p["ks_permille"] == ks["ks_permille"]
    assert p["tvd_permille"] == tvd["tvd_permille"]
    assert p["psi_permille_log2"] == psi["psi_permille_log2"]
    assert p["ks_alert"] == int(ks["ks_permille"] > ALERT_KS_PERMILLE)
    assert p["tvd_alert"] == int(tvd["tvd_permille"] > ALERT_TVD_PERMILLE)
    assert p["psi_alert"] == int(
        psi["psi_permille_log2"] > ALERT_PSI_PERMILLE_LOG2
    )
    assert p["any_alert"] == max(
        p["ks_alert"], p["tvd_alert"], p["psi_alert"]
    )
