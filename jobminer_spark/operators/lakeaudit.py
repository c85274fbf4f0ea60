"""Driver-attestable audits for the transactional lakehouse layer
(jobminer_spark/lakehouse.py) — MERGE INTO, copy-on-write file
pruning, snapshot-isolation time travel, and optimistic-concurrency
conflict/rebase, each pinned to a DuckDB oracle that recomputes the
expected post-merge state directly from the source table.

Reference semantics anchor: the probe-before-insert + status
lifecycle (JobScraper database.py:106-158, models.py:22) is MERGE —
"key exists ⇒ conditional status transition, else insert". The
scenario replayed here runs that lifecycle on a versioned table:

  v1  CREATE from orders (o_orderkey, o_custkey, o_orderstatus,
      price_q = floor(o_totalprice·100) integer cents)
  v2  MERGE #1: keys < 512 whose status is 'O' transition to 'X'
      (matched-with-condition), keys ≡ 0 (mod 97) re-keyed +1e8
      insert as status 'N' (not-matched)
  —   a COMMIT CONFLICT is then provoked on v2 (exclusive-create
      loses) and must surface as CommitConflict
  v3  MERGE #2: keys in [512, 1024) get price_q + 1 (matched-any)

The whole scenario executes ONCE per (session, fixture) — the three
registered queries read slices of the cached scalars, mirroring the
stream_sink_parity caching discipline (operators/audits.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

_UPD_MAX = 512           # MERGE #1 key range: [0, 512) — bucket 0
_BUMP_LO, _BUMP_HI = 512, 1024  # MERGE #2 key range — also bucket 0
_INS_MOD = 97            # MERGE #1 insert sample: keys ≡ 0 (mod 97)
_INS_OFFSET = 100_000_000  # re-key offset for inserted rows


def _base_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * F.lit(100.0))
        .cast("long")
        .alias("price_q"),
    )


def _run_scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "lake", lambda work: _build_scenario(spark, sf_dir, work)
    )


def _build_scenario(spark: SparkSession, sf_dir: str, table: str) -> dict:
    from jobminer_spark.lakehouse import (
        CommitConflict,
        _commit,
        create_table,
        latest_version,
        merge_into,
        read_snapshot,
    )

    # base feeds the create write AND both MERGE #1 update branches
    # (transitions + inserts): a lazy localCheckpoint materializes it
    # inside the create write's job, and the update branches read the
    # persisted rows instead of re-scanning orders (guide §5).
    base = _base_frame(spark, sf_dir).localCheckpoint(eager=False)
    create_table(spark, table, base, "o_orderkey")
    v1 = read_snapshot(spark, table, 1)

    # v1's stats read an immutable committed snapshot — like the v2
    # stats below it overlaps the next phase (all of MERGE #1) on a
    # helper thread; every job still runs strictly after the commit
    # that defines its snapshot (guide §2.6). Leaving the pool's block
    # awaits both read-backs on every way out, so a merge that raises
    # leaves no job of this query's group running behind it.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    from pyspark import inheritable_thread_target

    # helper threads keep the caller's job group (and other local
    # properties), so their jobs are attributed to this query
    _inherit = inheritable_thread_target(spark)
    with _TPE(max_workers=2) as _readbacks:
        r1_fut = _readbacks.submit(
            _inherit(
                lambda: v1.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("price_q").alias("ck")
                ).first()
            )
        )

        # MERGE #1: conditional status transition + re-keyed inserts
        transitions = base.filter(F.col("o_orderkey") < _UPD_MAX).select(
            "o_orderkey",
            "o_custkey",
            F.lit("X").alias("o_orderstatus"),
            "price_q",
        )
        inserts = base.filter(F.col("o_orderkey") % _INS_MOD == 0).select(
            (F.col("o_orderkey") + _INS_OFFSET).alias("o_orderkey"),
            "o_custkey",
            F.lit("N").alias("o_orderstatus"),
            "price_q",
        )
        m1 = merge_into(
            spark,
            table,
            transitions.unionByName(inserts),
            lambda j: j["o_orderstatus"] == "O",
        )
        v2 = read_snapshot(spark, table, 2)

        # v2's stats read an immutable committed snapshot: it can overlap
        # the conflict provocation (pure filesystem) and MERGE #2 (which
        # reads the same immutable v2 and commits v3) without changing a
        # single value — guide §2.6 job overlap, same as the post-merge
        # read-back pool below.
        r2_fut = _readbacks.submit(
            _inherit(
                lambda: v2.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("price_q").alias("ck"),
                    F.count(F.when(F.col("o_orderstatus") == "X", 1)).alias("nx"),
                    F.count(F.when(F.col("o_orderstatus") == "N", 1)).alias("nn"),
                ).first()
            )
        )

        # provoke a commit conflict: a manifest prepared against v1 tries
        # to publish version 2 AFTER merge #1 won it — the exclusive
        # create must refuse (snapshot-isolation's write-side half)
        n_conflicts = 0
        try:
            _commit(
                table, {"version": 2, "parent": 1, "key_col": "o_orderkey", "files": []}
            )
        except CommitConflict:
            n_conflicts = 1

        # MERGE #2: unconditional price bump on [512, 1024). The latest
        # snapshot here IS v2 (merge #1 committed it; the conflicting
        # commit above must fail), so reuse the already-built v2 frame
        # instead of paying a second read_snapshot frame build — same
        # immutable manifest, same file list.
        bump = (
            v2
            .filter(
                (F.col("o_orderkey") >= _BUMP_LO) & (F.col("o_orderkey") < _BUMP_HI)
            )
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                (F.col("price_q") + 1).alias("price_q"),
            )
        )
        m2 = merge_into(spark, table, bump, lambda j: F.lit(True))
    r1 = r1_fut.result()
    r2 = r2_fut.result()

    # The three post-merge read-backs — v3 stats, the v1 time-travel
    # re-read, and the v1→v3 change feed — are INDEPENDENT jobs over
    # immutable committed snapshots (every one runs strictly after
    # both merges, exactly as before). Overlap them on a small thread
    # pool (guide §2.6) so the scenario's read-back tail costs
    # max(job) instead of the sum of three sequential jobs.
    # One frame build per snapshot for the read-back tail: v3 feeds
    # both the stats agg and the change feed, and the post-merge v1
    # re-read feeds both the time-travel audit and the feed's old
    # side. Both frames are resolved HERE — strictly after both
    # merges — from their immutable manifests, so sharing them
    # changes no value, only the number of driver-side frame builds.
    v3_df = read_snapshot(spark, table, 3)
    v1_df = read_snapshot(spark, table, 1)

    def _r3():
        return v3_df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("price_q").alias("ck")
        ).first()

    def _tt():
        # time travel: v1 re-read AFTER both merges must be byte-stable
        return v1_df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("price_q").alias("ck")
        ).first()

    def _feed():
        # change data feed v1→v3, captured HERE (pre-vacuum: the
        # vacuum audit deletes v1, so the diff must come from the
        # scenario run, not a later read). Bounded: changed +
        # inserted rows only.
        old = v1_df.select(
            "o_orderkey",
            F.col("o_orderstatus").alias("old_status"),
            F.col("price_q").alias("old_price_q"),
        )
        new = v3_df.select(
            "o_orderkey",
            F.col("o_orderstatus").alias("new_status"),
            F.col("price_q").alias("new_price_q"),
        )
        feed = (
            new.join(old, "o_orderkey", "left")
            .select(
                "o_orderkey",
                F.when(F.col("old_status").isNull(), "insert")
                .when(F.col("old_status") != F.col("new_status"), "status")
                .when(F.col("old_price_q") != F.col("new_price_q"), "price")
                .alias("change_type"),
                "old_status",
                "new_status",
                "old_price_q",
                "new_price_q",
            )
            .filter(F.col("change_type").isNotNull())
        )
        return [
            (
                r["o_orderkey"],
                r["change_type"],
                r["old_status"],
                r["new_status"],
                r["old_price_q"],
                r["new_price_q"],
            )
            for r in feed.collect()
        ]

    with _TPE(max_workers=3) as _pool:
        r3_f, tt_f, feed_f = (
            _pool.submit(_inherit(f)) for f in (_r3, _tt, _feed)
        )
        r3, tt, change_rows = r3_f.result(), tt_f.result(), feed_f.result()

    result = {
        "table": table,
        "n_rows_v1": r1["n"],
        "checksum_v1": r1["ck"],
        "n_files_v1": None,  # filled below
        "m1": m1,
        "n_rows_v2": r2["n"],
        "checksum_v2": r2["ck"],
        "n_status_x": r2["nx"],
        "n_status_n": r2["nn"],
        "n_conflicts": n_conflicts,
        "n_versions": latest_version(table),
        "m2": m2,
        "n_rows_v3": r3["n"],
        "checksum_v3": r3["ck"],
        "tt_n_rows": tt["n"],
        "tt_checksum": tt["ck"],
        "change_rows": change_rows,
    }
    from jobminer_spark.lakehouse import _manifest_files, _read_manifest

    # _manifest_files resolves shard refs too, so the count stays
    # correct even if the manifest split ever engages at this scale
    result["n_files_v1"] = len(_manifest_files(_read_manifest(table, 1)))
    return result


def _scalars_df(spark: SparkSession, cols: list[tuple[str, int]]) -> DataFrame:
    return spark.range(1).select(
        *[F.lit(v).cast("long").alias(n) for n, v in cols]
    )


@query(
    "lakehouse_merge_parity",
    oracle=f"""
    SELECT
      (SELECT COUNT(*) FROM orders) AS n_rows_v1,
      (SELECT COUNT(*) FROM orders)
        + (SELECT COUNT(*) FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
        AS n_rows_v2,
      (SELECT COUNT(*) FROM orders
        WHERE o_orderkey < {_UPD_MAX} AND o_orderstatus = 'O')
        AS n_updates_applied,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
        AS n_inserts,
      (SELECT COUNT(*) FROM orders
        WHERE o_orderkey < {_UPD_MAX} AND o_orderstatus = 'O')
        AS n_status_x,
      (SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
       FROM orders)
        AS checksum_v1,
      CAST(
        (SELECT SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) FROM orders)
        + (SELECT COALESCE(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)), 0)
           FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
      AS BIGINT) AS checksum_v2
    """,
)
def lakehouse_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO row-level semantics, pinned: the conditional status
    transition must touch EXACTLY the matched-'O' rows under the key
    cap, the not-matched sample must insert in full, and the integer
    price checksum must shift by exactly the inserted rows' sum (the
    transition leaves prices untouched). The oracle recomputes every
    figure from the source table."""
    s = _run_scenario(spark, sf_dir)
    return _scalars_df(
        spark,
        [
            ("n_rows_v1", s["n_rows_v1"]),
            ("n_rows_v2", s["n_rows_v2"]),
            ("n_updates_applied", s["m1"]["n_updates_applied"]),
            ("n_inserts", s["m1"]["n_inserts"]),
            ("n_status_x", s["n_status_x"]),
            ("checksum_v1", s["checksum_v1"]),
            ("checksum_v2", s["checksum_v2"]),
        ],
    )


@query(
    "lakehouse_pruning_travel_audit",
    oracle=f"""
    SELECT
      (SELECT COUNT(DISTINCT o_orderkey // 4096) FROM orders) AS n_files_v1,
      (SELECT COUNT(DISTINCT o_orderkey // 4096) FROM orders
        WHERE o_orderkey < {_UPD_MAX}) AS n_files_rewritten,
      (SELECT COUNT(DISTINCT o_orderkey // 4096) FROM orders)
        - (SELECT COUNT(DISTINCT o_orderkey // 4096) FROM orders
           WHERE o_orderkey < {_UPD_MAX}) AS n_files_carried,
      (SELECT COUNT(DISTINCT (o_orderkey + {_INS_OFFSET}) // 4096)
       FROM orders WHERE o_orderkey % {_INS_MOD} = 0) AS n_insert_files,
      (SELECT COUNT(*) FROM orders) AS tt_n_rows,
      (SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
       FROM orders)
        AS tt_checksum
    """,
)
def lakehouse_pruning_travel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write file pruning + time travel, pinned: MERGE #1's
    update keys live in key-bucket 0 only, so exactly the files
    covering that bucket are rewritten and every other file is carried
    by reference (the oracle counts the expected file populations from
    the key distribution — one file per 4096-key bucket by
    construction); the inserted rows land in their own files. After
    BOTH merges, re-reading manifest v1 must return the original row
    count and checksum — snapshot isolation as a committed artifact,
    not a claim."""
    s = _run_scenario(spark, sf_dir)
    return _scalars_df(
        spark,
        [
            ("n_files_v1", s["n_files_v1"]),
            ("n_files_rewritten", s["m1"]["n_files_rewritten"]),
            ("n_files_carried", s["m1"]["n_files_carried"]),
            ("n_insert_files", s["m1"]["n_insert_files"]),
            ("tt_n_rows", s["tt_n_rows"]),
            ("tt_checksum", s["tt_checksum"]),
        ],
    )


@query(
    "lakehouse_change_feed",
    oracle=f"""
    SELECT o_orderkey, 'status' AS change_type,
           o_orderstatus AS old_status, 'X' AS new_status,
           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS old_price_q,
           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS new_price_q
    FROM orders
    WHERE o_orderkey < {_UPD_MAX} AND o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, 'price',
           o_orderstatus, o_orderstatus,
           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT),
           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) + 1
    FROM orders
    WHERE o_orderkey >= {_BUMP_LO} AND o_orderkey < {_BUMP_HI}
    UNION ALL
    SELECT o_orderkey + {_INS_OFFSET}, 'insert',
           CAST(NULL AS VARCHAR), 'N',
           CAST(NULL AS BIGINT),
           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
    FROM orders
    WHERE o_orderkey % {_INS_MOD} = 0
    """,
)
def lakehouse_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between table versions (the Delta CDF
    analogue): the row-level diff of snapshot v1 → v3 — every status
    transition, price bump, and insert with its before/after values —
    read from the REAL versioned table (captured during the scenario,
    before the vacuum audit retires v1) and pinned row-for-row against
    the oracle's independent derivation from the source data. Feeds
    downstream incremental consumers the same way cdc.py consumes a
    change stream — the produce side of that contract."""
    s = _run_scenario(spark, sf_dir)
    schema = (
        "o_orderkey long, change_type string, old_status string, "
        "new_status string, old_price_q long, new_price_q long"
    )
    return spark.createDataFrame(s["change_rows"], schema)


@query(
    "lakehouse_vacuum_audit",
    oracle=f"""
    SELECT
      CAST(2 AS BIGINT) AS n_manifests_removed,
      CAST(2 AS BIGINT) AS n_files_removed,
      (SELECT COUNT(*) FROM orders)
        + (SELECT COUNT(*) FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
        AS n_rows_after,
      CAST(
        (SELECT SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) FROM orders)
        + (SELECT COALESCE(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)), 0)
           FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
        + (SELECT COUNT(*) FROM orders
           WHERE o_orderkey >= {_BUMP_LO} AND o_orderkey < {_BUMP_HI})
      AS BIGINT) AS checksum_after,
      CAST(0 AS BIGINT) AS v1_still_readable
    """,
)
def lakehouse_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention GC, pinned: after the three-version scenario,
    vacuum(keep_last=1) must remove exactly the two superseded
    manifests and exactly the two orphaned data files (v1's bucket-0
    file and v2's rewrite of it — every other file is still referenced
    by v3), leave the latest snapshot byte-identical (row count and
    checksum re-derived by the oracle), and make v1 time travel
    CORRECTLY fail — retention's trade stated as a pinned bit, not
    hidden. Runs strictly after the scenario's own reads (the cached
    scalars were captured pre-vacuum)."""
    from jobminer_spark.lakehouse import read_snapshot, vacuum

    table = _run_scenario(spark, sf_dir)["table"]  # the table at v3

    def _build(_work: str) -> dict:
        v = vacuum(table, keep_last=1)
        after = read_snapshot(spark, table).agg(
            F.count(F.lit(1)).alias("n"), F.sum("price_q").alias("ck")
        ).first()
        try:
            read_snapshot(spark, table, 1).count()
            v1_readable = 1
        except Exception:  # noqa: BLE001 — any failure = not readable
            v1_readable = 0
        return {
            "n_manifests_removed": v["n_manifests_removed"],
            "n_files_removed": v["n_files_removed"],
            "n_rows_after": after["n"],
            "checksum_after": after["ck"],
            "v1_still_readable": v1_readable,
        }

    c = scenario(spark, sf_dir, "lakevac", _build)
    return _scalars_df(
        spark,
        [
            ("n_manifests_removed", c["n_manifests_removed"]),
            ("n_files_removed", c["n_files_removed"]),
            ("n_rows_after", c["n_rows_after"]),
            ("checksum_after", c["checksum_after"]),
            ("v1_still_readable", c["v1_still_readable"]),
        ],
    )


@query(
    "lakehouse_concurrency_audit",
    oracle=f"""
    SELECT
      CAST(1 AS BIGINT) AS n_conflicts,
      CAST(3 AS BIGINT) AS n_versions,
      (SELECT COUNT(*) FROM orders)
        + (SELECT COUNT(*) FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
        AS n_rows_v3,
      (SELECT COUNT(*) FROM orders
        WHERE o_orderkey >= {_BUMP_LO} AND o_orderkey < {_BUMP_HI})
        AS n_bump_applied,
      CAST(
        (SELECT SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) FROM orders)
        + (SELECT COALESCE(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)), 0)
           FROM orders WHERE o_orderkey % {_INS_MOD} = 0)
        + (SELECT COUNT(*) FROM orders
           WHERE o_orderkey >= {_BUMP_LO} AND o_orderkey < {_BUMP_HI})
      AS BIGINT) AS checksum_v3
    """,
)
def lakehouse_concurrency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency, pinned: a manifest prepared against v1
    must FAIL to publish version 2 once MERGE #1 has won it (exactly
    one CommitConflict), after which MERGE #2 lands as version 3 with
    its price bump applied to exactly the [512, 1024) key range — the
    final checksum is v1 + inserted prices + one cent per bumped row,
    all recomputed independently by the oracle."""
    s = _run_scenario(spark, sf_dir)
    return _scalars_df(
        spark,
        [
            ("n_conflicts", s["n_conflicts"]),
            ("n_versions", s["n_versions"]),
            ("n_rows_v3", s["n_rows_v3"]),
            ("n_bump_applied", s["m2"]["n_updates_applied"]),
            ("checksum_v3", s["checksum_v3"]),
        ],
    )


_NEG_CAP = 2048  # negative-key scenario input bound (~2k rows)
_NEG_UPD = 512   # updates touch keys in (-_NEG_UPD, 0]

def _run_negative_key_scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "lakeneg",
        lambda work: _build_negative_key_scenario(spark, sf_dir, work),
    )


def _build_negative_key_scenario(
    spark: SparkSession, sf_dir: str, table: str
) -> dict:
    """ADVICE r12 floor-bucket fix, attested cross-engine: a table
    whose keys are NEGATED order keys spans buckets -1 and 0 —
    exactly the boundary where Spark's truncating `div` used to place
    batch keys one bucket above the Python-floor file ranges, so the
    holding file was missed and every matched key re-inserted as a
    duplicate. Post-fix (lakehouse._bucket_expr) the merge must apply
    all updates, insert only the genuinely new keys, and leave key
    uniqueness intact; the oracle recomputes every count from orders.
    Before the fix this scenario yields n_updates_applied = 0 and
    n_dup_keys > 0 — a red driver row, not a silent corruption."""
    from jobminer_spark.lakehouse import create_table, merge_into, read_snapshot

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < _NEG_CAP)
        .select(
            (-F.col("o_orderkey")).alias("key"),
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * F.lit(100.0))
            .cast("long")
            .alias("price_q"),
        )
    )
    create_table(spark, table, base, "key")

    transitions = base.filter(F.col("key") > -_NEG_UPD).select(
        "key", F.lit("X").alias("o_orderstatus"), "price_q"
    )
    inserts = base.filter(F.col("key") % _INS_MOD == 0).select(
        (F.col("key") - _INS_OFFSET).alias("key"),
        F.lit("N").alias("o_orderstatus"),
        "price_q",
    )
    m = merge_into(
        spark, table, transitions.unionByName(inserts), lambda j: F.lit(True)
    )
    snap = read_snapshot(spark, table)
    r = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_orderstatus") == "X", 1)).alias("nx"),
        F.sum("price_q").alias("ck"),
    ).first()
    n_dup = (
        snap.groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    return {
        "n_rows_v2": r["n"],
        "n_status_x": r["nx"],
        "checksum_v2": r["ck"],
        "n_updates_applied": m["n_updates_applied"],
        "n_inserts": m["n_inserts"],
        "n_dup_keys": n_dup,
    }


@query(
    "lakehouse_negative_key_merge_parity",
    oracle=f"""
    WITH src AS (
      SELECT -o_orderkey AS key, o_orderstatus,
             CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS price_q
      FROM orders WHERE o_orderkey < {_NEG_CAP}
    )
    SELECT
      (SELECT COUNT(*) FROM src)
        + (SELECT COUNT(*) FROM src WHERE key % {_INS_MOD} = 0)
        AS n_rows_v2,
      (SELECT COUNT(*) FROM src WHERE key > -{_NEG_UPD}) AS n_status_x,
      CAST(
        (SELECT SUM(price_q) FROM src)
        + (SELECT COALESCE(SUM(price_q), 0) FROM src
           WHERE key % {_INS_MOD} = 0)
      AS BIGINT) AS checksum_v2,
      (SELECT COUNT(*) FROM src WHERE key > -{_NEG_UPD})
        AS n_updates_applied,
      (SELECT COUNT(*) FROM src WHERE key % {_INS_MOD} = 0) AS n_inserts,
      CAST(0 AS BIGINT) AS n_dup_keys
    """,
)
def lakehouse_negative_key_merge_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE over a negative key domain (buckets -1 and 0): the
    floor-semantics bucket contract, driver-attested. See
    _run_negative_key_scenario for the failure shape this pins."""
    s = _run_negative_key_scenario(spark, sf_dir)
    return _scalars_df(
        spark,
        [
            ("n_rows_v2", s["n_rows_v2"]),
            ("n_status_x", s["n_status_x"]),
            ("checksum_v2", s["checksum_v2"]),
            ("n_updates_applied", s["n_updates_applied"]),
            ("n_inserts", s["n_inserts"]),
            ("n_dup_keys", s["n_dup_keys"]),
        ],
    )
