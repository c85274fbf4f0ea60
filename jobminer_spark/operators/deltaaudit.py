"""Delta-format audits: the minimal open-protocol reader/writer
(sources/delta.py) exercised end-to-end and pinned cross-engine.

VERDICT r14 ranks "Delta/Iceberg format compatibility" the #1
environment-blocked gap — blocked only because the `delta-spark` JAR
is not installable offline. The transaction-log FORMAT needs no jar
(JSON commits + parquet checkpoints, open protocol), so these audits
build real Delta tables on disk — create, appends, an overwrite with
remove-actions, a partitioned layout, and a 12-commit history with a
version-10 checkpoint — then read them back through the log replay
and pin every count/checksum against the oracle's recomputation from
the raw events the batches were derived from. A reader that mis-
replays adds/removes, loses partition values (they live ONLY in the
log), or short-circuits the checkpoint wrongly goes red here.

Scenario (one build per session+sf, the lakeaudit discipline):
  * ``main`` table: v0 create = events with event_id%3==0,
    v1 append %3==1, v2 append %3==2 (v2 ≡ the whole corpus),
    v3 OVERWRITE with purchase events only (remove-actions for every
    prior file) — time travel to v2 must still see everything.
  * ``part`` table: one commit partitioned by event_type — the data
    files do NOT contain the partition column; reading it back proves
    the log's partitionValues restore it.
  * ``ckpt`` table: 12 commits keyed user_id%12, checkpoint at v10 —
    the latest read replays checkpoint+tail, the v9 read replays the
    JSON commits from 0; both paths are pinned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table
from jobminer_spark.sources.delta import (
    delta_latest_version,
    read_delta,
    write_delta,
)


_ROWS_CTE = """
    rows AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q
      FROM events
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
        spark, sf_dir, "delta", lambda work: _build_scenario(spark, sf_dir, work)
    )


def _build_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    rows = _rows(spark, sf_dir)

    main = os.path.join(work, "main")
    assert write_delta(spark, main, rows.filter(F.col("event_id") % 3 == 0)) == 0
    assert write_delta(spark, main, rows.filter(F.col("event_id") % 3 == 1)) == 1
    assert write_delta(spark, main, rows.filter(F.col("event_id") % 3 == 2)) == 2
    assert (
        write_delta(
            spark,
            main,
            rows.filter(F.col("event_type") == "purchase"),
            mode="overwrite",
        )
        == 3
    )

    part = os.path.join(work, "part")
    write_delta(spark, part, rows, partition_by=["event_type"])

    ckpt = os.path.join(work, "ckpt")
    for b in range(12):
        write_delta(spark, ckpt, rows.filter(F.col("user_id") % 12 == b))

    # r19 (VERDICT r18 item 3): inCommitTimestamp + domainMetadata —
    # three ICT appends (thirds of the corpus), then a domain
    # set/overwrite/remove history; timestamp time travel must
    # resolve by the IN-LOG commit timestamps and the domain replay
    # must keep latest-per-domain with tombstone suppression
    from jobminer_spark.sources.delta import (
        _replay_full,
        delta_commit_timestamps,
        delta_domain_metadata,
        set_delta_domain_metadata,
    )

    ict = os.path.join(work, "ict")
    for m in range(3):
        write_delta(
            spark, ict, rows.filter(F.col("event_id") % 3 == m),
            configuration={"delta.enableInCommitTimestamps": "true"},
        )
    set_delta_domain_metadata(ict, "ownership", '{"team": "data"}')
    set_delta_domain_metadata(ict, "ownership", '{"team": "ml"}')
    set_delta_domain_metadata(ict, "retention", '{"days": 30}')
    set_delta_domain_metadata(ict, "retention", removed=True)
    stamps = delta_commit_timestamps(ict)
    icts = [ts for _v, ts in stamps]
    proto = _replay_full(ict, delta_latest_version(ict))[4]
    wf = set(proto.get("writerFeatures") or [])

    result = {
        "main": main,
        "part": part,
        "ckpt": ckpt,
        "ict": ict,
        "ict_ts_v0": icts[0],
        # every commit carries a distinct, increasing in-log timestamp
        "ict_monotone": int(
            icts == sorted(icts) and len(set(icts)) == len(icts) == 7
        ),
        # writer-only features: writer 7 lists both, reader stays 1
        "ict_protocol_ok": int(
            proto.get("minReaderVersion") == 1
            and proto.get("minWriterVersion") == 7
            and {"inCommitTimestamp", "domainMetadata"} <= wf
        ),
        # latest-per-domain with the removed tombstone suppressed
        "ict_domains_ok": int(
            delta_domain_metadata(ict) == {"ownership": '{"team": "ml"}'}
        ),
    }
    return result


@query(
    "delta_log_read_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT CAST(4 AS BIGINT) AS n_versions,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_v2,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_v2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_type = 'purchase') AS n_latest,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_type = 'purchase') AS ck_latest
    """,
)
def delta_log_read_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create + two appends + an OVERWRITE on a real on-disk Delta
    log, then read through the replay: version 2 (time travel) must
    see the union of all three appends — the whole corpus — and the
    latest version only the overwrite's purchase rows, which proves
    the remove-actions cancelled every earlier file. Counts and
    integer checksums recomputed by the oracle from raw events."""
    s = _scenario(spark, sf_dir)
    v2 = read_delta(spark, s["main"], version=2).agg(
        F.count(F.lit(1)).cast("long").alias("n_v2"),
        F.sum("val_q").cast("long").alias("ck_v2"),
    )
    latest = read_delta(spark, s["main"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_latest"),
        F.sum("val_q").cast("long").alias("ck_latest"),
    )
    n_versions = delta_latest_version(s["main"]) + 1
    return (
        v2.crossJoin(F.broadcast(latest))
        .selectExpr(
            f"CAST({n_versions} AS BIGINT) AS n_versions",
            "n_v2",
            "ck_v2",
            "n_latest",
            "ck_latest",
        )
    )


@query(
    "delta_partitioned_read_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val_q) AS BIGINT) AS ck
    FROM rows GROUP BY event_type
    """,
)
def delta_partitioned_read_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A partitioned Delta write stores the partition column ONLY in
    the log's partitionValues (the data files don't carry it); reading
    back and grouping on that restored column must reproduce the raw
    per-type counts and checksums exactly — the round trip that
    breaks first when a reader mishandles the log."""
    s = _scenario(spark, sf_dir)
    return (
        read_delta(spark, s["part"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("val_q").cast("long").alias("ck"),
        )
    )


@query(
    "delta_checkpoint_replay_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT CAST(12 AS BIGINT) AS n_versions,
           CAST(1 AS BIGINT) AS checkpoint_present,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_latest,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_latest,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE user_id % 12 <= 9) AS n_v9,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE user_id % 12 <= 9) AS ck_v9
    """,
)
def delta_checkpoint_replay_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Both replay paths pinned on a 12-commit history: the LATEST
    read starts from the version-10 checkpoint parquet and applies the
    JSON tail; the version-9 read predates the checkpoint and replays
    every commit from 0. Totals of both must match the oracle's
    user_id%12 batch arithmetic, and the checkpoint file's existence
    is itself a pinned constant (a writer that silently stopped
    checkpointing would flip it)."""
    from jobminer_spark.sources.delta import _checkpoint_file

    s = _scenario(spark, sf_dir)
    n_versions = delta_latest_version(s["ckpt"]) + 1
    ckpt_present = int(os.path.exists(_checkpoint_file(s["ckpt"], 10)))
    latest = read_delta(spark, s["ckpt"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_latest"),
        F.sum("val_q").cast("long").alias("ck_latest"),
    )
    v9 = read_delta(spark, s["ckpt"], version=9).agg(
        F.count(F.lit(1)).cast("long").alias("n_v9"),
        F.sum("val_q").cast("long").alias("ck_v9"),
    )
    return (
        latest.crossJoin(F.broadcast(v9))
        .selectExpr(
            f"CAST({n_versions} AS BIGINT) AS n_versions",
            f"CAST({ckpt_present} AS BIGINT) AS checkpoint_present",
            "n_latest",
            "ck_latest",
            "n_v9",
            "ck_v9",
        )
    )




def _opt_scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dopt", lambda work: _build_opt_scenario(spark, sf_dir, work)
    )


def _build_opt_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    """A 6-append Delta table OPTIMIZEd to 2 files, under its OWN
    swept root — the main scenario's work dir is rmtree'd on rebuild,
    so sharing it would leave this memo dangling (review r15), and
    the main tables' version counts are pinned by other audits and
    must not grow."""
    from jobminer_spark.sources.delta import optimize_delta

    table = os.path.join(work, "opt")
    rows = _rows(spark, sf_dir)
    for b in range(6):
        write_delta(spark, table, rows.filter(F.col("event_id") % 6 == b))
    pre_version = delta_latest_version(table)
    v, n_before, n_after = optimize_delta(spark, table, target_files=2)
    return {
        "table": table,
        "pre_version": pre_version,
        "n_before": n_before,
        "n_after": n_after,
    }


@query(
    "delta_optimize_compaction_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           CAST(2 AS BIGINT) AS n_files_after,
           CAST(1 AS BIGINT) AS layout_rearranged,
           CAST(1 AS BIGINT) AS travel_sees_old_layout
    """,
)
def delta_optimize_compaction_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE on a 6-append Delta table: the dataChange=false
    compaction commit must leave every row and the checksum untouched
    (oracle recomputes from raw events), land exactly target_files=2
    active files, genuinely reduce the file count, and keep the
    pre-OPTIMIZE layout reachable by time travel — the maintenance op
    that closes the format's lifecycle (create → append → stream →
    overwrite → compact → vacuum-eligible)."""
    s = _opt_scenario(spark, sf_dir)
    cur = read_delta(spark, s["table"])
    n_files_after = len(cur.inputFiles())
    old_files = len(
        read_delta(spark, s["table"], version=s["pre_version"]).inputFiles()
    )
    agg = cur.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    return agg.selectExpr(
        "n_rows",
        "ck",
        f"CAST({n_files_after} AS BIGINT) AS n_files_after",
        f"CAST({int(s['n_before'] > s['n_after'])} AS BIGINT)"
        " AS layout_rearranged",
        f"CAST({int(old_files == s['n_before'])} AS BIGINT)"
        " AS travel_sees_old_layout",
    )




def _clone_scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dclone", lambda work: _build_clone_scenario(spark, sf_dir, work)
    )


def _build_clone_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    """SHALLOW CLONE lifecycle (r19): a partitioned two-commit source,
    a zero-copy clone, then divergence on BOTH sides — a DV delete +
    an append on the clone, an append on the source — so the audit can
    pin that the two tables share bytes but not state."""
    from jobminer_spark.sources.delta import clone_delta, delete_delta

    rows = _rows(spark, sf_dir)
    src = os.path.join(work, "src")
    dst = os.path.join(work, "dst")
    write_delta(
        spark, src, rows.filter(F.col("event_id") % 2 == 0),
        partition_by=["event_type"],
    )
    write_delta(
        spark, src, rows.filter(F.col("event_id") % 2 == 1),
        partition_by=["event_type"],
    )
    n_files, total_bytes = clone_delta(src, dst)
    # zero-copy pinned at clone time: no data file lives under the
    # clone, and every referenced byte is accounted for
    copied = [
        f
        for root, _d, fs in os.walk(dst)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in root
    ]
    zero_copy_ok = int(
        copied == [] and n_files > 0 and total_bytes > 0
    )
    # divergence: the clone deletes clicks (DVs over EXTERNAL files,
    # payloads in the clone dir) and appends a slice; the source
    # appends a DIFFERENT slice — neither sees the other's change
    delete_delta(spark, dst, "event_type = 'click'")
    write_delta(
        spark, dst,
        rows.filter(
            (F.col("event_id") % 2 == 0) & (F.col("user_id") % 9 == 0)
        ),
        partition_by=["event_type"],
    )
    write_delta(
        spark, src, rows.filter(F.col("user_id") % 11 == 0),
        partition_by=["event_type"],
    )
    result = {"src": src, "dst": dst, "zero_copy_ok": zero_copy_ok}
    return result




def _convert_scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dconv",
        lambda work: _build_convert_scenario(spark, sf_dir, work),
    )


def _build_convert_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    """CONVERT TO DELTA lifecycle (late r19): events written as a
    plain Hive-partitioned parquet directory by Spark's own writer,
    converted in place, then mutated through the Delta surface — a DV
    delete — so the audit pins that conversion produced a REAL table,
    not just a readable listing."""
    from jobminer_spark.sources.delta import (
        convert_to_delta,
        delete_delta,
    )

    rows = _rows(spark, sf_dir)
    conv = os.path.join(work, "conv")
    rows.write.partitionBy("event_type").parquet(conv)
    n_files, total_bytes = convert_to_delta(
        spark, conv, partition_schema="event_type string"
    )
    converted_ok = int(n_files > 0 and total_bytes > 0)
    delete_delta(spark, conv, "event_type = 'error'")
    result = {"conv": conv, "converted_ok": converted_ok}
    return result


@query(
    "delta_convert_parquet_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT CAST(1 AS BIGINT) AS converted_ok,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_type <> 'error') AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_type <> 'error') AS ck,
           (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
              FROM rows WHERE event_type <> 'error') AS n_parts,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_v0
    """,
)
def delta_convert_parquet_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA (late r19): a Spark-written Hive-partitioned
    parquet directory becomes a Delta table IN PLACE — commit 0 lists
    the existing files with partitionValues parsed from the k=v path
    segments, no data moved. The audit reads the converted table
    AFTER a DV delete of one partition: per-partition restoration,
    the delete riding the converted files, and time travel to the
    conversion snapshot (the full original corpus) are each pinned
    against the oracle's recomputation from raw events. A conversion
    that mislays partitionValues, misses files, or produces a table
    the mutation surface cannot operate on goes red here."""
    s = _convert_scenario(spark, sf_dir)
    now = read_delta(spark, s["conv"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
        F.countDistinct("event_type").cast("long").alias("n_parts"),
    )
    v0 = read_delta(spark, s["conv"], version=0).agg(
        F.count(F.lit(1)).cast("long").alias("n_v0")
    )
    return (
        now.crossJoin(F.broadcast(v0))
        .selectExpr(
            f"CAST({s['converted_ok']} AS BIGINT) AS converted_ok",
            "n_rows",
            "ck",
            "n_parts",
            "n_v0",
        )
    )


@query(
    "delta_shallow_clone_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT CAST(1 AS BIGINT) AS zero_copy_ok,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_clone_v0,
           (SELECT CAST(COUNT(*) + SUM(CASE WHEN user_id % 11 = 0
                        THEN 1 ELSE 0 END) AS BIGINT)
              FROM rows) AS n_src,
           (SELECT CAST(SUM(val_q) + SUM(CASE WHEN user_id % 11 = 0
                        THEN val_q ELSE 0 END) AS BIGINT)
              FROM rows) AS ck_src,
           (SELECT CAST(SUM(CASE WHEN event_type <> 'click'
                        THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN event_id % 2 = 0 AND user_id % 9 = 0
                        THEN 1 ELSE 0 END) AS BIGINT)
              FROM rows) AS n_clone,
           (SELECT CAST(SUM(CASE WHEN event_type <> 'click'
                        THEN val_q ELSE 0 END)
                 + SUM(CASE WHEN event_id % 2 = 0 AND user_id % 9 = 0
                        THEN val_q ELSE 0 END) AS BIGINT)
              FROM rows) AS ck_clone
    """,
)
def delta_shallow_clone_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (r19): ``clone_delta`` publishes a new Delta
    table whose commit 0 references the source snapshot's files by
    absolute file: URI — zero bytes copied (``zero_copy_ok`` walks the
    clone for data files). The clone's version 0 is the full corpus;
    afterwards the two tables DIVERGE — the clone DV-deletes clicks
    (payloads written in the clone's own directory over the source's
    files) and appends one slice, the source appends a different
    slice — and every count/checksum of both is recomputed by the
    oracle from raw events. A clone that shares state instead of
    bytes, loses partitionValues through the URI indirection, or
    resolves the absolute adds wrongly goes red here.
    Ref: reference has no lakehouse layer; the operator mirrors
    delta-spark's CREATE TABLE ... SHALLOW CLONE."""
    s = _clone_scenario(spark, sf_dir)
    v0 = read_delta(spark, s["dst"], version=0).agg(
        F.count(F.lit(1)).cast("long").alias("n_clone_v0")
    )
    src_now = read_delta(spark, s["src"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_src"),
        F.sum("val_q").cast("long").alias("ck_src"),
    )
    clone_now = read_delta(spark, s["dst"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_clone"),
        F.sum("val_q").cast("long").alias("ck_clone"),
    )
    return (
        v0.crossJoin(F.broadcast(src_now))
        .crossJoin(F.broadcast(clone_now))
        .selectExpr(
            f"CAST({s['zero_copy_ok']} AS BIGINT) AS zero_copy_ok",
            "n_clone_v0",
            "n_src",
            "ck_src",
            "n_clone",
            "ck_clone",
        )
    )


@query(
    "delta_ict_domain_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 = 0) AS n_v0,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 3 = 0) AS ck_v0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_latest,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_latest,
           CAST(1 AS BIGINT) AS ict_monotone,
           CAST(1 AS BIGINT) AS ict_protocol_ok,
           CAST(1 AS BIGINT) AS domains_ok
    """,
)
def delta_ict_domain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inCommitTimestamp + domainMetadata (r19, VERDICT r18 item 3):
    three appends to an ICT-enabled table each prepend commitInfo
    with a monotone in-log timestamp, and timestampAsOf at the FIRST
    commit's in-log value must resolve to version 0 — exactly the
    first third of the corpus, recomputed by the oracle (a reader
    that resolves by file mtime instead lands on the wrong version
    and goes red on n_v0/ck_v0). The protocol lists both as
    writer-only features (reader version stays 1), and the domain
    set → overwrite → second-domain → remove history replays to
    latest-per-domain with the tombstone suppressed (flags pinned in
    the scenario; reference: the Delta table-features spec — the two
    features recent delta-spark enables by default)."""
    s = _scenario(spark, sf_dir)
    v0 = read_delta(spark, s["ict"], timestamp=s["ict_ts_v0"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_v0"),
        F.sum("val_q").cast("long").alias("ck_v0"),
    )
    latest = read_delta(spark, s["ict"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_latest"),
        F.sum("val_q").cast("long").alias("ck_latest"),
    )
    return v0.crossJoin(F.broadcast(latest)).selectExpr(
        "n_v0",
        "ck_v0",
        "n_latest",
        "ck_latest",
        f"CAST({s['ict_monotone']} AS BIGINT) AS ict_monotone",
        f"CAST({s['ict_protocol_ok']} AS BIGINT) AS ict_protocol_ok",
        f"CAST({s['ict_domains_ok']} AS BIGINT) AS domains_ok",
    )


@query(
    "delta_row_tracking_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_ids,
           (SELECT CAST(COUNT(*) - 1 AS BIGINT) FROM rows)
             AS max_row_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 = 1) AS n_v1,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 3 = 1) AS ck_v1
    """,
)
def delta_row_tracking_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW TRACKING (r19): three appends to a
    delta.enableRowTracking table — thirds of the corpus by
    event_id%3 — must reserve DISJOINT contiguous baseRowId ranges
    whose union is exactly [0, n): n_ids counts DISTINCT derived row
    ids (a double-assigned range collapses it), max_row_id pins the
    high watermark to n-1 (a gap inflates it), and the v1 slice —
    every row whose _row_commit_version is 1 — must be exactly the
    second batch, count and checksum recomputed by the oracle from
    raw events (provenance mapped to the wrong commit goes red).
    Reference: the Delta protocol's Row Tracking section (fresh
    row-id derivation baseRowId + position)."""
    import os as _os

    from jobminer_spark.sources.delta import read_delta_row_ids

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "rt")
        for m in range(3):
            write_delta(
                spark, t, rows.filter(F.col("event_id") % 3 == m),
                configuration={"delta.enableRowTracking": "true"},
            )
        return {"rt": t}

    t = scenario(spark, sf_dir, "rt", _build)["rt"]
    got = read_delta_row_ids(spark, t)
    return got.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("_row_id").cast("long").alias("n_ids"),
        F.max("_row_id").cast("long").alias("max_row_id"),
        F.count(
            F.when(F.col("_row_commit_version") == 1, 1)
        ).cast("long").alias("n_v1"),
        F.sum(
            F.when(F.col("_row_commit_version") == 1, F.col("val_q"))
        ).cast("long").alias("ck_v1"),
    )


@query(
    "delta_schema_evolution_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           (SELECT CAST(SUM(val_q * 2) AS BIGINT) FROM rows
             WHERE event_id % 2 = 1) AS ck_extra,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 2 = 0) AS n_backfill,
           CAST(1 AS BIGINT) AS mapped_ok
    """,
)
def delta_schema_evolution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION on a SELF-CREATED column-mapped table (r19):
    CREATE with delta.columnMapping.mode=name (fields get stable ids
    + col-<uuid> physical names — previously only foreign-created
    mapped tables were writable), append the even half, then a
    merge_schema append of the odd half carrying a NEW column
    (val_q*2) — the widened metaData rides the same commit with a
    fresh id + physical name and maxColumnId advanced (mapped_ok pins
    all of it). The read must serve the new column's values for the
    evolved rows and NULL backfill for the pre-evolution files —
    counts and checksums recomputed by the oracle from raw events
    (an evolution that re-keyed the physical naming, dropped rows, or
    backfilled wrongly goes red)."""
    import os as _os

    from jobminer_spark.sources.delta import _replay_full

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "evolve")
        write_delta(
            spark, t, rows.filter(F.col("event_id") % 2 == 0),
            configuration={"delta.columnMapping.mode": "name"},
        )
        write_delta(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 1).withColumn(
                "extra", (F.col("val_q") * 2).cast("long")
            ),
            merge_schema=True,
        )
        import json as _json

        _a, _r, meta, _t2, proto = _replay_full(
            t, delta_latest_version(t)
        )
        flds = _json.loads(meta["schemaString"])["fields"]
        conf = meta["configuration"]
        mapped_ok = int(
            proto.get("minReaderVersion") == 2
            and [f["name"] for f in flds][-1] == "extra"
            and flds[-1]["metadata"]["delta.columnMapping.id"] == 5
            and flds[-1]["metadata"][
                "delta.columnMapping.physicalName"
            ].startswith("col-")
            and conf["delta.columnMapping.maxColumnId"] == "5"
            and all(
                f["metadata"][
                    "delta.columnMapping.physicalName"
                ].startswith("col-")
                for f in flds
            )
        )
        return {
            "evolve": t, "mapped_ok": mapped_ok,
        }

    s = scenario(spark, sf_dir, "dse", _build)
    got = read_delta(spark, s["evolve"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
        F.sum("extra").cast("long").alias("ck_extra"),
        F.count(F.when(F.col("extra").isNull(), 1))
        .cast("long")
        .alias("n_backfill"),
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        "ck_extra",
        "n_backfill",
        f"CAST({s['mapped_ok']} AS BIGINT) AS mapped_ok",
    )


@query(
    "delta_uniform_iceberg_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_type = 'purchase') AS n_pruned,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_type = 'purchase') AS ck_pruned,
           CAST(1 AS BIGINT) AS parity_ok
    """,
)
def delta_uniform_iceberg_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta UniForm (r19): Iceberg metadata exported over a
    PARTITIONED Delta table's own parquet files — the ICEBERG read of
    the Delta table must serve every row (n/ck recomputed by the
    oracle from raw events), its identity-spec partition pruning must
    return exactly the purchase slice (the partition columns are
    ABSENT from the data files, Delta-style, restored from manifest
    tuples), and parity_ok pins a full exceptAll round-trip between
    the two readers plus the UniForm provenance properties.
    Reference: Delta's universalFormat (UniForm) public docs — shared
    data files, converted Iceberg metadata."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        iceberg_metadata,
        read_iceberg,
    )
    from jobminer_spark.sources.uniform import (
        write_uniform_iceberg_metadata,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "uni")
        write_delta(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 0),
            partition_by=["event_type"],
        )
        write_delta(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 1),
            partition_by=["event_type"],
        )
        write_uniform_iceberg_metadata(t)
        d = read_delta(spark, t)
        i = read_iceberg(spark, t)
        props = iceberg_metadata(t)["properties"]
        parity = int(
            i.exceptAll(d).isEmpty()
            and d.exceptAll(i).isEmpty()
            and props.get("delta.universalFormat.source") == "delta"
            and props.get("delta.universalFormat.deltaVersion") == "1"
        )
        return {"uni": t, "parity": parity}

    s = scenario(spark, sf_dir, "uni", _build)
    full = read_iceberg(spark, s["uni"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    pruned = read_iceberg(
        spark, s["uni"], partition_filters={"event_type": "purchase"}
    ).where(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).cast("long").alias("n_pruned"),
        F.sum("val_q").cast("long").alias("ck_pruned"),
    )
    return full.crossJoin(F.broadcast(pruned)).selectExpr(
        "n_rows",
        "ck",
        "n_pruned",
        "ck_pruned",
        f"CAST({s['parity']} AS BIGINT) AS parity_ok",
    )


@query(
    "delta_symlink_manifest_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
              FROM rows) AS n_manifests,
           CAST(1 AS BIGINT) AS inventory_ok
    """,
)
def delta_symlink_manifest_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATE symlink_format_manifest (r19): a partitioned Delta
    table writes one manifest per hive-style partition dir, each
    listing absolute file: URIs — the external-engine layout
    (Presto/Trino SymlinkTextInputFormat). The audit reads the data
    THROUGH the manifests only (no log): the listed files' rows must
    be the whole corpus (n/ck recomputed by the oracle — a manifest
    listing a removed file, or missing a live one, goes red on
    values), the manifest count must equal the live partition count,
    and inventory_ok pins listed-URIs == the log's live adds
    exactly."""
    import os as _os

    from jobminer_spark.sources.delta import (
        _replay_full,
        generate_symlink_manifest,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "symlink")
        # two commits + an overwrite so the manifest must track the
        # LIVE set, not everything ever written
        write_delta(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 0),
            partition_by=["event_type"],
        )
        write_delta(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 1),
            partition_by=["event_type"],
        )
        write_delta(
            spark, t, rows, mode="overwrite",
            partition_by=["event_type"],
        )
        paths = generate_symlink_manifest(t)
        listed: list[str] = []
        for p in paths:
            with open(p) as f:
                listed.extend(
                    x.strip().replace("file://", "")
                    for x in f
                    if x.strip()
                )
        adds, _r, _m, _t2, _p = _replay_full(
            t, delta_latest_version(t)
        )
        live = {
            _os.path.abspath(_os.path.join(t, rel)) for rel in adds
        }
        return {
            "listed": sorted(listed),
            "n_manifests": len(paths),
            "inventory_ok": int(set(listed) == live),
        }

    s = scenario(spark, sf_dir, "syml", _build)
    got = spark.read.parquet(*s["listed"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['n_manifests']} AS BIGINT) AS n_manifests",
        f"CAST({s['inventory_ok']} AS BIGINT) AS inventory_ok",
    )


@query(
    "iceberg_delta_export_parity",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           CAST(1 AS BIGINT) AS parity_ok,
           CAST(1 AS BIGINT) AS zero_copy_ok
    """,
)
def iceberg_delta_export_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REVERSE UniForm export (r19): a Delta log published over
    an Iceberg table's own parquet files — the DELTA read of the
    Iceberg table must serve every row (n/ck recomputed by the
    oracle from raw events), parity_ok pins a full exceptAll
    round-trip between the two readers, and zero_copy_ok pins that
    every Delta add references a file INSIDE the Iceberg table's
    data dir (no byte was copied). Completes the interop triangle
    with delta_uniform_iceberg_audit and
    lakehouse_delta_export_parity."""
    import os as _os

    from jobminer_spark.sources.iceberg import read_iceberg, write_iceberg
    from jobminer_spark.sources.uniform import export_iceberg_to_delta

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        ice = _os.path.join(work, "ice")
        dl = _os.path.join(work, "dl")
        write_iceberg(
            spark, ice, rows.filter(F.col("event_id") % 2 == 0)
        )
        write_iceberg(
            spark, ice, rows.filter(F.col("event_id") % 2 == 1)
        )
        export_iceberg_to_delta(ice, dl)
        d = read_delta(spark, dl)
        i = read_iceberg(spark, ice)
        parity = int(
            d.exceptAll(i).isEmpty() and i.exceptAll(d).isEmpty()
        )
        data_dir = _os.path.abspath(_os.path.join(ice, "data"))
        from jobminer_spark.sources.delta import (
            _add_abs_path,
            _replay_full,
        )

        adds, _r, _m, _t2, _p = _replay_full(
            dl, delta_latest_version(dl)
        )
        # resolve each add path the way the READER does (the export
        # emits quoted file: URIs, ADVICE r19) before testing that it
        # lands inside the Iceberg data dir
        zero_copy = int(
            bool(adds)
            and all(
                _os.path.abspath(
                    _add_abs_path(dl, p)
                ).startswith(data_dir + "/")
                for p in adds
            )
        )
        return {
            "dl": dl, "parity": parity, "zero_copy": zero_copy,
        }

    s = scenario(spark, sf_dir, "revuni", _build)
    got = read_delta(spark, s["dl"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['parity']} AS BIGINT) AS parity_ok",
        f"CAST({s['zero_copy']} AS BIGINT) AS zero_copy_ok",
    )
