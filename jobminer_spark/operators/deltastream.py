"""Delta streaming sink with txn-based exactly-once effect, and a
zero-copy lakehouse→Delta export — the two compositions that make the
r15 Delta log implementation (sources/delta.py) a production surface
rather than a standalone codec.

**Exactly-once streaming sink** (`stream_delta_sink_exactly_once`):
Delta's real idempotence mechanism for streaming writers is the
``txn`` action — the writer commits {appId, version=batchId} IN THE
SAME atomic commit as its data, and on (re)start consults the table's
latest txn watermark to skip any batch it already wrote. That is how
delta-spark's streaming sink achieves exactly-once EFFECT over
foreachBatch's at-least-once delivery, and it is the Delta-format
counterpart of this repo's MERGE-idempotent CDC stream
(cdc.stream_cdc_lakehouse_parity). The audit spools the events rows
into 3 files, drains them one micro-batch per file (each batch one
Delta commit carrying its txn), then drains the WHOLE stream again
from a fresh checkpoint — a full re-delivery. Every re-delivered
batch must be skipped by the watermark: the table's version count,
row count, and checksum are pinned unchanged.

**Zero-copy export** (`lakehouse_delta_export_parity`): a lakehouse
manifest and a Delta log describe the same thing — a versioned set of
parquet files — so a snapshot exports to Delta by writing ADD actions
that point at the lakehouse's own data files (absolute paths, which
the protocol allows; no byte of data moves). The audit merges a
change into a lakehouse table, exports the post-merge snapshot, and
pins read_delta(export) row/checksum-equal to read_snapshot, with the
oracle recomputing both from the raw source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table
from jobminer_spark.sources.delta import (
    _publish_commit,
    _schema_string,
    delta_latest_version,
    last_txn_version,
    read_delta,
    write_delta,
)


_SINK_APP_ID = "jm-delta-stream-sink"


def _rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100.0).cast("long").alias("val_q"),
    )


def _run_stream_sink(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dsink", lambda work: _build_run_stream_sink(spark, sf_dir, work)
    )


def _build_run_stream_sink(spark: SparkSession, sf_dir: str, work: str) -> dict:
    from jobminer_spark.streaming.windows import pinned_drain_shuffle

    spool = os.path.join(work, "spool")
    table = os.path.join(work, "delta_table")

    _rows(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(spool)

    skipped: list[int] = []

    def sink_batch(bdf: DataFrame, bid: int) -> None:
        last = last_txn_version(table, _SINK_APP_ID)
        if last is not None and bid <= last:
            skipped.append(bid)  # already committed: exactly-once skip
            return
        write_delta(
            bdf.sparkSession, table, bdf, txn=(_SINK_APP_ID, bid)
        )

    def drain(ckpt: str) -> None:
        with pinned_drain_shuffle(spark):
            q = (
                spark.readStream.schema(
                    "event_id long, user_id long,"
                    " event_type string, val_q long"
                )
                .format("parquet")
                .option("maxFilesPerTrigger", 1)
                .option("pathGlobFilter", "*.parquet")
                .load(spool)
                .writeStream.foreachBatch(sink_batch)
                .option("checkpointLocation", os.path.join(work, ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    def state() -> tuple[int, int, int]:
        snap = read_delta(spark, table).agg(
            F.count(F.lit(1)).alias("n"), F.sum("val_q").alias("ck")
        ).first()
        return delta_latest_version(table) + 1, snap["n"], snap["ck"]

    drain("ck_run1")
    s1 = state()
    # run 2: fresh checkpoint — the ENTIRE stream re-delivered; the
    # txn watermark must skip every batch and change nothing
    drain("ck_run2")
    s2 = state()
    result = {
        "n_versions": s2[0],
        "n_rows": s2[1],
        "checksum": s2[2],
        "replay_idempotent": 1 if s1 == s2 else 0,
        "n_replayed_skips": len(skipped),
    }
    return result


@query(
    "stream_delta_sink_exactly_once",
    oracle="""
    WITH rows AS (
      SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q FROM events
    )
    SELECT CAST(3 AS BIGINT) AS n_versions,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS checksum,
           CAST(1 AS BIGINT) AS replay_idempotent,
           CAST(3 AS BIGINT) AS n_replayed_skips
    """,
)
def stream_delta_sink_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Delta streaming sink run for real: 3 micro-batches, each an
    atomic Delta commit carrying its txn (appId, batchId) watermark,
    then a FULL re-delivery from a fresh checkpoint. The oracle pins:
    exactly 3 table versions (re-delivery created none), every event
    present exactly once with the raw-table checksum, all 3 re-
    delivered batches skipped by the watermark, and the before/after
    state identical — exactly-once effect over at-least-once
    delivery, the mechanism delta-spark's own streaming sink uses."""
    s = _run_stream_sink(spark, sf_dir)
    return spark.range(1).select(
        F.lit(s["n_versions"]).cast("long").alias("n_versions"),
        F.lit(s["n_rows"]).cast("long").alias("n_rows"),
        F.lit(s["checksum"]).cast("long").alias("checksum"),
        F.lit(s["replay_idempotent"]).cast("long").alias(
            "replay_idempotent"
        ),
        F.lit(s["n_replayed_skips"]).cast("long").alias("n_replayed_skips"),
    )


# ---------------------------------------------------------------------------
# zero-copy lakehouse → Delta export
# ---------------------------------------------------------------------------


def export_lakehouse_snapshot_to_delta(
    spark: SparkSession, lake_table: str, delta_table: str
) -> int:
    """Publish the lakehouse table's CURRENT snapshot as a brand-new
    Delta table whose add-actions point at the lakehouse's own parquet
    data files (absolute paths — protocol-legal), so not one data byte
    is copied. Returns the Delta version (0). The export is a
    snapshot: later lakehouse versions don't appear until re-export
    (and lakehouse vacuum of THIS snapshot's files would orphan the
    export — the documented zero-copy trade)."""
    import uuid

    from jobminer_spark.lakehouse import (
        _manifest_files,
        _read_manifest,
        latest_version,
        read_snapshot,
    )

    files = _manifest_files(
        _read_manifest(lake_table, latest_version(lake_table))
    )
    schema_df = read_snapshot(spark, lake_table).limit(0)
    os.makedirs(os.path.join(delta_table, "_delta_log"), exist_ok=True)
    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_string(schema_df),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 0,
            }
        },
    ]
    actions.extend(
        {
            "add": {
                "path": os.path.abspath(f["path"]),
                "partitionValues": {},
                "size": os.path.getsize(f["path"]),
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for f in sorted(files, key=lambda f: f["path"])
    )
    _publish_commit(delta_table, 0, actions)
    return 0


def _run_export(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "dexp", lambda work: _build_run_export(spark, sf_dir, work)
    )


def _build_run_export(spark: SparkSession, sf_dir: str, work: str) -> dict:
    from jobminer_spark.lakehouse import create_table, merge_into

    lake = os.path.join(work, "lake")
    delta = os.path.join(work, "delta_export")

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("price_q"),
    )
    create_table(spark, lake, base, "o_orderkey")
    # a real post-creation change so the export covers a MERGED state:
    # double the price of every key divisible by 10
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", (F.col("price_q") * 2).alias("price_q")
    )
    merge_into(
        spark, lake, updates, matched_condition=lambda j: F.lit(True)
    )
    export_lakehouse_snapshot_to_delta(spark, lake, delta)
    return {"lake": lake, "delta": delta}


@query(
    "lakehouse_delta_export_parity",
    oracle="""
    WITH rows AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0
                  THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) * 2
                  ELSE CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
             END AS price_q
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_q) AS BIGINT) AS checksum,
           CAST(COUNT(*) AS BIGINT) AS n_rows_delta,
           CAST(SUM(price_q) AS BIGINT) AS checksum_delta
    FROM rows
    """,
)
def lakehouse_delta_export_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A merged lakehouse snapshot exported zero-copy to a Delta log:
    both surfaces must serve the identical post-merge table, and the
    oracle recomputes that state from the raw source — so a drifting
    export (missed file, stale manifest, wrong schema string) breaks
    the cross-surface equality AND the raw recomputation."""
    s = _run_export(spark, sf_dir)
    from jobminer_spark.lakehouse import read_snapshot

    lake = read_snapshot(spark, s["lake"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("price_q").cast("long").alias("checksum"),
    )
    delta = read_delta(spark, s["delta"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_delta"),
        F.sum("price_q").cast("long").alias("checksum_delta"),
    )
    return lake.crossJoin(F.broadcast(delta))
