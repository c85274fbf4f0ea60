"""Streaming funnel parity: the strict-order sequence funnel run as a
CUSTOM STATEFUL STREAMING operator (applyInPandasWithState — per-user
state machine surviving micro-batches) must land on exactly the batch
kernel's stage anchors on a bounded stream.

This extends the streaming≡batch parity suite (tumbling / sliding /
session / interval / stateful totals / sink replay / admission) with
sequence matching — the one streaming semantics class none of the
built-in windows express. The drain reuses the shared single-batch
discipline (`maxFilesPerTrigger` pin + the drain memo) that the
session-window escape taught in round 7: a bounded fixture must drain
in one micro-batch so no environment-dependent file ordering can
reorder the state machine's input.

The audit full-outer-joins the stream's final per-user (t1, t2, t3)
against journeys.funnel_stages and counts null-safe stage mismatches;
users whose only funnel events never include a view appear on the
stream side with all-NULL anchors and no batch row — a match by
construction, not an accident, since funnel_stages anchors on views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from jobminer_spark.registry import query
from jobminer_spark.sources import load_table


@query(
    "stream_funnel_parity",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
       WHERE event_type IN ('view', 'click', 'purchase'))
        AS n_funnel_users,
      CAST(0 AS BIGINT) AS n_stage_mismatch,
      CAST(1 AS BIGINT) AS n_micro_batches
    """,
)
def stream_funnel_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the stateful streaming funnel for real, compares every
    user's final (t1, t2, t3) against the batch stage frame null-safely,
    and reports (n_funnel_users, n_stage_mismatch) — the oracle counts
    the funnel-event users independently and expects zero mismatches,
    so a dropped state row, an out-of-order batch, or a chaining drift
    between the state machine and the batch kernel turns this red."""
    from jobminer_spark.operators.journeys import funnel_stages
    from jobminer_spark.streaming.stateful import streaming_funnel_states
    from jobminer_spark.streaming.windows import (
        _drained_with_batches,
        streaming_events_source,
    )

    def build() -> DataFrame:
        src = (
            streaming_events_source(spark, sf_dir)
            .filter(F.col("event_type").isin("view", "click", "purchase"))
            .select(
                "user_id",
                "event_id",
                F.unix_micros("ts").alias("tus"),
                "event_type",
            )
        )
        return streaming_funnel_states(src)

    # forensic pin (r7 escape discipline, as in stream_session_parity):
    # the bounded fixture must drain in EXACTLY one data-carrying
    # micro-batch — the state machine is the most order-sensitive
    # operator in the parity suite, and a multi-batch drain is the one
    # way environment-dependent file listing could reorder its input
    drained, n_batches = _drained_with_batches(
        "funnel_states", spark, sf_dir, build, output_mode="update"
    )
    # update mode emits one row per touched user per micro-batch; the
    # most-advanced row is the user's final state (on the pinned
    # single-batch drain there is exactly one row anyway)
    w = W.partitionBy("user_id").orderBy(
        F.col("t3").desc(), F.col("t2").desc(), F.col("t1").desc()
    )
    stream = (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            *[
                F.when(F.col(c) >= 0, F.col(c)).alias(f"s{i}")
                for i, c in enumerate(["t1", "t2", "t3"], start=1)
            ],
        )
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    batch = funnel_stages(ev)
    j = stream.join(batch, "user_id", "full_outer")
    mismatch = ~(
        F.col("s1").eqNullSafe(F.col("t1"))
        & F.col("s2").eqNullSafe(F.col("t2"))
        & F.col("s3").eqNullSafe(F.col("t3"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_funnel_users"),
        F.count(F.when(mismatch, 1)).alias("n_stage_mismatch"),
        F.lit(n_batches).cast("long").alias("n_micro_batches"),
    )
