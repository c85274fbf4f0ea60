"""Spark-native file-format audits: ORC, CSV, and JSON-lines round
trips pinned against oracles that recompute everything from the raw
events table.

deltaaudit/formataudit cover the OPEN TABLE formats (Delta, Avro,
Iceberg); this module closes the remaining plain-file surface a user
migrating a pipeline would reach for: columnar ORC (Spark-native,
predicate/partition pruning intact), delimited CSV (the adversarial
case — embedded delimiters, quotes, and escaped quotes must survive a
byte round trip), and JSONL (schema-on-read with nested structs and
arrays). Each write goes through Spark's own writers, each read
declares an explicit schema (schema inference is a scale anti-pattern
— it scans the data twice), and each audit aggregates counts plus
integer checksums so a lossy round trip goes red against the oracle's
raw-table recomputation.

Scale shape: the ORC path is partitioned-by-type and the audit reads
ONE partition back through the pruned path, so the layout's pruning
contract is attested, not assumed. CSV is written quoted and read
WITHOUT multiLine (embedded newlines are deliberately excluded from
the fixture: multiLine=true makes CSV files non-splittable — one task
per file at 100 TB — so the audit pins the splittable contract
instead). JSONL carries a nested struct and an array column through
the round trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table


# The shared derivation, in both dialects: a quantized value column
# (nullable, exercised by the null-count checks) and a TRICKY string
# that embeds the CSV delimiter, a double quote, and a backslash —
# the three characters that break naive writers.
_ROWS_CTE = """
    rows AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q,
             'v,"' || event_type || '\\' || CAST(user_id AS VARCHAR)
               AS tricky
      FROM events
    )"""


def _rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100.0).cast("long").alias("val_q"),
        F.concat(
            F.lit('v,"'),
            F.col("event_type"),
            F.lit("\\"),
            F.col("user_id").cast("string"),
        ).alias("tricky"),
    )


def _scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "ff", lambda work: _build_scenario(spark, sf_dir, work)
    )


def _build_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    rows = _rows(spark, sf_dir)

    orc_dir = os.path.join(work, "orc")
    (
        rows.repartition(4)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .orc(orc_dir)
    )

    csv_dir = os.path.join(work, "csv")
    (
        rows.repartition(4)
        .write.mode("overwrite")
        .options(header=True, quoteAll=True, escape='"')
        .csv(csv_dir)
    )

    json_dir = os.path.join(work, "jsonl")
    (
        rows.repartition(4)
        .select(
            "event_id",
            "val_q",
            F.struct("event_type", "user_id").alias("who"),
            F.array(
                F.col("user_id") % 5, F.col("user_id") % 7
            ).alias("mods"),
        )
        .write.mode("overwrite")
        .json(json_dir)
    )

    result = {"orc": orc_dir, "csv": csv_dir, "jsonl": json_dir}
    return result


_DDL = (
    "event_id long, user_id long, event_type string, val_q long,"
    " tricky string"
)


@query(
    "orc_roundtrip_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val_q) AS BIGINT) AS ck,
           CAST(COUNT(*) - COUNT(val_q) AS BIGINT) AS n_null_vals,
           CAST(SUM(LENGTH(tricky)) AS BIGINT) AS ck_str,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_type = 'purchase') AS n_pruned
    FROM rows GROUP BY event_type
    """,
)
def orc_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → partitioned ORC → full read (per-type counts, value
    and string-length checksums, null population) PLUS a second read
    through the event_type='purchase' partition filter — the pruned
    path returns its count into every row, so a layout that breaks
    partition pruning or a reader that drops the partition column
    goes red against the raw-table oracle."""
    s = _scenario(spark, sf_dir)
    ddl = "event_id long, user_id long, val_q long, tricky string"
    back = spark.read.schema(ddl + ", event_type string").orc(s["orc"])
    pruned = (
        spark.read.schema(ddl + ", event_type string")
        .orc(s["orc"])
        .filter(F.col("event_type") == "purchase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pruned"))
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("val_q").cast("long").alias("ck"),
            (F.count(F.lit(1)) - F.count("val_q"))
            .cast("long")
            .alias("n_null_vals"),
            F.sum(F.length("tricky")).cast("long").alias("ck_str"),
        )
        .crossJoin(F.broadcast(pruned))
        .select("event_type", "n", "ck", "n_null_vals", "ck_str", "n_pruned")
    )


@query(
    "csv_roundtrip_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val_q) AS BIGINT) AS ck,
           CAST(COUNT(*) - COUNT(val_q) AS BIGINT) AS n_null_vals,
           CAST(SUM(LENGTH(tricky)) AS BIGINT) AS ck_str,
           CAST(SUM(CASE WHEN tricky LIKE 'v,"%' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tricky_intact
    FROM rows
    """,
)
def csv_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → quoted CSV (embedded delimiters, double quotes, and
    backslashes in every string) → schema'd read → counts, checksums,
    and an exact prefix predicate on the adversarial string. A writer
    that under-quotes, a reader that mis-unescapes, or a null/empty
    conflation shifts a checksum and goes red. Written quoteAll with
    '"' escaping (RFC-4180 doubling) and read back WITHOUT multiLine
    — the splittable path, the only one that scales."""
    s = _scenario(spark, sf_dir)
    back = spark.read.options(header=True, escape='"').schema(_DDL).csv(
        s["csv"]
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val_q").cast("long").alias("ck"),
        (F.count(F.lit(1)) - F.count("val_q"))
        .cast("long")
        .alias("n_null_vals"),
        F.sum(F.length("tricky")).cast("long").alias("ck_str"),
        F.sum(
            F.when(F.col("tricky").startswith('v,"'), 1).otherwise(0)
        ).cast("long").alias("n_tricky_intact"),
    )


@query(
    "jsonl_roundtrip_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val_q) AS BIGINT) AS ck,
           CAST(COUNT(*) - COUNT(val_q) AS BIGINT) AS n_null_vals,
           CAST(SUM(user_id) AS BIGINT) AS ck_nested,
           CAST(SUM(user_id % 5 + user_id % 7) AS BIGINT) AS ck_arrays
    FROM rows
    """,
)
def jsonl_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → JSON lines with a nested struct and an array column →
    schema'd read (no inference — inference double-scans at scale) →
    counts plus checksums THROUGH the nested fields. JSON drops null
    keys on write; the null count proves absent-key → NULL on read,
    and the nested/array checksums prove complex types survive."""
    s = _scenario(spark, sf_dir)
    ddl = (
        "event_id long, val_q long,"
        " who struct<event_type: string, user_id: long>,"
        " mods array<long>"
    )
    back = spark.read.schema(ddl).json(s["jsonl"])
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val_q").cast("long").alias("ck"),
        (F.count(F.lit(1)) - F.count("val_q"))
        .cast("long")
        .alias("n_null_vals"),
        F.sum("who.user_id").cast("long").alias("ck_nested"),
        F.sum(
            F.expr("aggregate(mods, 0L, (acc, x) -> acc + x)")
        ).cast("long").alias("ck_arrays"),
    )
