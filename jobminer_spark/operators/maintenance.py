"""Table-maintenance operations — the two jobs every 100 TB lake
actually schedules: SMALL-FILES COMPACTION (the classic many-tiny-
files pathology: listing cost, per-file open overhead, starved scans)
and PARTITIONED LAYOUT with partition-pruned reads (the coarse
data-skipping layer under the zorder stats of layout.py; reference
analog: the daily re-scan rewriting its whole table, function.json:6
— here done as an idempotent maintenance pass instead).

Attestation design: file-level effects are not SQL-expressible, so
the audits make them CONSTANTS under controlled writes — a 64-task
write must leave exactly 64 files, the 8-task compaction exactly 8,
a single-task partitioned write exactly one file per partition value
— and pin CONTENT equality through oracle-recomputable row counts
and integer checksums. File counts come from the scan itself via
``_metadata.file_path`` (no driver-side listing). A lost or
double-read row during the rewrite flips the checksum; a skipped or
extra file flips the file-count constant.

Scale shape: compaction is one full read + one repartition write —
the unavoidable cost of rewriting, embarrassingly parallel at any
size (production compacts per-partition, which the partitioned
variant demonstrates); the pruned read scans ONLY the filtered
partition's files (PartitionFilters, plan-tested), so its cost is
that partition's size regardless of table size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

_N_SMALL = 64  # fragmented write: one file per task
_N_COMPACT = 8  # compacted target
_VQ = 1_000


def _events_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, user_id, event_type, vq): the integer-checksummable
    projection the maintenance passes rewrite."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * _VQ).cast("long").alias("vq"),
    )


def _tmp(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Fixed path per (scenario, stage): ``mode("overwrite")`` then
    REUSES the directory on every re-run, so repeated sweeps leave at
    most one copy per live session instead of accumulating a fresh
    uuid-suffixed directory per query execution. The root is a
    scenario work dir, so dead sessions' roots are swept (age-gated)
    when it is first made."""
    return os.path.join(scenario(spark, sf_dir, "maint", lambda work: work), name)


def _n_files(df: DataFrame) -> DataFrame:
    return df.select(F.col("_metadata.file_path").alias("fp")).agg(
        F.countDistinct("fp").alias("n")
    )


@query(
    "small_files_compaction_audit",
    oracle=f"""
    SELECT
      CAST({_N_SMALL} AS BIGINT) AS n_files_before,
      CAST({_N_COMPACT} AS BIGINT) AS n_files_after,
      (SELECT COUNT(*) FROM events) AS n_rows,
      (SELECT CAST(SUM(CAST(floor(value * {_VQ}) AS BIGINT)) AS BIGINT)
       FROM events) AS vq_checksum
    """,
)
def small_files_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment the events projection into 64 files, compact to 8,
    and prove the rewrite lossless: before/after file counts are
    pinned constants (one parquet file per non-empty write task), and
    the row count + integer value checksum of the COMPACTED copy must
    equal the oracle's recomputation from the source table."""
    src = _events_slim(spark, sf_dir)
    frag_dir = _tmp(spark, sf_dir, "frag")
    compact_dir = _tmp(spark, sf_dir, "compact")
    src.repartition(_N_SMALL).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.repartition(_N_COMPACT).write.mode("overwrite").parquet(compact_dir)
    compacted = spark.read.parquet(compact_dir)

    before = _n_files(frag).select(F.col("n").alias("n_files_before"))
    after = _n_files(compacted).select(F.col("n").alias("n_files_after"))
    content = compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("vq").alias("vq_checksum"),
    )
    return (
        before.crossJoin(F.broadcast(after)).crossJoin(F.broadcast(content))
    )


@query(
    "partitioned_write_pruning_audit",
    oracle=f"""
    SELECT
      (SELECT COUNT(DISTINCT event_type) FROM events) AS n_partitions,
      CAST(1 AS BIGINT) AS n_files_read,
      (SELECT COUNT(*) FROM events WHERE event_type = 'purchase')
        AS n_rows_read,
      (SELECT CAST(SUM(CAST(floor(value * {_VQ}) AS BIGINT)) AS BIGINT)
       FROM events WHERE event_type = 'purchase') AS vq_checksum
    """,
)
def partitioned_write_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write the projection hive-partitioned by event_type (single
    task → exactly one file per partition value), then read back with
    a partition-key filter: the scan must touch exactly ONE file —
    the filtered partition's — while returning that type's exact row
    count and checksum (PartitionFilters pushdown is separately
    plan-tested). The coarse skip layer that makes a 100 TB scan cost
    one partition."""
    src = _events_slim(spark, sf_dir)
    part_dir = _tmp(spark, sf_dir, "part")
    (
        src.repartition(1)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(part_dir)
    )
    table = spark.read.parquet(part_dir)
    n_parts = (
        table.select("event_type")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_partitions"))
    )
    pruned = table.filter(F.col("event_type") == "purchase")
    files = _n_files(pruned).select(F.col("n").alias("n_files_read"))
    content = pruned.agg(
        F.count(F.lit(1)).alias("n_rows_read"),
        F.sum("vq").alias("vq_checksum"),
    )
    return (
        n_parts.crossJoin(F.broadcast(files)).crossJoin(F.broadcast(content))
    )


@query(
    "schema_merge_read_audit",
    oracle=f"""
    SELECT
      (SELECT COUNT(*) FROM events
        WHERE event_type IN ('view', 'purchase')) AS n_rows,
      CAST(5 AS BIGINT) AS n_cols_merged,
      (SELECT COUNT(*) FROM events WHERE event_type = 'view')
        AS n_null_extra,
      (SELECT COUNT(*) FROM events WHERE event_type = 'purchase')
        AS n_flagged,
      (SELECT CAST(SUM(CAST(floor(value * {_VQ}) AS BIGINT)) AS BIGINT)
       FROM events WHERE event_type IN ('view', 'purchase'))
        AS vq_checksum
    """,
)
def schema_merge_read_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on read: an early batch written with the v1
    projection (event_id, user_id, vq) and a later batch with an
    ADDED column (extra_flag) land in one dataset; the
    ``mergeSchema`` read must unify to the widest schema, backfill
    the old batch's missing column with NULLs, and lose no rows or
    values — the drift case every long-lived lake table hits when a
    producer adds a field. Pins: total rows, the merged column count
    (4 data + the batch partition column), NULL-backfill cardinality,
    the new column's population, and the value checksum — all
    restated by the oracle from the source table."""
    src = _events_slim(spark, sf_dir)
    root = _tmp(spark, sf_dir, "evolve")
    v1 = src.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "vq"
    )
    v2 = (
        src.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "vq")
        .withColumn("extra_flag", F.lit(1).cast("long"))
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", root)
        .parquet(root)
    )
    n_cols = len(merged.columns)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_cols).cast("long").alias("n_cols_merged"),
        F.count(F.when(F.col("extra_flag").isNull(), 1)).alias(
            "n_null_extra"
        ),
        F.count(F.when(F.col("extra_flag") == 1, 1)).alias("n_flagged"),
        F.sum("vq").alias("vq_checksum"),
    )
