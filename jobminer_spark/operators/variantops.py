"""Spark 4 VARIANT surface: parse_json → typed path extraction →
aggregation, oracle-checked.

VARIANT is Spark 4's open-ended semi-structured column type (binary
JSON with per-path typed access — the Delta/Iceberg-era replacement
for stringly-typed JSON columns). The fixture's ``props`` is a flat
one-key object (already attested by ``json_props_extraction``), so
this query builds a deterministic NESTED document from event fields —
object, sub-object, and array — entirely with string concatenation
(identical bytes in both engines), then drives it through the whole
variant stack:

* ``parse_json`` (string → VariantType),
* ``variant_get`` with typed paths (``$.u``, ``$.m.v``,
  ``$.tags[0]`` — casts applied AT the variant boundary),
* variant columns flowing through a groupBy (the binary encoding
  must survive shuffle),
* ``schema_of_variant`` aggregated to its distinct value — computed
  Spark-side, PINNED as a literal by the oracle (DuckDB has no
  variant; the constant-vs-computed pattern from the sketch audits).

The DuckDB twin extracts the same paths from the same constructed
string with its JSON operators — so the pin covers Spark's variant
binary round-trip against a plain-JSON reference, not echo.

Scale shape: one groupBy(event_type) with map-side partials; parse
and extraction are per-row JVM expressions (no Python boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

# The same document, spelled in each engine's string-concat dialect.
_DOC_SQL_SPARK = (
    "concat('{\"u\":', CAST(user_id AS STRING),"
    "',\"m\":{\"v\":', CAST(CAST(FLOOR(value * 100.0D) AS BIGINT) AS STRING),"
    "',\"t\":\"', event_type, '\"},"
    "\"tags\":[', CAST(event_id % 7 AS STRING), ',',"
    " CAST(user_id % 5 AS STRING), ']}')"
)
_DOC_SQL_DUCK = (
    "concat('{\"u\":', CAST(user_id AS VARCHAR),"
    "',\"m\":{\"v\":', CAST(CAST(FLOOR(value * 100.0) AS BIGINT) AS VARCHAR),"
    "',\"t\":\"', event_type, '\"},"
    "\"tags\":[', CAST(event_id % 7 AS VARCHAR), ',',"
    " CAST(user_id % 5 AS VARCHAR), ']}')"
)

# schema_of_variant over every constructed doc (pinned; computed by
# Spark). BIGINT everywhere: all numeric fields are integer-valued.
_EXPECTED_SCHEMA = (
    "OBJECT<m: OBJECT<t: STRING, v: BIGINT>, tags: ARRAY<BIGINT>, u: BIGINT>"
)


@query(
    "variant_extraction_stats",
    oracle=f"""
    WITH docs AS (
      SELECT event_type, {_DOC_SQL_DUCK} AS j FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(j, '$.u') AS BIGINT)) AS BIGINT)
             AS sum_u,
           CAST(SUM(CAST(json_extract(j, '$.m.v') AS BIGINT)) AS BIGINT)
             AS sum_mv,
           CAST(SUM(CAST(json_extract(j, '$.tags[0]') AS BIGINT)) AS BIGINT)
             AS sum_tag0,
           '{_EXPECTED_SCHEMA}' AS variant_schema,
           CAST(1 AS BIGINT) AS n_distinct_schemas
    FROM docs GROUP BY event_type
    """,
)
def variant_extraction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant parse + typed path extraction + shuffle survival, with
    the inferred variant schema as a computed-vs-pinned column."""
    e = load_table(spark, sf_dir, "events")
    docs = e.select(
        "event_type", F.parse_json(F.expr(_DOC_SQL_SPARK)).alias("v")
    )
    extracted = docs.select(
        "event_type",
        F.variant_get(F.col("v"), "$.u", "bigint").alias("u"),
        F.variant_get(F.col("v"), "$.m.v", "bigint").alias("mv"),
        F.variant_get(F.col("v"), "$.tags[0]", "bigint").alias("tag0"),
        F.schema_of_variant(F.col("v")).alias("vs"),
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("u").alias("sum_u"),
        F.sum("mv").alias("sum_mv"),
        F.sum("tag0").alias("sum_tag0"),
        # distinct-collapse: every doc infers the SAME schema, so max
        # == the constant the oracle pins; a drifting inference (e.g.
        # a field inferred DOUBLE) changes the value and flips red.
        # max alone only catches drift that sorts ABOVE the pin — the
        # distinct count (oracle pins 1) closes the below-the-pin
        # half, so ANY minority schema flips the audit red
        F.max("vs").alias("variant_schema"),
        F.countDistinct("vs").alias("n_distinct_schemas"),
    )


def _delta_variant_scenario(spark: SparkSession, sf_dir: str) -> dict:
    from jobminer_spark.operators.common import scenario

    return scenario(
        spark, sf_dir, "variant",
        lambda work: _build_delta_variant_scenario(spark, sf_dir, work),
    )


def _build_delta_variant_scenario(
    spark: SparkSession, sf_dir: str, work: str
) -> dict:
    """One-build-per-(session, sf_dir, data) Delta table whose ``v``
    column is a real Spark VARIANT (r18: the variantType feature
    graduated from the rejection matrix) — created through write_delta
    so the commit publishes reader 3/writer 7 with variantType listed
    and the binary encoding stages through Spark's native parquet
    variant writer."""
    import os

    from jobminer_spark.sources.delta import write_delta

    table = os.path.join(work, "vtab")
    e = load_table(spark, sf_dir, "events")
    docs = e.select(
        "event_type", F.parse_json(F.expr(_DOC_SQL_SPARK)).alias("v")
    )
    write_delta(spark, table, docs)
    from jobminer_spark.sources.delta import (
        _replay_full,
        delta_latest_version,
    )

    _a, _r, _m, _t, proto = _replay_full(
        table, delta_latest_version(table)
    )
    return {
        "table": table,
        "feature_listed": int(
            proto.get("minReaderVersion") == 3
            and "variantType" in (proto.get("readerFeatures") or [])
            and "variantType" in (proto.get("writerFeatures") or [])
        ),
    }


@query(
    "delta_variant_roundtrip_audit",
    oracle=f"""
    WITH docs AS (
      SELECT event_type, {_DOC_SQL_DUCK} AS j FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(j, '$.u') AS BIGINT)) AS BIGINT)
             AS sum_u,
           CAST(SUM(CAST(json_extract(j, '$.m.v') AS BIGINT)) AS BIGINT)
             AS sum_mv,
           CAST(SUM(CAST(json_extract(j, '$.tags[1]') AS BIGINT)) AS BIGINT)
             AS sum_tag1,
           CAST(1 AS BIGINT) AS feature_listed
    FROM docs GROUP BY event_type
    """,
)
def delta_variant_roundtrip_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The variantType Delta feature END TO END (r18): variant docs
    built from event fields land in a real Delta table (write_delta
    publishes reader 3/writer 7 with variantType listed —
    feature_listed pins it), read back through read_delta's protocol
    gate, and typed paths extracted from the BINARY encoding
    aggregate per event_type. The oracle recomputes every sum from
    the same constructed JSON with DuckDB's json operators — so a
    reader that corrupted the binary round-trip, dropped rows, or
    mis-resolved a path goes red on values, and one that stopped
    publishing the feature goes red on the pin."""
    from jobminer_spark.sources.delta import read_delta

    s = _delta_variant_scenario(spark, sf_dir)
    back = read_delta(spark, s["table"])
    extracted = back.select(
        "event_type",
        F.variant_get(F.col("v"), "$.u", "bigint").alias("u"),
        F.variant_get(F.col("v"), "$.m.v", "bigint").alias("mv"),
        F.variant_get(F.col("v"), "$.tags[1]", "bigint").alias("tag1"),
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("u").alias("sum_u"),
        F.sum("mv").alias("sum_mv"),
        F.sum("tag1").alias("sum_tag1"),
    ).selectExpr(
        "event_type",
        "n_events",
        "sum_u",
        "sum_mv",
        "sum_tag1",
        f"CAST({s['feature_listed']} AS BIGINT) AS feature_listed",
    )
