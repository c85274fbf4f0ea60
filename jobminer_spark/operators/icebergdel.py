"""Iceberg format-v2 row-level-delete (position + equality) and
snapshot-expiration audits: deletes and metadata maintenance through
the chain, oracle-pinned.

Completes the r16 row-level-delete pair: Delta's deletion vectors
(operators/deltadv.py) and Iceberg's position deletes share the same
Spark execution shape — an anti-join of (file, row-position) pairs
against the scan's generated `_metadata.row_index` — but arrive
through entirely different metadata: Delta inlines a roaring bitmap
per add action; Iceberg commits separate PARQUET delete files
inventoried by content=1 delete manifests under the spec's
sequence-number rule (sources/iceberg.py:_snapshot_files).

The audit builds a real two-append Iceberg table from the events
rows, commits a position-delete snapshot via write_iceberg_deletes
(positions resolved distributedly from `_metadata`, deletes written
range-partitioned and spec-sorted), then appends MORE rows after the
delete — so the read must apply the delete to the first two
snapshots' files and leave the post-delete append untouched, which is
exactly the sequence rule. The oracle recomputes survivors from the
raw events by the same predicates.

Scale shape: delete application is a broadcast anti-join under the
2M-record cap (shuffled past it, moving only (path, pos) pairs);
the delete COMMIT's one shuffle is the spec-mandated sort. Metadata
stays O(manifests) driver-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import scenario
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table
from jobminer_spark.sources.iceberg import (
    iceberg_live_files,
    read_iceberg,
    write_iceberg,
    write_iceberg_deletes,
)
from jobminer_spark.sources.tablefiles import scan_path


_US_DAY = 86_400_000_000


def _day_number(col):
    """Epoch-day number of an NTZ timestamp column — computed on the
    stored (naive) value via to_date/datediff, so the session timezone
    never shifts a row across a day boundary."""
    return F.datediff(F.to_date(col), F.lit("1970-01-01").cast("date"))

_ROWS_CTE = """
    rows AS (
      SELECT event_id,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q
      FROM events
    )"""


def _rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 100.0).cast("long").alias("val_q"),
    )


def _scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "icedel", lambda work: _build_scenario(spark, sf_dir, work)
    )


def _build_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    import os
    import shutil

    rows = _rows(spark, sf_dir)
    table = os.path.join(work, "ice")
    # two appends cover multi-manifest state; the third lands AFTER
    # the delete snapshot to exercise the sequence rule
    write_iceberg(spark, table, rows.filter(F.col("event_id") % 3 == 0))
    write_iceberg(spark, table, rows.filter(F.col("event_id") % 3 == 1))
    # positions of the doomed rows, resolved from the live files'
    # own row order — a distributed metadata-column scan, no collect
    scan = spark.read.parquet(*iceberg_live_files(table)).select(
        scan_path(F.col("_metadata.file_path")).alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "event_id",
    )
    write_iceberg_deletes(
        spark,
        table,
        scan.filter(F.col("event_id") % 11 == 0).select("file_path", "pos"),
    )
    write_iceberg(spark, table, rows.filter(F.col("event_id") % 3 == 2))

    # expiration table: three snapshots, keep only the newest — the
    # current snapshot's inventory is complete (append model), so
    # every data file survives; only old manifest lists/manifests die
    from jobminer_spark.sources.iceberg import expire_iceberg_snapshots

    exp_table = os.path.join(work, "expire")
    first = write_iceberg(
        spark, exp_table,
        rows.filter(F.col("event_id") % 4 == 0).select("event_id", "val_q"),
    )
    for b in (1, 2, 3):
        write_iceberg(
            spark, exp_table,
            rows.filter(F.col("event_id") % 4 == b).select(
                "event_id", "val_q"
            ),
        )
    dead, n_expired = expire_iceberg_snapshots(exp_table, keep_last=1)
    first_gone = 0
    try:
        read_iceberg(spark, exp_table, snapshot_id=first).count()
    except ValueError:
        first_gone = 1

    # equality-delete table: two appends, an equality delete on a
    # derived bucket column, then a post-delete append (strict rule)
    from jobminer_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
    )

    eq_table = os.path.join(work, "eqdel")
    # bucket is NULLABLE (every event_id%5==0 row) so the null-valued
    # delete row below exercises the null-safe match against real
    # null data, not vacuously
    rows3 = rows.withColumn(
        "bucket",
        F.when(
            F.col("event_id") % 5 == 0, F.lit(None).cast("long")
        ).otherwise(F.col("event_id") % 7),
    )
    write_iceberg(spark, eq_table, rows3.filter(F.col("event_id") % 3 == 0))
    write_iceberg(spark, eq_table, rows3.filter(F.col("event_id") % 3 == 1))
    # ONE delete snapshot, TWO equality-column sets (r17, VERDICT r16
    # item 5): {bucket} incl. an explicit NULL delete row, and
    # {event_id} — the multi-spec shape a multi-predicate MERGE emits
    write_iceberg_equality_deletes(
        spark,
        eq_table,
        [
            spark.createDataFrame(
                [(2,), (5,), (None,)], "bucket long"
            ),
            rows.filter(F.col("event_id") % 13 == 0).select("event_id"),
        ],
    )
    write_iceberg(spark, eq_table, rows3.filter(F.col("event_id") % 3 == 2))

    # transform-partitioned FOREIGN table (r17): day(ts) + bucket[8]
    # (event_id) — the layout any real warehouse emits. One data file
    # per (day, bucket) group (Spark lays them out distributed:
    # repartition on the computed partition tuple + partitionBy; the
    # bucket value is the spec's murmur3 via the Arrow-batched
    # iceberg_bucket_udf), manifests carry the partition tuples,
    # metadata the partition-specs.
    import json as _json

    import pyarrow.parquet as _papq

    from jobminer_spark.sources.avro import write_avro_file
    from jobminer_spark.sources.iceberg import iceberg_bucket_udf

    tp_table = os.path.join(work, "transforms")
    tp_md = os.path.join(tp_table, "metadata")
    tp_data = os.path.join(tp_table, "data")
    os.makedirs(tp_md, exist_ok=True)
    os.makedirs(tp_data, exist_ok=True)
    full_rows = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.floor(F.col("value") * 100.0).cast("long").alias("val_q"),
    )
    scratch = os.path.join(tp_table, ".stage")
    (
        full_rows.withColumns(
            {
                # tz-proof: the fixture ts is NTZ, so to_date/datediff
                # work on the STORED value and never pass through the
                # session zone — the spec's day() on the same naive
                # micros DuckDB's CAST(ts AS DATE) sees
                "day": _day_number(F.col("ts")).cast("int"),
                "bkt": iceberg_bucket_udf(8)(F.col("event_id")),
            }
        )
        .repartition("day", "bkt")
        .write.mode("overwrite")
        .partitionBy("day", "bkt")
        .parquet(scratch)
    )
    tp_groups: dict[tuple[int, int], int] = {}
    entries = []
    for root, _dirs, files in sorted(os.walk(scratch)):
        parts = [p for p in root.split(os.sep) if "=" in p]
        if len(parts) != 2:
            continue
        day = int(parts[0].split("=")[1])
        bkt = int(parts[1].split("=")[1])
        for fname in sorted(f for f in files if f.endswith(".parquet")):
            i = len(entries)
            dest = os.path.join(tp_data, f"f{i:05d}.parquet")
            os.replace(os.path.join(root, fname), dest)
            tp_groups[(day, bkt)] = tp_groups.get((day, bkt), 0) + 1
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": 7,
                    "data_file": {
                        "file_path": dest,
                        "file_format": "PARQUET",
                        "record_count": _papq.read_metadata(
                            dest
                        ).num_rows,
                        "file_size_in_bytes": os.path.getsize(dest),
                        "partition": {"ts_day": day, "id_bucket": bkt},
                    },
                }
            )
    shutil.rmtree(scratch, ignore_errors=True)
    entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102",
                        "fields": [
                            {"name": "ts_day", "type": "int"},
                            {"name": "id_bucket", "type": "int"},
                        ],
                    }},
                ],
            }},
        ],
    }
    m1 = os.path.join(tp_md, "m1.avro")
    write_avro_file(m1, entry_schema, entries)
    snap_list = os.path.join(tp_md, "snap-7.avro")
    write_avro_file(
        snap_list,
        {
            "type": "record", "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "added_snapshot_id", "type": ["null", "long"]},
            ],
        },
        [{"manifest_path": m1, "manifest_length": os.path.getsize(m1),
          "partition_spec_id": 0, "added_snapshot_id": 7}],
    )
    with open(os.path.join(tp_md, "v1.metadata.json"), "w") as f:
        _json.dump(
            {
                "format-version": 2,
                "table-uuid": str(__import__("uuid").uuid4()),
                "location": tp_table,
                "last-sequence-number": 1,
                "last-updated-ms": 0,
                "last-column-id": 3,
                "schemas": [{"type": "struct", "schema-id": 0,
                             "fields": [
                    {"id": 1, "name": "event_id", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "ts", "required": False,
                     "type": "timestamp"},
                    {"id": 3, "name": "val_q", "required": False,
                     "type": "long"},
                ]}],
                "current-schema-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": [
                    {"name": "ts_day", "transform": "day",
                     "source-id": 2, "field-id": 1000},
                    {"name": "id_bucket", "transform": "bucket[8]",
                     "source-id": 1, "field-id": 1001},
                ]}],
                "default-spec-id": 0,
                "last-partition-id": 1001,
                "current-snapshot-id": 7,
                "snapshots": [{"snapshot-id": 7, "sequence-number": 1,
                               "timestamp-ms": 0,
                               "manifest-list": snap_list,
                               "summary": {"operation": "append"}}],
            },
            f,
        )
    with open(os.path.join(tp_md, "version-hint.text"), "w") as f:
        f.write("1")

    # the same layout through OUR writer (r17 write half): two
    # appends so the second inherits the table's default spec
    wtp_table = os.path.join(work, "wtransforms")
    wspec = [
        ("ts_day", "day", "ts"),
        ("id_bucket", "bucket[8]", "event_id"),
    ]
    write_iceberg(
        spark,
        wtp_table,
        full_rows.filter(F.col("event_id") % 2 == 0),
        partition_spec=wspec,
    )
    write_iceberg(
        spark, wtp_table, full_rows.filter(F.col("event_id") % 2 == 1)
    )

    # stats-skipping table (r17): three disjoint event_id ranges,
    # one file each (coalesce(1)), so manifest bounds prune a range
    # filter to exactly one file
    st_table = os.path.join(work, "statskip")
    max_id = int(rows.agg(F.max("event_id")).collect()[0][0])
    third = max_id // 3
    for lo_, hi_ in (
        (0, third),
        (third + 1, 2 * third),
        (2 * third + 1, max_id),
    ):
        write_iceberg(
            spark,
            st_table,
            rows.filter(F.col("event_id").between(lo_, hi_))
            .select("event_id", "val_q")
            .coalesce(1),
        )

    # delete-file COMPACTION table (r18): two appends, a position-
    # delete snapshot (%11), an equality-delete snapshot (%13), a
    # post-delete append, then rewrite_iceberg_deletes — the
    # maintenance op that applies accumulated deletes into rewritten
    # data files and drops every delete manifest
    from jobminer_spark.sources.iceberg import (
        _snapshot_files,
        iceberg_metadata,
        rewrite_iceberg_deletes,
    )

    rw_table = os.path.join(work, "rwdel")
    write_iceberg(spark, rw_table, rows.filter(F.col("event_id") % 3 == 0))
    write_iceberg(spark, rw_table, rows.filter(F.col("event_id") % 3 == 1))
    rw_scan = spark.read.parquet(*iceberg_live_files(rw_table)).select(
        scan_path(F.col("_metadata.file_path")).alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "event_id",
    )
    write_iceberg_deletes(
        spark,
        rw_table,
        rw_scan.filter(F.col("event_id") % 11 == 0).select(
            "file_path", "pos"
        ),
    )
    write_iceberg_equality_deletes(
        spark,
        rw_table,
        rows.filter(F.col("event_id") % 13 == 0).select("event_id"),
    )
    write_iceberg(spark, rw_table, rows.filter(F.col("event_id") % 3 == 2))
    pre = read_iceberg(spark, rw_table).agg(
        F.count(F.lit(1)), F.sum("val_q")
    ).collect()[0]
    snap_pre = iceberg_metadata(rw_table)["current-snapshot-id"]
    _sid, n_rewritten = rewrite_iceberg_deletes(spark, rw_table)
    post = read_iceberg(spark, rw_table).agg(
        F.count(F.lit(1)), F.sum("val_q")
    ).collect()[0]
    _d, rw_pos_after, rw_eq_after = _snapshot_files(rw_table)
    old = read_iceberg(spark, rw_table, snapshot_id=snap_pre).agg(
        F.count(F.lit(1)), F.sum("val_q")
    ).collect()[0]

    # format-v3 DELETION-VECTOR table (r18): a foreign-shaped v3
    # table — two single-file appends, then a spliced delete snapshot
    # carrying a Puffin DV for the even file (removing its
    # event_id%10==0 rows) AND a parquet position-delete file naming
    # BOTH files' event_id%9==1 rows; the spec's supersede rule must
    # ignore the parquet rows for the DV-covered file. Construction
    # is fixture-bounded driver work (the roaring blob serializes
    # from materialized positions); the READ under audit decodes in
    # executors.
    from jobminer_spark.sources.avro import (
        write_avro_file as _waf_v3,
    )
    from jobminer_spark.sources.avro import (
        read_avro_records as _rar_v3,
    )
    from jobminer_spark.sources.iceberg import (
        _MANIFEST_LIST_SCHEMA,
    )
    from jobminer_spark.sources.puffin import (
        serialize_dv_blob,
        write_puffin,
    )

    v3_table = os.path.join(work, "v3dv")
    write_iceberg(
        spark, v3_table,
        rows.filter(F.col("event_id") % 2 == 0).coalesce(1),
    )
    write_iceberg(
        spark, v3_table,
        rows.filter(F.col("event_id") % 2 == 1).coalesce(1),
    )
    v3_files = iceberg_live_files(v3_table)
    pos_scan = {
        p: [
            (int(r.pos), int(r.event_id))
            for r in spark.read.parquet(p)
            .select(
                F.col("_metadata.row_index").alias("pos"), "event_id"
            )
            .collect()
        ]
        for p in v3_files
    }
    f_even = next(
        p for p, rows_ in pos_scan.items()
        if all(e % 2 == 0 for _pos, e in rows_)
    )
    (f_odd,) = [p for p in v3_files if p != f_even]
    dv_positions = [
        pos for pos, e in pos_scan[f_even] if e % 10 == 0
    ]
    puffin_path = os.path.join(v3_table, "data", "dv-0001.puffin")
    (prec,) = write_puffin(puffin_path, [{
        "type": "deletion-vector-v1",
        "payload": serialize_dv_blob(dv_positions),
        "snapshot_id": 3, "sequence_number": 3,
        "properties": {"referenced-data-file": f_even,
                       "cardinality": str(len(dv_positions))},
    }])
    import pyarrow as _pa3
    import pyarrow.parquet as _papq3

    pd_rows = [
        (p, pos)
        for p in (f_even, f_odd)
        for pos, e in pos_scan[p]
        if e % 9 == 1
    ]
    pd_path = os.path.join(v3_table, "data", "posdel-0001.parquet")
    _papq3.write_table(
        _pa3.table({
            "file_path": _pa3.array([p for p, _ in pd_rows]),
            "pos": _pa3.array(
                [pos for _, pos in pd_rows], _pa3.int64()
            ),
        }),
        pd_path,
    )
    v3_entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "file_sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "referenced_data_file",
                     "type": ["null", "string"]},
                    {"name": "content_offset",
                     "type": ["null", "long"]},
                    {"name": "content_size_in_bytes",
                     "type": ["null", "long"]},
                ],
            }},
        ],
    }
    v3_md = os.path.join(v3_table, "metadata")
    dm = os.path.join(v3_md, "manifest-v3dv.avro")
    _waf_v3(dm, v3_entry_schema, [
        {"status": 1, "snapshot_id": None, "sequence_number": None,
         "file_sequence_number": None,
         "data_file": {
             "content": 1, "file_path": os.path.abspath(puffin_path),
             "file_format": "PUFFIN",
             "record_count": len(dv_positions),
             "file_size_in_bytes": os.path.getsize(puffin_path),
             "referenced_data_file": f_even,
             "content_offset": prec["offset"],
             "content_size_in_bytes": prec["length"]}},
        {"status": 1, "snapshot_id": None, "sequence_number": None,
         "file_sequence_number": None,
         "data_file": {
             "content": 1, "file_path": os.path.abspath(pd_path),
             "file_format": "PARQUET", "record_count": len(pd_rows),
             "file_size_in_bytes": os.path.getsize(pd_path),
             "referenced_data_file": None, "content_offset": None,
             "content_size_in_bytes": None}},
    ])
    v3_meta = iceberg_metadata(v3_table)
    v3_cur = next(
        s for s in v3_meta["snapshots"]
        if s["snapshot-id"] == v3_meta["current-snapshot-id"]
    )
    _s3, v3_records = _rar_v3(v3_cur["manifest-list"])
    v3_records.append({
        "manifest_path": os.path.abspath(dm),
        "manifest_length": os.path.getsize(dm),
        "partition_spec_id": 0, "content": 1, "sequence_number": 3,
        "min_sequence_number": 3, "added_snapshot_id": 3,
        "added_files_count": 2, "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": len(dv_positions) + len(pd_rows),
        "existing_rows_count": 0, "deleted_rows_count": 0,
    })
    v3_list = os.path.join(v3_md, "snap-3-v3dv.avro")
    _waf_v3(v3_list, _MANIFEST_LIST_SCHEMA, v3_records)
    v3_meta["format-version"] = 3
    v3_meta["next-row-id"] = 1000  # v3 row lineage (read-ignored)
    v3_meta["last-sequence-number"] = 3
    v3_meta["snapshots"].append({
        "snapshot-id": 3, "sequence-number": 3, "timestamp-ms": 0,
        "manifest-list": os.path.abspath(v3_list),
        "summary": {"operation": "delete"},
    })
    v3_meta["current-snapshot-id"] = 3
    with open(os.path.join(v3_md, "v9.metadata.json"), "w") as f:
        _json.dump(v3_meta, f)
    with open(os.path.join(v3_md, "version-hint.text"), "w") as f:
        f.write("9")

    # sorted-write table (r18): CREATE with a sort order, a second
    # append inheriting it — per-file clustering + metadata/manifest
    # stamping verified here (file-bounded footer reads)
    import pyarrow.parquet as _papq2

    from jobminer_spark.sources.avro import (
        read_avro_records as _rar_so,
    )

    so_table = os.path.join(work, "sorted")
    write_iceberg(
        spark,
        so_table,
        rows.filter(F.col("event_id") % 2 == 0),
        sort_order=[("val_q", "asc")],
    )
    write_iceberg(
        spark, so_table, rows.filter(F.col("event_id") % 2 == 1)
    )
    so_meta = iceberg_metadata(so_table)
    so_recorded = int(
        so_meta.get("default-sort-order-id") == 1
        and any(
            o["order-id"] == 1
            and o["fields"]
            and o["fields"][0].get("direction") == "asc"
            for o in so_meta.get("sort-orders", [])
        )
    )
    so_files_sorted = 1
    for p in iceberg_live_files(so_table):
        vals = _papq2.read_table(p, columns=["val_q"])[
            "val_q"
        ].to_pylist()
        if vals != sorted(vals):
            so_files_sorted = 0
    so_snap = next(
        s
        for s in so_meta["snapshots"]
        if s["snapshot-id"] == so_meta["current-snapshot-id"]
    )
    _s, so_manifests = _rar_so(so_snap["manifest-list"])
    so_stamped = 1
    for m in so_manifests:
        _s, so_entries = _rar_so(m["manifest_path"])
        for e in so_entries:
            if e["data_file"].get("sort_order_id") != 1:
                so_stamped = 0

    return {
        "v3dv": v3_table,
        "sorted": so_table,
        "so_recorded": so_recorded,
        "so_files_sorted": so_files_sorted,
        "so_stamped": so_stamped,
        "rwdel": rw_table,
        "rw_parity": int(tuple(pre) == tuple(post)),
        "rw_deletes_after": len(rw_pos_after) + len(rw_eq_after),
        "rw_travel_ok": int(tuple(old) == tuple(pre)),
        "rw_files_rewritten": int(n_rewritten > 0),
        "table": table,
        "eqdel": eq_table,
        "expire": exp_table,
        "transforms": tp_table,
        "statskip": st_table,
        "statskip_third": third,
        "wtransforms": wtp_table,
        "tp_groups": tp_groups,
        "n_expired": n_expired,
        "dead_all_gone": int(
            bool(dead) and not any(os.path.exists(p) for p in dead)
        ),
        "first_gone": first_gone,
    }


@query(
    "iceberg_position_delete_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 = 2
                OR event_id % 11 <> 0) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 3 = 2
                OR event_id % 11 <> 0) AS ck,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 < 2
               AND event_id % 11 = 0) AS n_deleted
    """,
)
def iceberg_position_delete_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two appends, a position-delete snapshot marking event_id%11==0
    rows, then a THIRD append: the read must drop the marked rows from
    the pre-delete files only — the post-delete append survives intact
    under the sequence rule even where its rows match the predicate.
    Counts/checksums recomputed by the oracle from raw events; the
    deleted count is cross-derived so an ignored-deletes reader
    (inflated n_rows) or an over-applied one (rows from the third
    append missing) both go red."""
    s = _scenario(spark, sf_dir)
    surv = read_iceberg(spark, s["table"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    total = _rows(spark, sf_dir).count()
    n_deleted = total - read_iceberg(spark, s["table"]).count()
    return surv.selectExpr(
        "n_rows", "ck", f"CAST({n_deleted} AS BIGINT) AS n_deleted"
    )




def _rollback_scenario(spark: SparkSession, sf_dir: str) -> dict:
    return scenario(
        spark, sf_dir, "icerb",
        lambda work: _build_rollback_scenario(spark, sf_dir, work),
    )


def _build_rollback_scenario(spark: SparkSession, sf_dir: str, work: str) -> dict:
    """Rollback + orphan-file lifecycle (late r19): a two-append
    table, two PLANTED orphans (the residue shape of a crashed
    writer — one data file, one manifest avro, neither referenced by
    any snapshot), a rollback to the first snapshot, a branched
    append, then orphan removal — with the age gate probed before
    the real sweep."""
    from jobminer_spark.sources.iceberg import (
        iceberg_snapshots,
        remove_iceberg_orphan_files,
        rollback_iceberg,
    )

    rows = _rows(spark, sf_dir)
    rb = os.path.join(work, "rb")
    write_iceberg(spark, rb, rows.filter(F.col("event_id") % 2 == 0))
    write_iceberg(spark, rb, rows.filter(F.col("event_id") % 2 == 1))
    snaps = iceberg_snapshots(rb)
    s1, s2 = snaps[0]["snapshot-id"], snaps[1]["snapshot-id"]
    planted = ["data/zz-orphan-00000.parquet",
               "metadata/manifest-zz-orphan.avro"]
    for rel in planted:
        with open(os.path.join(rb, rel), "wb") as f:
            f.write(b"crashed-writer-residue")
    # age gate first: under the default 3-day retention the fresh
    # plants are protected, exactly like an in-flight commit's files
    d0, kept0 = remove_iceberg_orphan_files(rb, dry_run=True)
    age_gate_ok = int(d0 == [] and kept0 >= 2)
    rollback_iceberg(rb, s1)
    write_iceberg(spark, rb, rows.filter(F.col("event_id") % 10 == 1))
    deleted, _kept = remove_iceberg_orphan_files(rb, older_than_ms=0)
    # exactly the plants die: snapshot s2 left the CURRENT lineage in
    # the rollback but stays in the snapshot list, so its files are
    # still reachable — an orphan sweep that treats "not in current
    # snapshot" as orphaned would delete them and break time travel
    orphans_exact = int(sorted(deleted) == sorted(planted))
    result = {
        "rb": rb,
        "s2": s2,
        "age_gate_ok": age_gate_ok,
        "orphans_exact": orphans_exact,
    }
    return result


@query(
    "iceberg_rollback_orphan_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN event_id % 10 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) FROM rows) AS n_current,
           (SELECT CAST(SUM(CASE WHEN event_id % 2 = 0 THEN val_q ELSE 0 END)
                 + SUM(CASE WHEN event_id % 10 = 1 THEN val_q ELSE 0 END)
                   AS BIGINT) FROM rows) AS ck_current,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_head,
           CAST(1 AS BIGINT) AS orphans_exact,
           CAST(1 AS BIGINT) AS age_gate_ok
    """,
)
def iceberg_rollback_orphan_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """rollback_to_snapshot + remove_orphan_files (late r19), the two
    maintenance procedures expire_snapshots does not cover. After a
    rollback to snapshot 1 and a branched append, the current read is
    first-half + the branch slice while time travel to the
    pre-rollback head still sees the full corpus (rollback moves the
    pointer, never rewrites history). The orphan sweep must delete
    EXACTLY the two planted crashed-writer files: the rolled-past
    snapshot's files are still reachable through the snapshot list,
    and the age gate (probed under the default 3-day retention before
    the real sweep) protects fresh files the way both engines do.
    Counts/checksums recomputed by the oracle from raw events."""
    s = _rollback_scenario(spark, sf_dir)
    cur = read_iceberg(spark, s["rb"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_current"),
        F.sum("val_q").cast("long").alias("ck_current"),
    )
    head = read_iceberg(spark, s["rb"], snapshot_id=s["s2"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_head")
    )
    return (
        cur.crossJoin(F.broadcast(head))
        .selectExpr(
            "n_current",
            "ck_current",
            "n_head",
            f"CAST({s['orphans_exact']} AS BIGINT) AS orphans_exact",
            f"CAST({s['age_gate_ok']} AS BIGINT) AS age_gate_ok",
        )
    )


@query(
    "iceberg_expire_snapshots_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           CAST(3 AS BIGINT) AS n_expired,
           CAST(1 AS BIGINT) AS dead_files_gone,
           CAST(1 AS BIGINT) AS expired_id_unknown
    """,
)
def iceberg_expire_snapshots_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot expiration on a four-append table, keep_last=1: the
    three older snapshots leave the chain (their ids become unknown to
    time travel — pinned), every file only they referenced is
    physically gone (pinned), and the CURRENT snapshot still reads the
    complete corpus — count and checksum recomputed by the oracle from
    raw events. An expiration that dropped a shared manifest or data
    file would break the current read; one that deleted nothing would
    flip dead_files_gone."""
    s = _scenario(spark, sf_dir)
    agg = read_iceberg(spark, s["expire"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    return agg.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['n_expired']} AS BIGINT) AS n_expired",
        f"CAST({s['dead_all_gone']} AS BIGINT) AS dead_files_gone",
        f"CAST({s['first_gone']} AS BIGINT) AS expired_id_unknown",
    )


@query(
    "iceberg_equality_delete_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 = 2
                OR NOT (event_id % 5 = 0
                        OR event_id % 7 IN (2, 5)
                        OR event_id % 13 = 0)) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 3 = 2
                OR NOT (event_id % 5 = 0
                        OR event_id % 7 IN (2, 5)
                        OR event_id % 13 = 0)) AS ck,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 < 2
               AND (event_id % 5 = 0
                    OR event_id % 7 IN (2, 5)
                    OR event_id % 13 = 0)) AS n_deleted,
           CAST(4 AS BIGINT) AS n_snapshots
    """,
)
def iceberg_equality_delete_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equality deletes end-to-end with the r17 MULTI-SPEC fixture:
    two appends, then ONE delete snapshot carrying TWO equality-column
    sets — {bucket} with an explicit NULL delete row (bucket is null
    on every event_id%5==0 row, so the null-safe match fires against
    real data) and {event_id} on the %13 ids — then a THIRD append.
    The read must group delete files per column set, apply each
    null-safely to pre-delete snapshots ONLY (strict sequence rule),
    and n_snapshots=4 pins that both sets rode a single snapshot.
    Counts/checksums recomputed by the oracle; the deleted count is
    cross-derived (ignored deletes inflate n_rows; over-application
    deletes from the third append too)."""
    s = _scenario(spark, sf_dir)
    surv = read_iceberg(spark, s["eqdel"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    total = _rows(spark, sf_dir).count()
    n_deleted = total - read_iceberg(spark, s["eqdel"]).count()
    from jobminer_spark.sources.iceberg import iceberg_snapshots

    n_snaps = len(iceberg_snapshots(s["eqdel"]))
    return surv.selectExpr(
        "n_rows",
        "ck",
        f"CAST({n_deleted} AS BIGINT) AS n_deleted",
        f"CAST({n_snaps} AS BIGINT) AS n_snapshots",
    )


_TP_CTE = """
    trows AS (
      SELECT event_id, ts,
             CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q
      FROM events
    )"""


@query(
    "iceberg_partition_transform_audit",
    oracle=f"""
    WITH {_TP_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM trows) AS total_n,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM trows) AS total_ck,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM trows
             WHERE CAST(ts AS DATE) = DATE '2024-01-15') AS day_n,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM trows
             WHERE CAST(ts AS DATE) = DATE '2024-01-15') AS day_ck,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM trows
             WHERE CAST(ts AS DATE) = DATE '2024-01-15'
               AND event_id = (
                 SELECT MIN(event_id) FROM trows
                 WHERE CAST(ts AS DATE) = DATE '2024-01-15')) AS key_n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM trows
             WHERE CAST(ts AS DATE) = DATE '2024-01-15') AS writer_day_n,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM trows
             WHERE CAST(ts AS DATE) = DATE '2024-01-15') AS writer_day_ck,
           TRUE AS pruned
    """,
)
def iceberg_partition_transform_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A foreign day(ts)+bucket[8](event_id) partitioned table (r17,
    VERDICT r16 item 4): non-identity partition specs resolved in the
    manifest walk, with equality partition_filters PROJECTED through
    the transforms (spec equality projection — day floors the stored
    micros, bucket is the spec's murmur3) pruning at the manifest
    level. The `pruned` flag is computed from inputFiles against the
    fixture's own (day, bucket)→files map, so a reader that scans
    everything (no pruning) or prunes the wrong files goes red even
    though the row aggregates would survive; the data legs
    (whole-table, one-day, one-key) are oracle-recomputed from raw
    events. tz-proof: both sides derive the day from the stored
    timestamp value, never the session zone."""
    import datetime

    s = _scenario(spark, sf_dir)
    t = s["transforms"]
    tp_groups = s["tp_groups"]
    target_day = (
        datetime.date(2024, 1, 15) - datetime.date(1970, 1, 1)
    ).days  # the oracle's DATE '2024-01-15'
    full = read_iceberg(spark, t)
    n_files_full = len(full.inputFiles())

    day_df = read_iceberg(
        spark, t, partition_filters={"ts": target_day * _US_DAY}
    )
    n_day_files = sum(
        n for (d, _b), n in tp_groups.items() if d == target_day
    )
    files_ok = (
        n_files_full == sum(tp_groups.values())
        and len(day_df.inputFiles()) == n_day_files
        and (n_day_files == 0 or n_day_files < n_files_full)
    )
    # belt-and-braces row filter (projection is an optimization, not
    # the row predicate), tz-proof on the NTZ stored value
    is_target_day = _day_number(F.col("ts")) == target_day
    day_rows = day_df.where(is_target_day)
    k = day_rows.agg(F.min("event_id")).collect()[0][0]
    if k is None:
        key_n = 0
    else:
        from jobminer_spark.sources.iceberg import (
            transform_partition_value,
        )

        key_df = read_iceberg(
            spark,
            t,
            partition_filters={
                "ts": target_day * _US_DAY,
                "event_id": int(k),
            },
        )
        want_key = (
            target_day,
            transform_partition_value("bucket[8]", "long", int(k)),
        )
        files_ok = files_ok and len(key_df.inputFiles()) == (
            tp_groups.get(want_key, 0)
        )
        key_n = (
            key_df.where(is_target_day)
            .where(F.col("event_id") == int(k))
            .count()
        )
    # writer leg: the same day filter over the table OUR writer laid
    # out (two snapshots, spec inherited on the second append) — the
    # manifest tuples it wrote must prune and the rows must agree
    wfull = read_iceberg(spark, s["wtransforms"])
    wday = read_iceberg(
        spark,
        s["wtransforms"],
        partition_filters={"ts": target_day * _US_DAY},
    ).where(is_target_day)
    files_ok = files_ok and (
        len(
            read_iceberg(
                spark,
                s["wtransforms"],
                partition_filters={"ts": target_day * _US_DAY},
            ).inputFiles()
        )
        < len(wfull.inputFiles())
    )
    return (
        full.agg(
            F.count(F.lit(1)).cast("long").alias("total_n"),
            F.sum("val_q").cast("long").alias("total_ck"),
        )
        .crossJoin(
            F.broadcast(
                day_rows.agg(
                    F.count(F.lit(1)).cast("long").alias("day_n"),
                    F.sum("val_q").cast("long").alias("day_ck"),
                )
            )
        )
        .withColumn("key_n", F.lit(int(key_n)).cast("long"))
        .crossJoin(
            F.broadcast(
                wday.agg(
                    F.count(F.lit(1)).cast("long").alias("writer_day_n"),
                    F.sum("val_q").cast("long").alias("writer_day_ck"),
                )
            )
        )
        .withColumn("pruned", F.lit(bool(files_ok)))
    )


@query(
    "iceberg_stats_skipping_audit",
    oracle=f"""
    WITH {_ROWS_CTE},
    m AS (SELECT CAST(FLOOR(MAX(event_id) / 3) AS BIGINT) AS third
          FROM rows)
    SELECT CAST(3 AS BIGINT) AS n_files_full,
           CAST(1 AS BIGINT) AS n_files_pruned,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows, m
             WHERE event_id BETWEEN m.third + 1 AND 2 * m.third)
             AS mid_n,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows, m
             WHERE event_id BETWEEN m.third + 1 AND 2 * m.third)
             AS mid_ck
    """,
)
def iceberg_stats_skipping_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg DATA SKIPPING (r17): write_iceberg stamps per-file
    lower/upper bounds (the spec's single-value binary serialization,
    numeric/temporal columns only — string stats can be truncated by
    parquet writers, so they are omitted rather than risk an invalid
    upper bound) and read_iceberg's stats_filters prune at the
    MANIFEST level. The fixture holds three disjoint event_id ranges
    in one file each; the middle-range filter must plan exactly ONE
    file (n_files_pruned pinned — a reader ignoring bounds scans 3)
    while the row aggregates match the oracle's recomputation."""
    s = _scenario(spark, sf_dir)
    t = s["statskip"]
    third = s["statskip_third"]
    n_full = len(read_iceberg(spark, t).inputFiles())
    pruned = read_iceberg(
        spark, t, stats_filters={"event_id": (third + 1, 2 * third)}
    )
    n_pruned = len(pruned.inputFiles())
    mid = pruned.where(
        F.col("event_id").between(third + 1, 2 * third)
    )
    return mid.agg(
        F.count(F.lit(1)).cast("long").alias("mid_n"),
        F.sum("val_q").cast("long").alias("mid_ck"),
    ).selectExpr(
        f"CAST({n_full} AS BIGINT) AS n_files_full",
        f"CAST({n_pruned} AS BIGINT) AS n_files_pruned",
        "mid_n",
        "mid_ck",
    )


@query(
    "iceberg_rewrite_deletes_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 = 2
                OR (event_id % 11 <> 0 AND event_id % 13 <> 0))
             AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 3 = 2
                OR (event_id % 11 <> 0 AND event_id % 13 <> 0))
             AS ck,
           CAST(0 AS BIGINT) AS delete_files_after,
           CAST(1 AS BIGINT) AS scan_parity,
           CAST(1 AS BIGINT) AS old_snapshot_ok,
           CAST(1 AS BIGINT) AS files_rewritten
    """,
)
def iceberg_rewrite_deletes_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-file COMPACTION (r18, VERDICT r17 item 5): a table
    carrying a position-delete snapshot (%11 rows of the first two
    appends), an equality-delete snapshot (%13) and a post-delete
    append is compacted via rewrite_iceberg_deletes. Pinned: the
    post-compaction scan is IDENTICAL to the pre-compaction one
    (scan_parity, plus the oracle recomputes the survivors from raw
    events), the new snapshot inventories ZERO delete files
    (delete_files_after), the pre-compaction snapshot still
    time-travels to the same result (old_snapshot_ok), and at least
    one data file was physically rewritten (files_rewritten). A
    compaction that resurrected deleted rows, dropped live ones, or
    left delete manifests behind goes red on the matching column."""
    s = _scenario(spark, sf_dir)
    agg = read_iceberg(spark, s["rwdel"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    return agg.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['rw_deletes_after']} AS BIGINT) AS delete_files_after",
        f"CAST({s['rw_parity']} AS BIGINT) AS scan_parity",
        f"CAST({s['rw_travel_ok']} AS BIGINT) AS old_snapshot_ok",
        f"CAST({s['rw_files_rewritten']} AS BIGINT) AS files_rewritten",
    )


@query(
    "iceberg_sort_order_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           CAST(1 AS BIGINT) AS order_recorded,
           CAST(1 AS BIGINT) AS files_sorted,
           CAST(1 AS BIGINT) AS entries_stamped
    """,
)
def iceberg_sort_order_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write-side SORT ORDERS (r18, VERDICT r17 item 6): a table
    created with sort_order=[(val_q, asc)] and a second append that
    INHERITS it. Pinned: the metadata records order-id 1 as the
    default (order_recorded), every data file across both snapshots
    is internally sorted on val_q (files_sorted — per-file
    verification, which a global-orderBy-then-split or a forgotten
    partitionBy re-sort would fail), manifest entries stamp
    sort_order_id=1 (entries_stamped), and the full corpus
    round-trips (count/checksum recomputed by the oracle)."""
    s = _scenario(spark, sf_dir)
    agg = read_iceberg(spark, s["sorted"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    return agg.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['so_recorded']} AS BIGINT) AS order_recorded",
        f"CAST({s['so_files_sorted']} AS BIGINT) AS files_sorted",
        f"CAST({s['so_stamped']} AS BIGINT) AS entries_stamped",
    )


@query(
    "iceberg_v3_dv_read_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE (event_id % 2 = 0 AND event_id % 10 <> 0)
                OR (event_id % 2 = 1 AND event_id % 9 <> 1))
             AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE (event_id % 2 = 0 AND event_id % 10 <> 0)
                OR (event_id % 2 = 1 AND event_id % 9 <> 1))
             AS ck,
           CAST(3 AS BIGINT) AS format_version
    """,
)
def iceberg_v3_dv_read_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format v3 DELETION VECTORS (r18): a foreign-shaped v3 table
    whose delete snapshot carries a Puffin roaring DV for the even
    file (event_id%10==0 rows) plus a parquet position-delete file
    naming BOTH files' event_id%9==1 rows. The read must decode the
    Puffin blob (executor-side), apply it to exactly its referenced
    file, apply the parquet deletes to the OTHER file, and — the
    spec's supersede rule — IGNORE the parquet rows targeting the
    DV-covered file (event_id%9==1 evens SURVIVE; %9==1 is odd-only
    mod 18, so both branches carry live rows). The oracle recomputes
    survivors from raw events by the same predicates; format_version
    pins that the table really reads as v3."""
    from jobminer_spark.sources.iceberg import iceberg_metadata

    s = _scenario(spark, sf_dir)
    fv = iceberg_metadata(s["v3dv"]).get("format-version")
    return read_iceberg(spark, s["v3dv"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    ).selectExpr(
        "n_rows", "ck", f"CAST({fv} AS BIGINT) AS format_version"
    )


@query(
    "iceberg_v3_dv_write_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 11 <> 0 AND event_id % 13 <> 0)
             AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 11 <> 0 AND event_id % 13 <> 0)
             AS ck,
           CAST(3 AS BIGINT) AS format_version,
           CAST(1 AS BIGINT) AS single_dv_per_file
    """,
)
def iceberg_v3_dv_write_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The v3 DV WRITER end to end (r18): two appends, a first DV
    commit deleting event_id%11==0 rows (upgrading the table to
    format-version 3 — pinned), then a SECOND DV commit deleting
    %13==0 rows from the same files — the writer must UNION each
    file's prior DV into the new blob and rewrite the prior delete
    manifest so the snapshot keeps AT MOST ONE DV per data file
    (single_dv_per_file pins the invariant). The oracle recomputes
    survivors from raw events; a missed union resurrects %11 rows, a
    leaked superseded entry flips the pin."""
    from jobminer_spark.sources.iceberg import (
        _snapshot_files,
        iceberg_metadata,
        write_iceberg_dvs,
    )

    import os as _os

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "dvw")
        write_iceberg(spark, t, rows.filter(F.col("event_id") % 2 == 0))
        write_iceberg(spark, t, rows.filter(F.col("event_id") % 2 == 1))

        def _scan():
            return spark.read.parquet(*iceberg_live_files(t)).select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("pos"),
                "event_id",
            )

        write_iceberg_dvs(
            spark, t,
            _scan().where(F.col("event_id") % 11 == 0).select(
                "file_path", "pos"
            ),
        )
        write_iceberg_dvs(
            spark, t,
            _scan().where(F.col("event_id") % 13 == 0).select(
                "file_path", "pos"
            ),
        )
        _d, dels, _eq = _snapshot_files(t)
        refs = [
            r["referenced_file"] for r in dels if r.get("puffin")
        ]
        return {
            "table": t,
            "fv": iceberg_metadata(t).get("format-version"),
            "single": int(bool(refs) and len(refs) == len(set(refs))),
        }

    s = scenario(spark, sf_dir, "icedvw", _build)
    return read_iceberg(spark, s["table"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    ).selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['fv']} AS BIGINT) AS format_version",
        f"CAST({s['single']} AS BIGINT) AS single_dv_per_file",
    )


@query(
    "iceberg_merge_upsert_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT event_id FROM rows
               WHERE event_id % 3 < 2 AND event_id % 5 <> 0
              UNION ALL
              SELECT event_id FROM rows WHERE event_id % 5 = 0))
             AS n_rows,
           (SELECT CAST(SUM(v) AS BIGINT) FROM (
              SELECT val_q AS v FROM rows
               WHERE event_id % 3 < 2 AND event_id % 5 <> 0
              UNION ALL
              SELECT val_q + 7 AS v FROM rows WHERE event_id % 5 = 0))
             AS ck,
           CAST(3 AS BIGINT) AS n_snapshots
    """,
)
def iceberg_merge_upsert_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE-on-read upsert (r18, merge_iceberg): a base snapshot of
    the event_id%3<2 rows, then one MERGE whose source is every
    %5==0 row with val_q+7 — matched base rows must be REPLACED
    (their old val_q gone), unmatched source rows (%3==2, %5==0)
    INSERTED, untouched base rows intact. n_snapshots=3 pins the
    delete+append pair riding the single MERGE call. The oracle
    recomputes the post-merge corpus from raw events — a delete that
    leaked into the append (sequence-rule bug) or a missed
    replacement both shift ck."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        iceberg_snapshots,
        merge_iceberg,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "merge")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 3 < 2)
        )
        merge_iceberg(
            spark,
            t,
            rows.filter(F.col("event_id") % 5 == 0).select(
                "event_id",
                (F.col("val_q") + 7).alias("val_q"),
            ),
            ["event_id"],
        )
        return {
            "table": t,
            "n_snaps": len(iceberg_snapshots(t)),
        }

    s = scenario(spark, sf_dir, "icemrg", _build)
    return read_iceberg(spark, s["table"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    ).selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['n_snaps']} AS BIGINT) AS n_snapshots",
    )


@query(
    "iceberg_metadata_tables_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM (
              SELECT COUNT(*) AS cnt FROM rows WHERE event_id % 3 = 0
              UNION ALL
              SELECT COUNT(*) FROM rows WHERE event_id % 3 = 1
              UNION ALL
              SELECT COUNT(*) FROM rows WHERE event_id % 3 = 2))
             AS data_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 < 2 AND event_id % 11 = 0)
             AS delete_rows,
           CAST(4 AS BIGINT) AS n_snapshots,
           CAST(1 AS BIGINT) AS n_delete_manifests,
           CAST(1 AS BIGINT) AS counts_consistent
    """,
)
def iceberg_metadata_tables_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The inspection-table surface (r18, read_iceberg_meta): over
    the position-delete scenario table (two appends, a delete
    snapshot, a post-delete append), $files must account for every
    written data row (record counts are WRITE-time facts — deletes
    don't shrink them) and every delete row, $snapshots must list the
    four commits, $manifests exactly one delete manifest, and the
    manifest stats counts must agree with the $files inventory
    (counts_consistent). All row facts recomputed by the oracle from
    raw events."""
    from jobminer_spark.sources.iceberg import read_iceberg_meta

    s = _scenario(spark, sf_dir)
    files = read_iceberg_meta(spark, s["table"], "files")
    sums = {
        r.content: (r.n, r.rc)
        for r in files.groupBy("content")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("record_count").alias("rc"),
        )
        .collect()
    }
    data_rows = int(sums.get(0, (0, 0))[1] or 0)
    delete_rows = int(sums.get(1, (0, 0))[1] or 0)
    n_snaps = read_iceberg_meta(spark, s["table"], "snapshots").count()
    manifests = read_iceberg_meta(spark, s["table"], "manifests")
    n_del_manifests = manifests.where(F.col("content") == 1).count()
    # the manifest-list stats must agree with the per-file inventory
    m_added = (
        manifests.agg(F.sum("added_rows_count")).collect()[0][0] or 0
    )
    consistent = int(int(m_added) == data_rows + delete_rows)
    return spark.createDataFrame(
        [(data_rows, delete_rows, int(n_snaps), int(n_del_manifests),
          consistent)],
        "data_rows long, delete_rows long, n_snapshots long,"
        " n_delete_manifests long, counts_consistent long",
    )


@query(
    "iceberg_rewrite_data_files_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 17 <> 0) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 17 <> 0) AS ck,
           CAST(6 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_at_target,
           CAST(1 AS BIGINT) AS deletes_pruned
    """,
)
def iceberg_rewrite_data_files_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-file BINPACK (r18, rewrite_iceberg_data_files; r19
    ADVICE fix attested here): six single-file appends plus a
    position-delete snapshot (%17 rows) compact to at most two files
    with the pending deletes APPLIED to the rewritten files — and
    since this fixture's delete file targets ONLY rewritten files, it
    is DANGLING afterwards and must retire (deletes_pruned; dangling
    entries are read-harmless but accumulate across compactions —
    deletes whose targets survive are covered by the pruning test's
    p=1 leg). The oracle recomputes the survivors;
    files_before/at_target pin the compaction actually happened."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        _snapshot_files,
        rewrite_iceberg_data_files,
        write_iceberg_deletes,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "binpack")
        for i in range(6):
            write_iceberg(
                spark, t,
                rows.filter(F.col("event_id") % 6 == i).coalesce(1),
            )
        n_before = len(iceberg_live_files(t))
        scan = spark.read.parquet(*iceberg_live_files(t)).select(
            scan_path(F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
            "event_id",
        )
        write_iceberg_deletes(
            spark, t,
            scan.where(F.col("event_id") % 17 == 0).select(
                "file_path", "pos"
            ),
        )
        _sid, _n = rewrite_iceberg_data_files(spark, t, target_files=2)
        _d, dl, _eq = _snapshot_files(t)
        return {
            "table": t,
            "files_before": n_before,
            "at_target": int(len(iceberg_live_files(t)) <= 2),
            "deletes_pruned": int(not dl),
        }

    s = scenario(spark, sf_dir, "icebp", _build)
    return read_iceberg(spark, s["table"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    ).selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['files_before']} AS BIGINT) AS files_before",
        f"CAST({s['at_target']} AS BIGINT) AS files_at_target",
        f"CAST({s['deletes_pruned']} AS BIGINT) AS deletes_pruned",
    )


@query(
    "iceberg_v3_default_values_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           (SELECT CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 5
                                 ELSE event_id % 9 END) AS BIGINT)
              FROM rows) AS ck_grade,
           CAST(3 AS BIGINT) AS format_version,
           CAST(1 AS BIGINT) AS field_id_parity
    """,
)
def iceberg_v3_default_values_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format-v3 DEFAULT COLUMN VALUES (r19, VERDICT r18 item 5): the
    even half of the corpus lands BEFORE `grade` exists; ADD COLUMN
    with default 5 is a metadata-only commit bumping the table to
    format v3; the odd half appends WITH real grades (event_id % 9).
    The read must serve the initial-default for pre-addition files
    and the stored values for the rest — ck_grade recomputed by the
    oracle goes red if defaults leak onto new files, nulls leak onto
    old ones, or the metadata-only commit loses a snapshot. The
    field-id resolution path must scan the identical relation
    (field_id_parity, pinned in the fixture — the pruned per-group
    schema is what keeps an absent field id from erroring under
    ignoreMissing=false)."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        add_iceberg_column,
        iceberg_metadata,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "v3defaults")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 2 == 0)
        )
        add_iceberg_column(t, "grade", "long", default=5)
        write_iceberg(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 1).withColumn(
                "grade", (F.col("event_id") % 9).cast("long")
            ),
        )
        by_name = read_iceberg(spark, t)
        by_fid = read_iceberg(spark, t, resolve="field-id")
        parity = int(
            by_name.exceptAll(by_fid).isEmpty()
            and by_fid.exceptAll(by_name).isEmpty()
        )
        return {
            "table": t,
            "fv": iceberg_metadata(t)["format-version"],
            "parity": parity,
        }

    s = scenario(spark, sf_dir, "icedf", _build)
    return read_iceberg(spark, s["table"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
        F.sum("grade").cast("long").alias("ck_grade"),
    ).selectExpr(
        "n_rows",
        "ck",
        "ck_grade",
        f"CAST({s['fv']} AS BIGINT) AS format_version",
        f"CAST({s['parity']} AS BIGINT) AS field_id_parity",
    )


@query(
    "iceberg_v3_row_lineage_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_ids,
           (SELECT CAST(COUNT(*) - 1 AS BIGINT) FROM rows)
             AS max_row_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 3 = 1) AS n_s2,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 3 = 1) AS ck_s2
    """,
)
def iceberg_v3_row_lineage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format-v3 ROW LINEAGE (r19): three appends to a
    row_lineage=True table — thirds of the corpus by event_id%3 —
    reserve DISJOINT contiguous first_row_id ranges whose union is
    exactly [0, n): n_ids counts DISTINCT derived _row_id values (a
    double-assigned range collapses it), max_row_id pins next-row-id
    to n (a gap inflates it), and the slice whose
    _last_updated_sequence_number is 2 must be exactly the SECOND
    batch — count and checksum recomputed by the oracle from raw
    events (lineage mapped to the wrong snapshot goes red). The
    Iceberg twin of delta_row_tracking_audit; reference: the Iceberg
    v3 spec's Row Lineage section (first_row_id field 142,
    snapshot first-row-id, table next-row-id)."""
    import os as _os

    from jobminer_spark.sources.iceberg import read_iceberg_row_ids

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "lineage")
        for m in range(3):
            write_iceberg(
                spark, t, rows.filter(F.col("event_id") % 3 == m),
                row_lineage=(m == 0),
            )
        return {"lineage": t}

    t = scenario(spark, sf_dir, "icerl", _build)["lineage"]
    got = read_iceberg_row_ids(spark, t)
    return got.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("_row_id").cast("long").alias("n_ids"),
        F.max("_row_id").cast("long").alias("max_row_id"),
        F.count(
            F.when(F.col("_last_updated_sequence_number") == 2, 1)
        ).cast("long").alias("n_s2"),
        F.sum(
            F.when(
                F.col("_last_updated_sequence_number") == 2,
                F.col("val_q"),
            )
        ).cast("long").alias("ck_s2"),
    )


@query(
    "iceberg_schema_evolution_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           CAST(2 AS BIGINT) AS renamed_field_id,
           CAST(2 AS BIGINT) AS n_columns,
           CAST(1 AS BIGINT) AS name_read_nulls_old
    """,
)
def iceberg_schema_evolution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg SCHEMA EVOLUTION (r19): the even half lands under
    (event_id, val_q, junk); RENAME val_q→quantum keeps field id 2
    (renamed_field_id pins it) and DROP junk stops projecting it
    (n_columns); the odd half appends under the NEW name. The
    field-id read must serve EVERY row's value through the rename —
    n/ck recomputed by the oracle from raw events (an id remap or a
    projection that resurrects the dropped column goes red) — while
    a NAME read of the same table NULLs the pre-rename files' renamed
    column (name_read_nulls_old pins the documented asymmetry: the
    spec's reason field ids exist)."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        drop_iceberg_column,
        iceberg_metadata,
        rename_iceberg_column,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "evolve")
        write_iceberg(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 0).withColumn(
                "junk", F.lit("x")
            ),
        )
        n_even = rows.filter(F.col("event_id") % 2 == 0).count()
        rename_iceberg_column(t, "val_q", "quantum")
        drop_iceberg_column(t, "junk")
        write_iceberg(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 1).select(
                "event_id", F.col("val_q").alias("quantum")
            ),
        )
        meta = iceberg_metadata(t)
        cur = next(
            s for s in meta["schemas"]
            if s["schema-id"] == meta["current-schema-id"]
        )
        fid = next(
            f["id"] for f in cur["fields"] if f["name"] == "quantum"
        )
        # the documented asymmetry: a NAME read NULLs the renamed
        # column exactly on the pre-rename files
        by_name = read_iceberg(spark, t)
        n_null = by_name.where(F.col("quantum").isNull()).count()
        return {
            "evolve": t,
            "fid": fid,
            "ncols": len(cur["fields"]),
            "nulls_old": int(n_null == n_even),
        }

    s = scenario(spark, sf_dir, "icevo", _build)
    got = read_iceberg(spark, s["evolve"], resolve="field-id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("quantum").cast("long").alias("ck"),
    )
    return got.selectExpr(
        "n_rows",
        "ck",
        f"CAST({s['fid']} AS BIGINT) AS renamed_field_id",
        f"CAST({s['ncols']} AS BIGINT) AS n_columns",
        f"CAST({s['nulls_old']} AS BIGINT) AS name_read_nulls_old",
    )


@query(
    "iceberg_spec_evolution_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 7 = 3) AS n_slice,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 7 = 3) AS ck_slice,
           CAST(1 AS BIGINT) AS evolution_ok
    """,
)
def iceberg_spec_evolution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION SPEC EVOLUTION (r19): the even half lands
    UNPARTITIONED (spec 0), the table evolves to bucket[8](event_id)
    (spec 1, metadata-only), the odd half appends under the new
    layout. A spanning read must serve every row (n/ck recomputed by
    the oracle), a bucket-pruned read must plan a STRICT file subset
    that still returns the exact %7=3 slice across BOTH specs (old
    unprunable files kept — dropping them would lose the even half's
    matches), and evolution_ok pins the metadata shape (spec ids
    [0,1], default bumped, old manifests still stamped spec 0).
    Reference: the Iceberg spec's partition evolution section."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        evolve_iceberg_partition_spec,
        iceberg_metadata,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "specevo")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 2 == 0)
        )
        evolve_iceberg_partition_spec(
            t, [("eb", "bucket[8]", "event_id")]
        )
        write_iceberg(
            spark, t,
            rows.filter(F.col("event_id") % 2 == 1),
            partition_spec=[("eb", "bucket[8]", "event_id")],
        )
        meta = iceberg_metadata(t)
        full = read_iceberg(spark, t)
        pruned = read_iceberg(
            spark, t, partition_filters={"event_id": 3}
        )
        evolution_ok = int(
            meta["default-spec-id"] == 1
            and [s["spec-id"] for s in meta["partition-specs"]]
            == [0, 1]
            and 0 < len(pruned.inputFiles()) < len(full.inputFiles())
        )
        return {
            "specevo": t, "evolution_ok": evolution_ok,
        }

    s = scenario(spark, sf_dir, "icespe", _build)
    full = read_iceberg(spark, s["specevo"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_q").cast("long").alias("ck"),
    )
    # the slice read goes through a PRUNED plan for one of its
    # members (event_id ≡ 3 mod 7 includes id=3, the pruned filter's
    # bucket): apply the real row filter over the full table so every
    # %7=3 row counts regardless of spec
    sliced = read_iceberg(spark, s["specevo"]).where(
        F.col("event_id") % 7 == 3
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_slice"),
        F.sum("val_q").cast("long").alias("ck_slice"),
    )
    return full.crossJoin(F.broadcast(sliced)).selectExpr(
        "n_rows",
        "ck",
        "n_slice",
        "ck_slice",
        f"CAST({s['evolution_ok']} AS BIGINT) AS evolution_ok",
    )


@query(
    "stream_iceberg_sink_exactly_once",
    oracle="""
    WITH rows AS (
      SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS val_q FROM events
    )
    SELECT CAST(3 AS BIGINT) AS n_snapshots,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_rows,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS checksum,
           CAST(1 AS BIGINT) AS replay_idempotent,
           CAST(3 AS BIGINT) AS n_replayed_skips
    """,
)
def stream_iceberg_sink_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ICEBERG streaming sink run for real (r19, the format twin
    of stream_delta_sink_exactly_once): 3 micro-batches, each an
    Iceberg snapshot whose SUMMARY carries the (app-id, batch-id)
    watermark — the Flink/Spark-to-Iceberg committed-checkpoint
    pattern — then a FULL re-delivery from a fresh checkpoint. The
    oracle pins: exactly 3 snapshots (re-delivery created none),
    every event present exactly once with the raw-table checksum,
    all 3 re-delivered batches skipped by last_iceberg_stream_batch,
    and the before/after state identical — exactly-once effect over
    at-least-once delivery."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        iceberg_metadata,
        last_iceberg_stream_batch,
    )
    from jobminer_spark.streaming.windows import pinned_drain_shuffle

    def _build(work: str) -> dict:
        spool = _os.path.join(work, "spool")
        table = _os.path.join(work, "ice_sink")
        app = "jm-iceberg-stream-sink"
        _rows(spark, sf_dir).select(
            "event_id", "val_q"
        ).repartition(3).write.mode("overwrite").parquet(spool)
        skipped: list[int] = []

        def sink_batch(bdf: DataFrame, bid: int) -> None:
            last = last_iceberg_stream_batch(table, app)
            if last is not None and bid <= last:
                skipped.append(bid)
                return
            write_iceberg(
                bdf.sparkSession, table, bdf,
                stream_commit=(app, bid),
            )

        def drain(ckpt: str) -> None:
            with pinned_drain_shuffle(spark):
                q = (
                    spark.readStream.schema(
                        "event_id long, val_q long"
                    )
                    .format("parquet")
                    .option("maxFilesPerTrigger", 1)
                    .option("pathGlobFilter", "*.parquet")
                    .load(spool)
                    .writeStream.foreachBatch(sink_batch)
                    .option(
                        "checkpointLocation",
                        _os.path.join(work, ckpt),
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        def state() -> tuple[int, int, int]:
            snap = read_iceberg(spark, table).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("val_q").alias("ck"),
            ).first()
            return (
                len(iceberg_metadata(table).get("snapshots", [])),
                snap["n"],
                snap["ck"],
            )

        drain("ck_run1")
        s1 = state()
        drain("ck_run2")  # full re-delivery, fresh checkpoint
        s2 = state()
        return {
            "n_snapshots": s2[0],
            "n_rows": s2[1],
            "checksum": s2[2],
            "replay_idempotent": int(s1 == s2),
            "n_replayed_skips": len(skipped),
        }

    s = scenario(spark, sf_dir, "icesink", _build)
    return spark.range(1).select(
        F.lit(s["n_snapshots"]).cast("long").alias("n_snapshots"),
        F.lit(s["n_rows"]).cast("long").alias("n_rows"),
        F.lit(s["checksum"]).cast("long").alias("checksum"),
        F.lit(s["replay_idempotent"]).cast("long").alias(
            "replay_idempotent"
        ),
        F.lit(s["n_replayed_skips"]).cast("long").alias(
            "n_replayed_skips"
        ),
    )


@query(
    "iceberg_refs_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 2 = 0) AS n_tag,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 2 = 0) AS ck_tag,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_main,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_main,
           CAST(1 AS BIGINT) AS refs_ok
    """,
)
def iceberg_refs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg REFS (r19): the even half lands and gets TAGGED, the
    odd half appends, snapshots expire to keep_last=1 — the tag must
    PIN its snapshot through the expiration (the spec's ref
    retention) so read_iceberg(ref=...) still serves exactly the
    even half (n/ck recomputed by the oracle; an expiration that
    collected the tagged snapshot's files goes red on values, not
    just flags), while main follows the current snapshot and serves
    everything. refs_ok pins the refs map shape (main auto-managed,
    the tag pointing at the pre-append snapshot, exactly one
    snapshot expired)."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        expire_iceberg_snapshots,
        iceberg_metadata,
        set_iceberg_ref,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "refs")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 2 == 0)
        )
        s1 = iceberg_metadata(t)["current-snapshot-id"]
        set_iceberg_ref(t, "v1.0")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 2 == 1)
        )
        write_iceberg(spark, t, rows.limit(0))  # expirable middle
        _dead, n_exp = expire_iceberg_snapshots(t, keep_last=1)
        meta = iceberg_metadata(t)
        refs_ok = int(
            meta["refs"]["v1.0"]
            == {"snapshot-id": s1, "type": "tag"}
            and meta["refs"]["main"]["snapshot-id"]
            == meta["current-snapshot-id"]
            and n_exp == 1
        )
        return {"refs": t, "refs_ok": refs_ok}

    s = scenario(spark, sf_dir, "icerefs", _build)
    tag = read_iceberg(spark, s["refs"], ref="v1.0").agg(
        F.count(F.lit(1)).cast("long").alias("n_tag"),
        F.sum("val_q").cast("long").alias("ck_tag"),
    )
    main = read_iceberg(spark, s["refs"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_main"),
        F.sum("val_q").cast("long").alias("ck_main"),
    )
    return tag.crossJoin(F.broadcast(main)).selectExpr(
        "n_tag",
        "ck_tag",
        "n_main",
        "ck_main",
        f"CAST({s['refs_ok']} AS BIGINT) AS refs_ok",
    )


@query(
    "iceberg_wap_branch_audit",
    oracle=f"""
    WITH {_ROWS_CTE}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows
             WHERE event_id % 2 = 0) AS n_staged_main,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows
             WHERE event_id % 2 = 0) AS ck_staged_main,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows) AS n_branch,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows) AS ck_branch,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rows)
             AS n_published,
           (SELECT CAST(SUM(val_q) AS BIGINT) FROM rows)
             AS ck_published,
           CAST(1 AS BIGINT) AS isolated_ok,
           CAST(1 AS BIGINT) AS ff_guard_ok
    """,
)
def iceberg_wap_branch_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE-AUDIT-PUBLISH via branch writes (r20, VERDICT r19
    item 6): the even half lands on main, an ``audit`` branch is cut,
    and the odd half commits ONTO THE BRANCH in two quarters (%4==1
    then %4==3 — the second branch commit must build on the FIRST
    branch head, not on main). While staged, main must still serve
    exactly the even half (n/ck_staged_main recomputed by the oracle
    — a branch write that leaked into current-snapshot-id goes red
    here) and the branch read the whole corpus (n/ck_branch). Then
    fast_forward_iceberg publishes main to the branch head and the
    plain read serves everything (n/ck_published). isolated_ok pins
    the ref bookkeeping (main unchanged by both staged commits,
    parent chain recorded); ff_guard_ok pins that a DIVERGED
    fast-forward refuses (a second branch cut before an extra main
    commit cannot publish over it). Reference: the Iceberg spec's
    refs/branching section; Spark's spark.wap.branch +
    fast_forward procedure."""
    import os as _os

    from jobminer_spark.sources.iceberg import (
        fast_forward_iceberg,
        iceberg_metadata,
        resolve_iceberg_ref,
        set_iceberg_ref,
    )

    def _build(work: str) -> dict:
        rows = _rows(spark, sf_dir)
        t = _os.path.join(work, "wap")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 2 == 0)
        )
        main_before = iceberg_metadata(t)["current-snapshot-id"]
        set_iceberg_ref(t, "audit", ref_type="branch")
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 4 == 1),
            branch="audit",
        )
        write_iceberg(
            spark, t, rows.filter(F.col("event_id") % 4 == 3),
            branch="audit",
        )
        # audit half: main untouched, branch complete
        staged_main = read_iceberg(spark, t).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("val_q").cast("long").alias("ck"),
        ).collect()[0]
        branch_head = resolve_iceberg_ref(t, "audit")
        meta = iceberg_metadata(t)
        parents = {
            s["snapshot-id"]: s.get("parent-snapshot-id")
            for s in meta.get("snapshots", [])
        }
        isolated = int(
            meta["current-snapshot-id"] == main_before
            and resolve_iceberg_ref(t, "main") == main_before
            and parents.get(branch_head) is not None
            and parents.get(parents[branch_head]) == main_before
        )
        # guard: a diverged publish refuses — cut a second branch,
        # advance main past it, then try to fast-forward main to it
        set_iceberg_ref(t, "stale", ref_type="branch")
        write_iceberg(spark, t, rows.limit(0))  # main moves
        ff_guard = 0
        try:
            fast_forward_iceberg(t, "main", "stale")
        except ValueError as e:
            ff_guard = int("not a fast-forward" in str(e))
        # publish: main CAN still fast-forward to the branch? No —
        # main moved, so audit also diverged; the real publish is
        # re-staging. Rebuild the clean WAP table for the publish leg.
        t2 = _os.path.join(work, "wap2")
        write_iceberg(
            spark, t2, rows.filter(F.col("event_id") % 2 == 0)
        )
        set_iceberg_ref(t2, "audit", ref_type="branch")
        write_iceberg(
            spark, t2, rows.filter(F.col("event_id") % 2 == 1),
            branch="audit",
        )
        fast_forward_iceberg(t2, "main", "audit")
        return {
            "t": t,
            "t2": t2,
            "staged_n": int(staged_main["n"]),
            "staged_ck": int(staged_main["ck"]),
            "isolated": isolated,
            "ff_guard": ff_guard,
        }

    s = scenario(spark, sf_dir, "icewap", _build)
    branch = read_iceberg(spark, s["t"], ref="audit").agg(
        F.count(F.lit(1)).cast("long").alias("n_branch"),
        F.sum("val_q").cast("long").alias("ck_branch"),
    )
    published = read_iceberg(spark, s["t2"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_published"),
        F.sum("val_q").cast("long").alias("ck_published"),
    )
    return branch.crossJoin(F.broadcast(published)).selectExpr(
        f"CAST({s['staged_n']} AS BIGINT) AS n_staged_main",
        f"CAST({s['staged_ck']} AS BIGINT) AS ck_staged_main",
        "n_branch",
        "ck_branch",
        "n_published",
        "ck_published",
        f"CAST({s['isolated']} AS BIGINT) AS isolated_ok",
        f"CAST({s['ff_guard']} AS BIGINT) AS ff_guard_ok",
    )
