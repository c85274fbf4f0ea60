"""Delta UniForm: publish ICEBERG metadata over a Delta table's own
parquet data files, so an Iceberg reader consumes the Delta table
with ZERO data movement — delta-spark's
``delta.universalFormat.enabledFormats=iceberg`` behavior, re-expressed
over this repo's two format implementations.

Reference anchor: the public Delta UniForm docs/design (Iceberg
metadata generated asynchronously against Delta commits, data files
shared); the Iceberg side is an ordinary v2 table whose manifests
reference the Delta table's files by absolute path. Identity
partitioning carries over as an identity partition spec — the data
files omit the partition columns exactly like v1 Hive-migrated
Iceberg files, which the reader restores from manifest partition
tuples (sources/iceberg.py's _data_scan).

Scale shape: pure metadata — one manifest write over O(live files)
entries, one manifest list, one metadata JSON; no data pass (record
counts come from the adds' stats, with a per-file footer read only
for stats-less adds, the same bounded fallback the row-tracking
writer uses).

What refuses, loudly (exporting would corrupt the Iceberg view):
deletion vectors (Iceberg readers can't see Delta DVs — rows would
resurrect), column mapping (physical names would leak), variant
columns (no Iceberg v2 equivalent), and non-identity partitioning
never arises (Delta partitioning IS identity).
"""

from __future__ import annotations

import datetime
import json
import os
import urllib.parse
import uuid

from jobminer_spark.sources.delta import (
    _add_abs_path,
    _commit_loop,
    _has_dv,
    _mapping_mode,
    _remove_action,
    _replay_full,
    delta_latest_version,
)
from jobminer_spark.sources.iceberg import (
    _added_manifest,
    _commit_snapshot,
    _data_manifest_schema,
    _metadata_dir,
    _metadata_version,
    _partition_summaries,
    _spec_avro_type,
    iceberg_metadata,
)

# Delta schema-string type → Iceberg type (the overlapping scalar set;
# anything else refuses — silently mis-typing a column would corrupt
# every Iceberg read)
_DELTA_TO_ICEBERG = {
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    # Delta `timestamp` is the zone-adjusted instant → Iceberg
    # timestamptz; Delta `timestamp_ntz` → Iceberg `timestamp`
    # (which is WITHOUT zone per the Iceberg spec)
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _typed_partition_value(raw: str | None, ice_type: str):
    """A Delta partitionValues STRING → the typed value the Iceberg
    manifest partition record stores (dates as days-since-epoch, the
    spec's int encoding)."""
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return str(raw).lower() == "true"
    if ice_type == "date":
        return (
            datetime.date.fromisoformat(raw)
            - datetime.date(1970, 1, 1)
        ).days
    return raw


def write_uniform_iceberg_metadata(table: str) -> int:
    """Publish (or refresh) the Iceberg metadata for the Delta table
    at ``table``; returns the new Iceberg snapshot id. Each call
    exports the CURRENT Delta snapshot as a fresh Iceberg snapshot —
    re-running after Delta commits keeps the Iceberg view current,
    exactly UniForm's async-refresh model. ``read_iceberg(table)``
    then serves the same rows as ``read_delta(spark, table)``."""
    latest = delta_latest_version(table)
    if latest < 0:
        raise FileNotFoundError(
            f"not a Delta table (no _delta_log): {table}"
        )
    adds, _rm, meta, _tx, _proto = _replay_full(table, latest)
    if _mapping_mode(meta) != "none":
        raise ValueError(
            "UniForm export of a column-mapped Delta table is not "
            "supported — the Iceberg view would leak physical names"
        )
    dv = [p for p, a in adds.items() if _has_dv(a)]
    if dv:
        raise ValueError(
            f"UniForm export refused: {len(dv)} file(s) carry "
            "deletion vectors an Iceberg reader cannot apply (e.g. "
            f"{sorted(dv)[:2]}) — OPTIMIZE first to materialize them"
        )
    schema = json.loads(meta["schemaString"])
    fields = []
    for i, f in enumerate(schema["fields"]):
        t = f["type"]
        if not isinstance(t, str) or t not in _DELTA_TO_ICEBERG:
            raise ValueError(
                f"UniForm export refused: column {f['name']!r} has "
                f"Delta type {t!r} with no Iceberg v2 equivalent"
            )
        fields.append(
            {
                "id": i + 1,
                "name": f["name"],
                "required": not f.get("nullable", True),
                "type": _DELTA_TO_ICEBERG[t],
            }
        )
    ids_by_name = {f["name"]: f["id"] for f in fields}
    types_by_name = {f["name"]: f["type"] for f in fields}
    part_cols = meta.get("partitionColumns", [])
    spec_tuples = [(c, "identity", c) for c in part_cols]
    part_avro_types = {
        c: _spec_avro_type("identity", types_by_name[c])
        for c in part_cols
    }
    spec_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": ids_by_name[c],
            "field-id": 1000 + i,
        }
        for i, c in enumerate(part_cols)
    ]

    # manifest entries: one per live Delta add, referencing the SAME
    # parquet bytes by absolute path
    entries = []
    for rel in sorted(adds):
        a = adds[rel]
        # _add_abs_path: a shallow-cloned Delta table's adds are
        # absolute file: URIs — the Iceberg export references the same
        # bytes either way (zero-copy is zero-copy twice removed)
        fpath = os.path.abspath(_add_abs_path(table, rel))
        n = None
        st = a.get("stats")
        if st:
            try:
                n = json.loads(st).get("numRecords")
            except ValueError:
                n = None
        if n is None:  # bounded fallback: stats-less adds only
            import pyarrow.parquet as papq

            n = papq.ParquetFile(fpath).metadata.num_rows
        entry = {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": 0,
                "file_path": fpath,
                "file_format": "PARQUET",
                "record_count": int(n),
                "file_size_in_bytes": int(a.get("size") or 0),
                "equality_ids": None,
                "sort_order_id": None,
            },
        }
        if part_cols:
            pv = a.get("partitionValues") or {}
            entry["data_file"]["partition"] = {
                c: _typed_partition_value(
                    pv.get(c), types_by_name[c]
                )
                for c in part_cols
            }
        entries.append(entry)

    md = _metadata_dir(table)
    os.makedirs(md, exist_ok=True)
    try:
        prior = iceberg_metadata(table)
    except FileNotFoundError:
        prior = None
    commit = uuid.uuid4().hex[:12]
    version = _metadata_version(md) if prior is not None else 0
    records = [
        _added_manifest(
            md,
            commit,
            _data_manifest_schema(spec_tuples, part_avro_types),
            entries,
            version + 1,
            0,
            0,
            _partition_summaries(spec_tuples, types_by_name, entries),
        )
    ]
    ice_meta = {
        "format-version": 2,
        "table-uuid": (prior or {}).get("table-uuid")
        or str(uuid.uuid4()),
        "location": os.path.abspath(table),
        "last-updated-ms": 0,
        "last-column-id": len(fields),
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": fields}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {
            # provenance marker, mirroring UniForm's converted tables
            "delta.universalFormat.source": "delta",
            "delta.universalFormat.deltaVersion": str(latest),
        },
        # prior exports' snapshots are NOT carried: each export is a
        # full replacement view of the current Delta state (UniForm's
        # converted-snapshot model); Iceberg time travel happens on
        # the Delta side
        "snapshots": [],
    }
    # the ADDED entries are the Delta table's own live files: a lost
    # race must not unlink them
    return _commit_snapshot(
        md, ice_meta, version, commit, records, "append",
        added_files_staged=False,
    )


# Iceberg type → Delta schema-string type (the reverse direction)
_ICEBERG_TO_DELTA = {v: k for k, v in _DELTA_TO_ICEBERG.items()}
_ICEBERG_TO_DELTA.update({"int": "integer"})  # short/byte collapse


def export_iceberg_to_delta(ice_table: str, delta_table: str) -> int:
    """The REVERSE export: publish a Delta log over an Iceberg
    table's CURRENT snapshot, referencing the same parquet files by
    absolute path — zero data movement, the mirror of
    write_uniform_iceberg_metadata (and of the repo's zero-copy
    lakehouse→Delta export). The Delta view is UNPARTITIONED — an
    Iceberg data file carries every table column, so the files read
    correctly without partition reconstruction; bucket/truncate
    layouts have no Delta partitioning equivalent anyway. Refuses
    what a Delta reader could not consume correctly: live
    position/equality deletes or DVs (compact first with
    rewrite_iceberg_deletes), and data files that OMIT an identity
    partition source column (v1 Hive-migrated shape — their values
    live only in manifest tuples a Delta reader never sees; probed
    per file, O(files) footer metadata). Each call publishes the next
    Delta version as a full overwrite of the prior export. Returns
    the Delta version."""
    import time

    import pyarrow.parquet as papq

    from jobminer_spark.sources.iceberg import (
        _current_schema,
        _snapshot_files,
        iceberg_metadata,
    )

    meta = iceberg_metadata(ice_table)
    data, deletes, eq_deletes = _snapshot_files(ice_table)
    if deletes or eq_deletes:
        raise ValueError(
            "Iceberg→Delta export refused: the snapshot carries "
            f"{len(deletes)} position/DV and {len(eq_deletes)} "
            "equality delete file(s) a Delta reader cannot apply — "
            "rewrite_iceberg_deletes first"
        )
    cur = _current_schema(meta)
    fields = []
    col_names = []
    for f in cur["fields"]:
        t = f["type"]
        if not isinstance(t, str) or t not in _ICEBERG_TO_DELTA:
            raise ValueError(
                f"Iceberg→Delta export refused: column {f['name']!r} "
                f"has Iceberg type {t!r} with no Delta equivalent"
            )
        fields.append(
            {
                "name": f["name"],
                "type": _ICEBERG_TO_DELTA[t],
                "nullable": not f.get("required", False),
                "metadata": {},
            }
        )
        col_names.append(f["name"])
    adds = []
    for r in sorted(data, key=lambda r: r["path"]):
        sch = papq.read_schema(r["path"])
        missing = [c for c in col_names if c not in set(sch.names)]
        if missing:
            raise ValueError(
                "Iceberg→Delta export refused: data file "
                f"{r['path']} omits column(s) {missing} (their "
                "values live only in manifest partition tuples a "
                "Delta reader never sees)"
            )
        adds.append(
            {
                # quoted file: URI, exactly as clone_delta emits — a
                # bare absolute path is percent-DECODED by the
                # reader's _add_abs_path per the protocol, so a table
                # path containing a literal % would resolve to the
                # wrong file at scan time (ADVICE r19)
                "path": "file://"
                + urllib.parse.quote(os.path.abspath(r["path"])),
                "partitionValues": {},
                "size": os.path.getsize(r["path"]),
                "modificationTime": 0,
                "dataChange": True,
            }
        )
    os.makedirs(
        os.path.join(delta_table, "_delta_log"), exist_ok=True
    )

    def _attempt(current, snap):
        actions: list[dict] = []
        if snap is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.universalFormat.source": "iceberg",
                        "delta.universalFormat.icebergSnapshot": str(
                            meta.get("current-snapshot-id")
                        ),
                    },
                    "createdTime": 0,
                }
            }
        )
        now_ms = int(time.time() * 1000)
        prev_adds = {} if snap is None else snap[0]
        actions.extend(
            _remove_action(prev_adds[p], now_ms) for p in sorted(prev_adds)
        )
        actions.extend({"add": a} for a in adds)
        return actions, [], current + 1

    return _commit_loop(delta_table, "overwrite", _attempt)
