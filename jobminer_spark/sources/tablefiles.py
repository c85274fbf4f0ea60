"""File-level work shared by the three table formats here (the
``lakehouse`` manifest tables, Delta and Iceberg): each format is an
encoder of its own log or metadata over these pieces.

* ``publish_new`` — put-if-absent publish of a version file;
* ``staged_parts`` — a Spark parquet write into a hidden stage dir,
  listed part by part with decoded hive partition values;
* ``footer_minmax`` — per-column min/max/null counts from a parquet
  footer;
* ``scan_path`` / ``path_key`` — one key for a data file on the Spark
  and the Python side, and ``join_positions``, the (file, row index)
  join that applies position deletes.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Delete relations (positions, equality keys) up to this many rows are
# broadcast to the scan (the shuffle-free plan); past it the join
# shuffles rather than ship an oversized broadcast to every executor.
BROADCAST_MAX_ROWS = 2_000_000


def publish_new(path: str, text: str) -> None:
    """Create ``path`` holding ``text`` only if no file has that name
    (``FileExistsError`` otherwise). The text is written to a hidden
    temp file in the same directory first and hard-linked to the final
    name, so a reader never sees the name half-written: two racing
    writers cannot both win, and the winner's file is complete the
    moment it exists (putIfAbsent; a conditional PUT on object
    stores)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def hive_values(rel_dir: str) -> dict[str, str | None]:
    """Partition values of a hive-style relative dir
    (``a=1/b=x%2Fy``): percent-escapes decoded, Spark's
    ``__HIVE_DEFAULT_PARTITION__`` null sentinel as None."""
    out: dict[str, str | None] = {}
    for piece in rel_dir.split("/"):
        k, eq, v = piece.partition("=")
        if eq:
            v = unquote(v)
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


@contextmanager
def staged_parts(df: DataFrame, stage: str, partition_by=()):
    """Write ``df`` as parquet into the hidden dir ``stage`` (inside
    the table, so moving a part to its final name is a same-filesystem
    rename) and yield its parts as sorted (path, rel_dir, values)
    triples: ``rel_dir`` is the hive partition dir ('' when
    unpartitioned) and ``values`` its decoded partition values. The
    caller moves the parts it keeps; the stage dir is removed on every
    way out, a write or a move that raises included."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.parquet(stage)
        parts = []
        for root, _dirs, files in os.walk(stage):
            rel = os.path.relpath(root, stage).replace(os.sep, "/")
            rel = "" if rel == "." else rel
            parts.extend(
                (os.path.join(root, f), rel, hive_values(rel))
                for f in files
                if f.endswith(".parquet")
            )
        yield sorted(parts, key=lambda p: (p[1], p[0]))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def footer_minmax(path: str, names=None):
    """(footer metadata, {leaf path: (min, max, null count)}) of the
    parquet file at ``path``, over the leaves named in ``names`` (all
    when None). Leaves are resolved by their path, so a nested column
    before a flat one cannot shift the stats onto the wrong leaf. A
    leaf is left out when any row group lacks its min/max, or the file
    has no row group. Which types a format trusts as bounds is the
    caller's rule: the parquet spec lets writers truncate binary
    stats."""
    import pyarrow.parquet as papq

    md = papq.ParquetFile(path).metadata
    stats = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).path
        if names is not None and name not in names:
            continue
        sts = [
            md.row_group(rg).column(i).statistics
            for rg in range(md.num_row_groups)
        ]
        if not sts or any(s is None or not s.has_min_max for s in sts):
            continue
        stats[name] = (
            min(s.min for s in sts),
            max(s.max for s in sts),
            sum(s.null_count or 0 for s in sts),
        )
    return md, stats


def scan_path(col):
    """A data-file path column — ``_metadata.file_path`` (a
    percent-ENCODED ``file:/…`` or ``file:///…`` URI) or a path a
    writer recorded — as the plain absolute path ``path_key`` gives:
    scheme stripped, percent-escapes decoded (try_: a stray non-URI
    value falls back to itself). try_url_decode is form-urlencoded
    decoding, which would turn a literal '+' into a space while the
    Python side keeps '+', so '+' is pre-escaped to %2B and only %XX
    escapes are translated."""
    stripped = F.regexp_replace(col, "^file:/+", "/")
    plus_safe = F.regexp_replace(stripped, r"\+", "%2B")
    return F.coalesce(F.try_url_decode(plus_safe), stripped)


def path_key(p: str) -> str:
    """The Python-side key of a data file, equal to ``scan_path`` of
    its URI: ``file:`` URIs parsed and percent-decoded (a naive
    ``replace("file://", "")`` misses Spark's single-slash form), then
    the absolute path with '/' separators."""
    if p.startswith("file:"):
        p = unquote(urlparse(p).path)
    return os.path.abspath(p).replace(os.sep, "/")


def join_positions(
    keyed: DataFrame,
    file_col: str,
    pos_col: str,
    positions: DataFrame,
    n_positions: int,
    how: str = "left_anti",
) -> DataFrame:
    """``keyed`` (a scan carrying ``file_col`` = ``scan_path`` of
    ``_metadata.file_path`` and ``pos_col`` = ``_metadata.row_index``)
    joined on (file, row index) with ``positions``, whose first two
    columns are the (file, position) pairs: ``left_anti`` drops the
    listed rows (position deletes, deletion vectors), ``left_semi``
    keeps only them. ``positions`` is broadcast up to
    BROADCAST_MAX_ROWS rows (``n_positions``, the declared
    count) and shuffled past it."""
    f, p = positions.columns[:2]
    right = (
        positions
        if n_positions > BROADCAST_MAX_ROWS
        else F.broadcast(positions)
    )
    return keyed.join(
        right,
        (keyed[file_col] == right[f]) & (keyed[pos_col] == right[p]),
        how,
    )
