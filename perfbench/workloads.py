"""The workloads. Each is a fixed list of operations; a run's one pass
runs every operation once, in order, to a collected result or a
committed write. An operation's ``run`` is timed; its ``check`` is not."""

from __future__ import annotations

import io
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from jobminer_spark import ORACLES, QUERIES
from jobminer_spark.data.skill_dictionary import dictionary_rows
from jobminer_spark.lakehouse import create_table, merge_into, read_snapshot
from jobminer_spark.pipeline import run_pipeline
from jobminer_spark.sinks import write_parquet

from checks import Oracle, compare


@dataclass
class Ctx:
    spark: Any
    inputs: str
    work: str
    tracer: Any
    oracle: Oracle

    def span(self, name: str):
        return self.tracer.span(name)


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], str | None]
    read: bool = False  # a read-back after the pass's writes (read_s)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_bytes(table: pa.Table) -> int:
    """Bytes of rows written once as one plain parquet file."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


class Workload:
    name = ""
    tables: tuple[str, ...] = ()  # fixture tables scanned once in set-up

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> None:
        """Before the pass, untimed."""

    def finish(self, ctx: Ctx) -> dict[str, float]:
        """After the pass, untimed: its storage figures and the counts
        the engine's write calls returned."""
        return {}


# ---------------------------------------------------------------------
# Registered queries (llm_curation)
# ---------------------------------------------------------------------


def query_op(name: str) -> Op:
    def run(ctx: Ctx):
        with ctx.span("operators.build"):
            df = QUERIES[name](ctx.spark, ctx.inputs)
        with ctx.span("operators.collect"):
            rows = df.collect()
        return df.columns, rows

    def check(ctx: Ctx, res) -> str | None:
        cols, rows = res
        return ctx.oracle.check(ORACLES[name], rows, cols)

    return Op(name, run, check)


class Registered(Workload):
    def __init__(self, name: str, queries: list[str], tables: tuple[str, ...]) -> None:
        self.name = name
        self.queries = queries
        self.tables = tables

    def ops(self) -> list[Op]:
        return [query_op(q) for q in self.queries]


# Dedup over documents: exact dedup, the n-gram Jaccard pairs of the
# Arrow-kernel and Python-worker path, and connected components, a
# driver loop that runs many small jobs.
CURATION = Registered(
    "llm_curation",
    ["dedup_exact_text", "ngram_jaccard_top_pairs", "neardup_connected_components"],
    ("documents",),
)


# ---------------------------------------------------------------------
# etl_daily: the reference's daily job on the lakehouse tables
# ---------------------------------------------------------------------

N_DAYS = 2
_TERMS = sorted({t for t, _c, _r in dictionary_rows()})


def _keyed(listings, skills):
    """Lakehouse tables take one long key: the job id, and for skills
    the job id times 1024 plus the term's dictionary position."""
    terms = F.array(*[F.lit(t) for t in _TERMS])
    lt = listings.withColumn("job_key", F.col("job_id").cast("long"))
    st = skills.withColumn(
        "skill_key",
        F.col("job_id").cast("long") * 1024 + F.array_position(terms, F.col("skill_name")),
    )
    return lt, st


_LISTING_COLS = [
    "job_id", "source", "link", "salary_min", "salary_max",
    "years_of_experience", "description_text", "listing_status",
]
_SKILL_COLS = ["job_id", "source", "skill_name", "skill_category"]


class EtlDaily(Workload):
    name = "etl_daily"
    tables = ("documents",)

    def prepare(self, ctx: Ctx) -> None:
        ctx.oracle.register_days(N_DAYS, dictionary_rows())
        root = os.path.join(ctx.work, "etl")
        shutil.rmtree(root, ignore_errors=True)
        self.listings = os.path.join(root, "job_listings")
        self.skills = os.path.join(root, "skills")
        self.report = os.path.join(root, "top_categories")
        self.input_bytes = 0
        self.rows: dict[int, dict] = {}
        self.files = {"lakehouse.files_rewritten": 0, "lakehouse.files_carried": 0}

    def day_dir(self, ctx: Ctx, d: int) -> str:
        return os.path.join(ctx.inputs, "etl", f"day{d}")

    def _batch(self, ctx: Ctx, d: int, existing=None):
        day = self.day_dir(ctx, d)
        self.input_bytes += _dir_bytes(day)
        with ctx.span("pipeline.build"):
            listings, skills = run_pipeline(ctx.spark, day, existing_jobs=existing)
        return _keyed(listings, skills)

    def load_day1(self, ctx: Ctx):
        lt, st = self._batch(ctx, 1)
        with ctx.span("lakehouse.create"):
            create_table(ctx.spark, self.listings, lt, "job_key")
            create_table(ctx.spark, self.skills, st, "skill_key")

    def merge_day(self, ctx: Ctx, d: int):
        with ctx.span("lakehouse.read"):
            snap = read_snapshot(ctx.spark, self.listings)
        # dedup-on-insert (operators.dedupe.upsert_new_keys): postings
        # already in job_listings leave the batch, skills included
        lt, st = self._batch(ctx, d, existing=snap)
        expired = ctx.spark.read.parquet(os.path.join(self.day_dir(ctx, d), "expired.parquet"))
        expiry = (
            snap.join(expired.select(F.col("doc_id").alias("job_key")), "job_key", "left_semi")
            .withColumn("listing_status", F.lit("Expired"))
            .select(*lt.columns)
        )
        with ctx.span("lakehouse.merge"):
            # a matched posting takes the batch row only when its status
            # changes; otherwise the first write wins
            m1 = merge_into(
                ctx.spark, self.listings, lt.unionByName(expiry),
                lambda j: j["listing_status"] != F.col("__u_listing_status"),
            )
            # skills are insert-only: a known (job, skill) keeps its row
            m2 = merge_into(ctx.spark, self.skills, st, lambda j: F.lit(False))
        for m in (m1, m2):
            self.files["lakehouse.files_rewritten"] += m["n_files_rewritten"]
            self.files["lakehouse.files_carried"] += m["n_files_carried"]

    def check_tables(self, ctx: Ctx, d: int) -> str | None:
        """Both tables against DuckDB's state after days 1..``d``; keeps
        the collected rows for the re-application check and space_amp."""
        self.rows[d] = {}
        for table, cols, sql in (
            (self.listings, _LISTING_COLS, ctx.oracle.listings_sql(d)),
            (self.skills, _SKILL_COLS, ctx.oracle.skills_sql(d)),
        ):
            df = read_snapshot(ctx.spark, table)
            rows = df.collect()
            self.rows[d][table] = (df.columns, rows)
            idx = [df.columns.index(c) for c in cols]
            bad = ctx.oracle.check(sql, [[r[i] for i in idx] for r in rows], cols)
            if bad:
                return f"{os.path.basename(table)}: {bad}"
        return None

    def check_day2(self, ctx: Ctx) -> str | None:
        """Day 2 re-applies every day-1 posting that did not expire: those
        rows must come through unchanged, scrape dates included (first
        write wins), in both tables."""
        bad = self.check_tables(ctx, 2)
        if bad:
            return bad
        day1, day2 = (
            {str(i) for i in pq.read_table(os.path.join(self.day_dir(ctx, d), "documents.parquet"))["doc_id"].to_pylist()}
            for d in (1, 2)
        )
        again = day1 & day2
        for table, (cols, after) in self.rows[2].items():
            j = cols.index("job_id")
            _cols, before = self.rows[1][table]
            bad = compare(
                [r for r in after if r[j] in again], cols,
                [r for r in before if r[j] in again], cols,
            )
            if bad:
                return f"{os.path.basename(table)}: re-applied rows changed: {bad}"
        return None

    def top_categories(self, ctx: Ctx):
        """pipeline.flagship_query's shape over the committed tables,
        restricted to postings that are still active, written out as
        the day's report through the parquet sink."""
        with ctx.span("lakehouse.read"):
            skills = read_snapshot(ctx.spark, self.skills)
            active = read_snapshot(ctx.spark, self.listings).filter(
                F.col("listing_status") == "Active"
            )
            df = (
                skills.join(active.select("job_id", "source"), ["job_id", "source"])
                .groupBy("skill_category")
                .agg(
                    F.countDistinct("job_id").alias("n_jobs"),
                    F.count(F.lit(1)).alias("n_mentions"),
                )
                .orderBy(F.col("n_mentions").desc(), F.col("skill_category"))
                .limit(10)
            )
        with ctx.span("sinks.write"):
            write_parquet(df, self.report, mode="overwrite")

    def check_top(self, ctx: Ctx, _res) -> str | None:
        """The written report, read back by DuckDB in file order, against
        the same query in DuckDB."""
        cols, rows = ctx.oracle.read_parquet_dir(self.report)
        want_cols, want = ctx.oracle.query(ctx.oracle.top_categories_sql(N_DAYS))
        bad = compare(rows, cols, want, want_cols)
        if bad is None and [r[0] for r in rows] != [w[0] for w in want]:
            bad = "category order differs"
        return bad

    def ops(self) -> list[Op]:
        return [
            Op("day1_load", self.load_day1, lambda ctx, r: self.check_tables(ctx, 1)),
            Op("day2_merge", lambda ctx: self.merge_day(ctx, 2), lambda ctx, r: self.check_day2(ctx)),
            Op("top_categories", self.top_categories, self.check_top, read=True),
        ]

    def finish(self, ctx: Ctx) -> dict[str, float]:
        written = _dir_bytes(self.listings) + _dir_bytes(self.skills)
        once = sum(
            _parquet_bytes(pa.Table.from_pylist([r.asDict() for r in rows]))
            for _cols, rows in self.rows[N_DAYS].values()
        )
        # the tables started empty: everything under them was written in the pass
        return {"write_amp": written / self.input_bytes, "space_amp": written / once, **self.files}


WORKLOADS = {w.name: w for w in (EtlDaily(), CURATION)}
