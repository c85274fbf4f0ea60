"""Output checks computed apart from the engine.

Registered queries are compared with their DuckDB ``ORACLES`` SQL in
the strict encoding of ``scripts/driver_sim.py``: rows are sorted
after encoding every value with its Python type, and floats compare
exactly. The ``etl_daily`` tables are compared with DuckDB computations
of the same input batches' upsert and status semantics, written here
from the documented behaviour rather than from the engine's code.

A check returns ``None`` when the output is right and a short reason
when it is not.
"""

from __future__ import annotations

import os

import duckdb

FIXTURE_TABLES = ("documents",)


def canon(rows, columns) -> list[tuple]:
    """Order-insensitive, type-sensitive encoding of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def enc(row):
        out = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                out.append(f"f:{v!r}")
            elif v is None:
                out.append("null")
            else:
                out.append(f"{type(v).__name__}:{v}")
        return tuple(out)

    return sorted(enc(r) for r in rows)


def compare(got_rows, got_cols, want_rows, want_cols) -> str | None:
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    g, w = canon(got_rows, got_cols), canon(want_rows, want_cols)
    if g != w:
        bad = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return f"values differ at sorted row {bad}: {g[bad]} != {w[bad]}"
    return None


class Oracle:
    """A DuckDB connection with the generated inputs as views."""

    def __init__(self, inputs: str) -> None:
        self.inputs = inputs
        self.con = duckdb.connect()
        for t in FIXTURE_TABLES:
            self.view(t, os.path.join(inputs, f"{t}.parquet"))
        self._cache: dict[str, tuple[list, list]] = {}

    def view(self, name: str, path: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def query(self, sql: str) -> tuple[list, list]:
        if sql not in self._cache:
            res = self.con.execute(sql)
            self._cache[sql] = ([c[0] for c in res.description], res.fetchall())
        return self._cache[sql]

    def read_parquet_dir(self, path: str) -> tuple[list, list]:
        """The rows a Spark job wrote under ``path``, in file and row order."""
        res = self.con.execute(
            f"SELECT * EXCLUDE (filename, file_row_number) FROM read_parquet("
            f"'{path}/*.parquet', filename = true, file_row_number = true) "
            f"ORDER BY filename, file_row_number"
        )
        return [c[0] for c in res.description], res.fetchall()

    def check(self, sql: str, rows, cols) -> str | None:
        want_cols, want_rows = self.query(sql)
        return compare([tuple(r) for r in rows], cols, want_rows, want_cols)

    # -- etl_daily -----------------------------------------------------

    def register_days(self, n_days: int, skill_dictionary: list[tuple[str, str, int]]) -> None:
        parts, exp = [], []
        for d in range(1, n_days + 1):
            base = os.path.join(self.inputs, "etl", f"day{d}")
            parts.append(f"SELECT {d} AS day, * FROM read_parquet('{base}/documents.parquet')")
            exp.append(f"SELECT {d} AS day, doc_id FROM read_parquet('{base}/expired.parquet')")
        self.con.execute("CREATE OR REPLACE VIEW etl_posted AS " + " UNION ALL ".join(parts))
        self.con.execute("CREATE OR REPLACE VIEW etl_expired AS " + " UNION ALL ".join(exp))
        self.con.execute("CREATE OR REPLACE TABLE skill_dict (term VARCHAR, category VARCHAR, rnk INTEGER)")
        self.con.executemany("INSERT INTO skill_dict VALUES (?, ?, ?)", skill_dictionary)

    def listings_sql(self, through_day: int) -> str:
        """job_listings after days 1..``through_day``: a key's status is
        that of its latest event (posted -> Active, expired -> Expired);
        the parsed columns follow the posting transform
        (pipeline.documents_as_job_postings) and do not depend on which
        day's copy of a posting won."""
        return f"""
        WITH ev AS (
          SELECT doc_id, day, 'Active' AS st FROM etl_posted WHERE day <= {through_day}
          UNION ALL
          SELECT doc_id, day, 'Expired' FROM etl_expired WHERE day <= {through_day}
        ), st AS (
          SELECT doc_id, arg_max(st, day) AS listing_status FROM ev GROUP BY doc_id
        ), doc AS (
          SELECT DISTINCT doc_id, text, source, n_chars FROM etl_posted WHERE day <= {through_day}
        )
        SELECT CAST(d.doc_id AS VARCHAR) AS job_id,
               d.source,
               'https://www.pracuj.pl/praca/x,oferta,' || d.doc_id AS link,
               CAST(floor(d.n_chars * 37 % 20000 + 4000) AS INTEGER) AS salary_min,
               CAST(floor(d.n_chars * 37 % 20000 + 4000) + 3000 AS INTEGER) AS salary_max,
               CASE WHEN d.doc_id % 7 BETWEEN 1 AND 5 THEN CAST(d.doc_id % 7 AS INTEGER) END
                 AS years_of_experience,
               d.text AS description_text,
               s.listing_status
        FROM doc d JOIN st s USING (doc_id)
        """

    def skills_sql(self, through_day: int) -> str:
        """skills after days 1..``through_day``: every distinct
        lower-cased space-separated token of each inserted posting that
        is a dictionary term, with the term's first-listed category."""
        return f"""
        WITH doc AS (
          SELECT DISTINCT doc_id, text, source FROM etl_posted WHERE day <= {through_day}
        ), tok AS (
          SELECT DISTINCT doc_id, source, lower(t) AS token
          FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t FROM doc)
          WHERE t <> ''
        ), dict AS (
          SELECT term, arg_min(category, rnk) AS category FROM skill_dict GROUP BY term
        )
        SELECT CAST(doc_id AS VARCHAR) AS job_id, source, token AS skill_name,
               category AS skill_category
        FROM tok JOIN dict ON tok.token = dict.term
        """

    def top_categories_sql(self, through_day: int) -> str:
        return f"""
        WITH l AS ({self.listings_sql(through_day)}), s AS ({self.skills_sql(through_day)})
        SELECT s.skill_category, count(DISTINCT s.job_id) AS n_jobs, count(*) AS n_mentions
        FROM s JOIN l ON s.job_id = l.job_id AND s.source = l.source
        WHERE l.listing_status = 'Active'
        GROUP BY s.skill_category
        ORDER BY n_mentions DESC, s.skill_category
        LIMIT 10
        """
