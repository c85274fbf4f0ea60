"""Text-analysis operators over the documents table.

The training-data-pipeline extensions (language-ID heuristic, quality
scoring, token counting, document fingerprinting) plus the scalar
string/regex projections the reference embeds (salary parsing,
URL-id extraction, width truncation — SURVEY.md §2.2). All pure
built-in Column expressions; every query is oracle-checked.

Cross-engine notes:
  * fingerprints use md5/sha256 (identical hex in Spark and DuckDB);
  * ratio arithmetic keeps the exact same operation order in both
    engines so the IEEE results are bitwise equal;
  * the salary oracle does NOT re-implement the regex — it computes
    the expected values independently from the generating expression,
    which makes it a true differential test of the parser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.functions.text import (
    extract_job_id,
    extract_years_of_experience,
    salary_max_col,
    salary_min_col,
)
from jobminer_spark.operators.common import spread_scan
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + BPE-ish regex tokens
# ---------------------------------------------------------------------------


@query(
    "token_count_stats",
    oracle="""
    SELECT
      doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      length(text) AS n_chars_measured,
      len(regexp_extract_all(text, '[a-z0-9]+')) AS n_regex_tokens,
      CAST(length(replace(text, ' ', '')) AS DOUBLE)
        / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0))
        .cast("long")
        .alias("n_regex_tokens"),
        (
            F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")
            / n_tokens
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: marker-token voting with deterministic argmax
# ---------------------------------------------------------------------------

# Tiny marker lists (a real system ships n-gram profiles; the operator
# shape — per-language scores + deterministic argmax — is what scales).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "slow"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "les", "et"],
    "es": ["el", "los", "las", "y"],
}


def _marker_count_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in _LANG_MARKERS[lang])
    return (
        "len(list_filter(string_split(lower(text), ' '), "
        f"t -> list_contains([{toks}], t)))"
    )


def lang_pred_cte() -> str:
    """DuckDB CTEs ``scored`` + ``pred(doc_id, labeled_lang, s_*,
    lang_pred)`` — the complete labeler (marker scores AND the
    tie-break CASE) in one shared definition, so consumers
    (operators/agreement.py) cannot drift from this operator's own
    oracle (the quality_cte discipline)."""
    return f"""
    scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {_marker_count_sql("en")} AS s_en,
             {_marker_count_sql("de")} AS s_de,
             {_marker_count_sql("fr")} AS s_fr,
             {_marker_count_sql("es")} AS s_es
      FROM documents
    ),
    pred AS (
      SELECT doc_id, labeled_lang, s_en, s_de, s_fr, s_es,
             CASE
               WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es'
             END AS lang_pred
      FROM scored
    )"""


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH {lang_pred_cte()}
    SELECT doc_id, labeled_lang, lang_pred, s_en, s_de, s_fr, s_es
    FROM pred
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")

    def score(lang: str) -> F.Column:
        markers = F.array(*[F.lit(t) for t in _LANG_MARKERS[lang]])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(markers, t))
        ).cast("long")

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        score("en").alias("s_en"),
        score("de").alias("s_de"),
        score("fr").alias("s_fr"),
        score("es").alias("s_es"),
    )
    pred = (
        F.when(
            (F.col("s_en") == 0)
            & (F.col("s_de") == 0)
            & (F.col("s_fr") == 0)
            & (F.col("s_es") == 0),
            "und",
        )
        .when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return scored.select(
        "doc_id", "labeled_lang", pred.alias("lang_pred"),
        "s_en", "s_de", "s_fr", "s_es",
    )


# ---------------------------------------------------------------------------
# Quality scoring: length / stopword ratio / distinct-token ratio
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to"]


def quality_cte() -> str:
    """DuckDB CTEs ``feat`` + ``qual(doc_id, stopword_ratio,
    distinct_ratio, quality_score)`` — shared with the calibration
    gate (operators/calibrate.py) so the score formula cannot
    drift."""
    return f"""
    feat AS (
      SELECT doc_id,
             length(text) AS n_chars_measured,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                 t -> list_contains([{", ".join(f"'{s}'" for s in _STOPWORDS)}], t)))
               AS n_stop,
             len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
      FROM documents
    ),
    qual AS (
      SELECT doc_id,
             CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
             CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
             least(CAST(n_chars_measured AS DOUBLE) / 500.0, 1.0) * 0.4
               + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
               + CAST(n_distinct AS DOUBLE) / n_tokens * 0.3 AS quality_score
      FROM feat
    )"""


def quality_scores(docs, extra_cols: tuple[str, ...] = ()) -> "DataFrame":
    """(doc_id, stopword_ratio, distinct_ratio, quality_score [,
    *extra_cols]) — the Spark twin of quality_cte(). ``extra_cols``
    pass through from the SAME scan so consumers that need e.g. the
    source column don't pay a second documents scan + rejoin."""
    toks = F.split(F.lower(F.col("text")), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    feat = docs.select(
        "doc_id",
        *extra_cols,
        F.length("text").alias("n_chars_measured"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    len_score = F.least(F.col("n_chars_measured").cast("double") / 500.0, F.lit(1.0))
    return feat.select(
        "doc_id",
        *extra_cols,
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        (len_score * 0.4 + (F.lit(1.0) - stop_ratio) * 0.3 + distinct_ratio * 0.3)
        .alias("quality_score"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH {quality_cte()}
    SELECT doc_id, stopword_ratio, distinct_ratio, quality_score
    FROM qual
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 / sha256 content hashes
# ---------------------------------------------------------------------------


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(text)) AS md5_fp,
           sha256(lower(text)) AS sha256_fp,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("md5_fp"),
        F.sha2(F.lower(F.col("text")), 256).alias("sha256_fp"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


# ---------------------------------------------------------------------------
# Reference scalar projections, oracle-checked on synthesized columns
# (the fixtures carry no salary text, so the queries construct it
# deterministically from orders and the oracle derives the EXPECTED
# values from the generating arithmetic — a true differential test)
# ---------------------------------------------------------------------------


@query(
    "salary_parse_differential",
    oracle="""
    WITH gen AS (
      SELECT o_orderkey,
             CAST(trunc(o_totalprice) AS BIGINT) AS base,
             o_orderkey % 4 AS variant
      FROM orders
    )
    SELECT o_orderkey,
           CASE variant
             WHEN 0 THEN CAST(base AS INTEGER)
             WHEN 1 THEN CAST(base AS INTEGER)
             WHEN 2 THEN CAST(trunc((base % 200 + 0.25) * 160) AS INTEGER)
             ELSE NULL
           END AS salary_min,
           CASE variant
             WHEN 0 THEN CAST(base + 2000 AS INTEGER)
             WHEN 1 THEN CAST(base AS INTEGER)
             WHEN 2 THEN CAST(trunc((base % 200 + 50 + 0.75) * 160) AS INTEGER)
             ELSE NULL
           END AS salary_max
    FROM gen
    """,
)
def salary_parse_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructs salary_text in the reference's four shapes (range,
    single value, hourly range with decimal commas, garbage) from
    orders, then runs the engine's regex parser (functions/text.py,
    mirroring pracuj_scraper.py:44-84). The oracle computes expected
    numbers directly from the generating arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    base = F.floor(F.col("o_totalprice")).cast("bigint")
    variant = F.col("o_orderkey") % 4
    salary_text = (
        F.when(variant == 0,
               F.format_string("%d – %d zł", base, base + 2000))
        .when(variant == 1, F.format_string("do %d zł miesięcznie", base))
        .when(variant == 2,
              F.format_string("%d,25-%d,75 zł/h", base % 200, base % 200 + 50))
        .otherwise(F.lit("salary not disclosed"))
    )
    gen = o.select("o_orderkey", salary_text.alias("salary_text"))
    return gen.select(
        "o_orderkey",
        salary_min_col(F.col("salary_text")).alias("salary_min"),
        salary_max_col(F.col("salary_text")).alias("salary_max"),
    )


@query(
    "job_id_url_extraction",
    oracle="""
    SELECT o_orderkey,
           regexp_extract(
             'https://www.pracuj.pl/praca/data-engineer,oferta,' || o_orderkey,
             ',oferta,(\\d+)', 1) AS job_id
    FROM orders
    """,
)
def job_id_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL → job_id regex projection (reference pracuj_scraper.py:
    297-298). The hash fallback path (non-matching URLs) is covered by
    unit tests — Python hash() is process-salted in the reference, so
    the engine's deterministic xxhash64 fallback has no SQL oracle."""
    o = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://www.pracuj.pl/praca/data-engineer,oferta,"),
        F.col("o_orderkey").cast("string"),
    )
    return o.select("o_orderkey", extract_job_id(url).alias("job_id"))


@query(
    "years_of_experience_extraction",
    oracle="""
    WITH gen AS (
      SELECT o_orderkey,
             'requires ' || CAST(o_orderkey % 8 AS VARCHAR) || ' years experience'
               AS bullet
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 8 BETWEEN 1 AND 5
                THEN CAST(o_orderkey % 8 AS INTEGER) END AS years_of_experience
    FROM gen
    """,
)
def years_of_experience_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First word-bounded 1-5 integer (reference pracuj_scraper.py:
    231-243); expected values derived arithmetically in the oracle."""
    o = load_table(spark, sf_dir, "orders")
    bullet = F.concat(
        F.lit("requires "),
        (F.col("o_orderkey") % 8).cast("string"),
        F.lit(" years experience"),
    )
    return o.select(
        "o_orderkey",
        extract_years_of_experience(bullet).alias("years_of_experience"),
    )


@query(
    "truncate_to_ddl_widths",
    oracle="""
    SELECT c_custkey,
           substr(c_name, 1, 12) AS name_w12,
           substr(c_mktsegment, 1, 5) AS segment_w5,
           length(substr(c_name, 1, 12)) AS name_len
    FROM customer
    """,
)
def truncate_to_ddl_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-cap projection before the sink (reference _truncate,
    database.py:11-15)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring("c_name", 1, 12).alias("name_w12"),
        F.substring("c_mktsegment", 1, 5).alias("segment_w5"),
        F.length(F.substring("c_name", 1, 12)).cast("long").alias("name_len"),
    )


# ---------------------------------------------------------------------------
# TF-IDF document similarity (reciprocal-df weighting)
# ---------------------------------------------------------------------------
# Weight = (term_count / doc_len) * (1 / doc_freq): every factor is a
# single IEEE division computed identically in both engines (ln() is
# deliberately avoided — libm implementations differ in the last ulp
# across engines). Pair dot products accumulate quantized longs, the
# same portable-exact recipe as the cosine operators.


# Token document-frequency cap, as a corpus fraction: tokens appearing
# in more than TFIDF_MAX_DF_FRAC of documents are dropped from the
# inverted index before the pair join (their reciprocal-df weight is
# negligible AND they are exactly the tokens that make the index join
# quadratic). The fixture's vocabulary is degenerate — 31 tokens, each
# with df ≈ 0.8·corpus — so the default 0.9 cap binds nothing there
# (any lower cap would empty the result on this data); the adversarial
# bounding test lives in tests/test_operators.py, and the query-subset
# bound below handles the fixture's all-hot vocabulary.
TFIDF_MAX_DF_FRAC = 0.9

# Query-subset bound: which doc_ids act as the "query side" of the
# similarity search. A fixture default, not an operator constant —
# parameterized so the API isn't fixture-shaped.
TFIDF_QUERY_MAX_DOC_ID = 50


def _tfidf_tf_rows_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, token, cnt, len) per-document term frequencies in ONE
    vectorized Arrow pass (guide §4.2), replacing the repartition →
    explode → (doc_id, token) shuffle aggregation → doclen aggregation
    chain: tf and document length are computable within each document
    row, so no corpus rows shuffle at all (guide §2.4). Each task also
    emits doc_id-NULL marker rows (token, cnt = its per-task document
    frequency partial) — tasks hold disjoint documents, so summing the
    partials per token is exactly the old ``tf.groupBy(token).count``.

    Exactness contract vs the expression path it replaces
    (``explode(split(text,' '))`` → ``!= ''`` → ``lower``):
    ``pa.compute.split_pattern(text, ' ')`` == Spark split (see
    common.ngram_rows), empty tokens dropped identically (lowercasing
    never empties a string, so filter-then-lower == lower-then-filter),
    and ``pa.compute.utf8_lower`` == Spark ``lower`` (both full
    Unicode lowercase; the fixture vocabulary is ASCII where the two
    are trivially identical). NULL texts emit nothing, exactly as
    ``explode(split(NULL))`` did; ``len`` equals the old
    ``doclen = SUM(cnt)`` (count of non-empty tokens) carried in-row
    so the doclen join disappears."""
    # spread_scan: tokenize + in-row counting is the heavy per-row
    # work, so a degenerate (fewer-splits-than-cores) input is spread
    # before the Python boundary — a no-op on any real at-scale table
    # (order-insensitive: every consumer aggregates).
    src = spread_scan(
        docs.select("doc_id", "text").filter(F.col("text").isNotNull())
    )

    def _gen(batches):
        from collections import Counter

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute  # noqa: F401 — pa.compute needs the explicit import

        df_partials: Counter = Counter()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            if ids.null_count:
                raise ValueError("_tfidf_tf_rows_arrow: null doc_id")
            toks = pa.compute.split_pattern(batch.column(1), pattern=" ")
            lens = (
                pa.compute.list_value_length(toks)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = toks.flatten()
            keep = pa.compute.not_equal(flat, "")
            keep_np = keep.to_numpy(zero_copy_only=False)
            doc_idx = np.repeat(np.arange(batch.num_rows, dtype=np.int64), lens)[
                keep_np
            ]
            if doc_idx.size == 0:
                continue
            low = pa.compute.utf8_lower(flat.filter(keep))
            dic = pa.compute.dictionary_encode(low)
            codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = dic.dictionary
            nd = len(vocab)
            uk, cnts = np.unique(doc_idx * nd + codes, return_counts=True)
            d = uk // nd
            t = uk % nd
            doc_len = np.bincount(doc_idx, minlength=batch.num_rows)
            ids_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)
            df_partials.update(vocab.take(pa.array(t)).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids_np[d]),
                    vocab.take(pa.array(t)),
                    pa.array(cnts.astype(np.int64)),
                    pa.array(doc_len[d].astype(np.int64)),
                ],
                names=["doc_id", "token", "cnt", "len"],
            )
        if df_partials:
            toks, dfs = zip(*df_partials.items())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([None] * len(toks), type=pa.int64()),
                    pa.array(list(toks), type=pa.string()),
                    pa.array(list(dfs), type=pa.int64()),
                    pa.array([None] * len(toks), type=pa.int64()),
                ],
                names=["doc_id", "token", "cnt", "len"],
            )

    return src.mapInArrow(
        _gen, "doc_id bigint, token string, cnt bigint, len bigint"
    )


def _tfidf_oracle(query_max_doc_id: int, max_df_frac: float) -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, lower(tok) AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS cnt
      FROM tok GROUP BY doc_id, token
    ),
    doclen AS (SELECT doc_id, SUM(cnt) AS len FROM tf GROUP BY doc_id),
    df AS (
      SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token
      HAVING COUNT(*) <= {max_df_frac} * (SELECT COUNT(*) FROM documents)
    ),
    w AS (
      SELECT t.doc_id, t.token,
             (CAST(t.cnt AS DOUBLE) / l.len) * (1.0 / d.dfreq) AS wt
      FROM tf t JOIN doclen l ON t.doc_id = l.doc_id
                JOIN df d ON t.token = d.token
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(floor(wt * wt * 1000000000000000.0) AS BIGINT)) AS DOUBLE)
                  / 1000000000000000.0) AS nrm
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(floor(a.wt * b.wt * 1000000000000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000000000000.0 AS dot
      FROM w a JOIN w b ON a.token = b.token AND a.doc_id <> b.doc_id
      WHERE a.doc_id < {query_max_doc_id}
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           dot / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY dot / (na.nrm * nb.nrm) DESC, doc_a, doc_b
    LIMIT 25
    """


@query(
    "tfidf_top_similar_pairs",
    oracle=_tfidf_oracle(TFIDF_QUERY_MAX_DOC_ID, TFIDF_MAX_DF_FRAC),
)
def tfidf_top_similar_pairs(
    spark: SparkSession,
    sf_dir: str,
    query_max_doc_id: int = TFIDF_QUERY_MAX_DOC_ID,
    max_df_frac: float = TFIDF_MAX_DF_FRAC,
) -> DataFrame:
    """Sparse TF-IDF cosine via the inverted token index, for a bounded
    query subset (doc_id < query_max_doc_id) against the whole corpus.
    Two scale guards, both parameterized: the token df cap drops
    stop-tokens from the index before the pair join (see
    TFIDF_MAX_DF_FRAC note), and the query-subset bound keeps the join
    at |subset|·|corpus| worst case — which is load-bearing on this
    fixture, whose 31-token vocabulary makes every token hot
    (measured: bench timeout at sf0.1 without it)."""
    QUANT = 1_000_000_000_000_000
    docs = load_table(spark, sf_dir, "documents")
    # ONE fused Arrow pass yields per-(doc, token) counts with the
    # document length carried in-row plus per-task df partials (r20:
    # replaces repartition → explode → two corpus aggregations + the
    # doclen join; see _tfidf_tf_rows_arrow). Lazily localCheckpointed
    # — its two consumers (the df-partials aggregate and the weight
    # projection) read ONE materialization of the corpus pass.
    tfl = _tfidf_tf_rows_arrow(docs).localCheckpoint(eager=False)
    tf = tfl.filter(F.col("doc_id").isNotNull())
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        # marker rows: per-task document-frequency partials; tasks
        # hold disjoint docs, so the sum == the old per-token count
        tfl.filter(F.col("doc_id").isNull())
        .groupBy("token")
        .agg(F.sum("cnt").alias("dfreq"))
        # 1-row corpus count: broadcast nested-loop join, no shuffle
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("dfreq") <= F.lit(max_df_frac) * F.col("n_docs"))
        .select("token", "dfreq")
    )
    # the weight table feeds three branches (norms + both join sides)
    # and is LAZILY localCheckpointed so each branch reads the
    # persisted per-(doc,token) table instead of re-running the
    # tokenize pipeline (an EAGER cut measured as a wash in r15 — the
    # lazy cut materializes inside the first consuming job and adds no
    # barrier action, the r20 loop-fold discipline). On a cluster this
    # is the stage you'd persist before fanning out.
    w = (
        tf.join(dfreq, "token")
        .select(
            "doc_id",
            "token",
            (
                (F.col("cnt").cast("double") / F.col("len"))
                * (F.lit(1.0) / F.col("dfreq"))
            ).alias("wt"),
        )
        .localCheckpoint(eager=False)
    )
    qprod = lambda x, y: F.floor(x * y * F.lit(float(QUANT))).cast("long")
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(qprod(F.col("wt"), F.col("wt"))).cast("double") / F.lit(float(QUANT))).alias("nrm")
    )
    # query side: |subset| · vocab rows at most (≈1.2 k at sf0.1) — far
    # under any broadcast bound at every SF because query_max_doc_id
    # bounds it, but Spark can't see that through the checkpoint RDD
    # (no size estimate → sort-merge). Explicit broadcast removes both
    # token exchanges AND the sorts from the pair join (guide §3.1);
    # measured 2.48 → 1.9 s at sf0.1.
    a = F.broadcast(w.filter(F.col("doc_id") < query_max_doc_id)).alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            (F.sum(qprod(F.col("a.wt"), F.col("b.wt"))).cast("double") / F.lit(float(QUANT))).alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(25)
    )
