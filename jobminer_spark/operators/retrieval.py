"""BM25-family full-text retrieval over the documents corpus —
the query-side counterpart of the TF-IDF similarity operators
(Robertson/Zaragoza, "The Probabilistic Relevance Framework: BM25 and
Beyond", 2009 — public paper).

``bm25_topk_per_query`` scores a fixed panel of keyword queries
against every document and returns the top-k per query. The scoring
keeps BM25's distinctive term-frequency saturation exactly:

    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

with k1 = 1.2, b = 0.75 — and uses the RATIONAL Robertson/Sparck-
Jones idf argument (N − df + 0.5)/(df + 0.5) WITHOUT the ln wrapper.
ln is deliberately avoided repo-wide (libm implementations differ in
the last ulp across engines — see the TF-IDF module note); the
rational weight is monotone in df exactly like true idf, so per-term
ORDERING is identical, and the cross-term mixture is a documented
engine policy, not an accident. Per-term scores are floor-quantized
to 1e-9 longs and summed exactly, so the final ranking (and the
driver's value hash) is bit-identical cross-engine.

Scale shape: the corpus is filtered to the QUERY VOCABULARY before
any shuffle (a broadcast semi join against the handful of distinct
query terms — at 100 TB this is the inverted-index probe: only the
postings of queried terms move). One (doc_id, token) partial-agg
shuffle builds tf; df and the corpus stats (avgdl, N) are tiny
broadcast aggregates; the final top-k is a query-partitioned window
over the scored postings, bounded by the query panel size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from jobminer_spark.data.skill_dictionary import values_df
from jobminer_spark.operators.common import spread_scan
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# 1e9 quantization: rational idf ≤ N ≈ corpus size, saturation ≤
# k1+1, so per-term scores stay far under long overflow at any SF.
_BM25_QUANT = 1_000_000_000

# Fixed query panel (fixture vocabulary; 'dup' is the one rare term —
# df 25/500 vs ~390/500 for everything else — so query 2 exercises
# the idf contrast the other two can't).
BM25_QUERIES: list[tuple[int, str]] = [
    (0, "spark join filter"),
    (1, "window agg batch"),
    (2, "dup key merge"),
]


def _query_terms_rows() -> list[tuple[int, str]]:
    return [(qid, t) for qid, text in BM25_QUERIES for t in text.split(" ")]


def _bm25_tf_arrow(docs: DataFrame, vocab: list[str]) -> DataFrame:
    """(doc_id, token, tf, dl) — per-row query-vocabulary term counts
    in ONE vectorized Arrow pass (guide §4.2), replacing the old
    tokenize → explode → broadcast-semi-join → (doc_id, token) shuffle
    aggregation: tf is computable within each document row, so no
    corpus rows need to shuffle at all (guide §2.4). Each task also
    emits one token-NULL partial-stats row (tf = its doc count, dl =
    its summed document length) so the corpus stats aggregate reads a
    handful of partials instead of re-tokenizing the corpus.

    Exactness contract vs the expression path it replaces:
    ``pa.compute.split_pattern(text, ' ')`` == Spark
    ``split(text, ' ')`` (literal pattern, Java Pattern.split(limit=-1)
    semantics — consecutive/trailing empties kept; see
    common.ngram_rows); dl = len(split) including empty tokens; NULL
    texts are dropped exactly as the old ``size(w) >= 1`` filter did
    (size(split) >= 1 always holds for non-null text)."""
    # spread_scan: the tokenize kernel is the heavy per-row work here,
    # so a degenerate (fewer-splits-than-cores) input must be spread
    # before the Python boundary — a no-op on any real at-scale table
    # (order-insensitive: every consumer aggregates).
    src = spread_scan(
        docs.select("doc_id", "text").filter(F.col("text").isNotNull())
    )
    vocab_sorted = sorted(set(vocab))

    def _gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute  # noqa: F401 — pa.compute needs the explicit import

        varr = pa.array(vocab_sorted, type=pa.string())
        nv = len(vocab_sorted)
        n_docs = 0
        sum_dl = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            if ids.null_count:
                raise ValueError("_bm25_tf_arrow: null doc_id")
            texts = batch.column(1)
            toks = pa.compute.split_pattern(texts, pattern=" ")
            lens = (
                pa.compute.list_value_length(toks)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            n_docs += batch.num_rows
            sum_dl += int(lens.sum())
            vi = pa.compute.index_in(toks.flatten(), value_set=varr)
            vnp = vi.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
            sel = vnp >= 0
            if not sel.any():
                continue
            doc_idx = np.repeat(np.arange(batch.num_rows, dtype=np.int64), lens)
            keys = doc_idx[sel] * nv + vnp[sel]
            uk, cnts = np.unique(keys, return_counts=True)
            d = uk // nv
            ids_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids_np[d]),
                    varr.take(pa.array(uk % nv)),
                    pa.array(cnts.astype(np.int64)),
                    pa.array(lens[d]),
                ],
                names=["doc_id", "token", "tf", "dl"],
            )
        if n_docs:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([None], type=pa.int64()),
                    pa.array([None], type=pa.string()),
                    pa.array([n_docs], type=pa.int64()),
                    pa.array([sum_dl], type=pa.int64()),
                ],
                names=["doc_id", "token", "tf", "dl"],
            )

    return src.mapInArrow(_gen, "doc_id bigint, token string, tf bigint, dl bigint")


def _bm25_agg(
    docs: DataFrame,
    qterms: DataFrame,
    qterm_rows: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """(query_id, doc_id, qscore, n_terms, tot_tf): one aggregate
    feeding every ranker — the quantized BM25 score plus the
    term-coverage stats the RRF fusion's second ranker uses.
    ``docs`` has (doc_id, text); ``qterms`` has (query_id, term) and
    must be broadcast-sized (it is the query panel, not data).
    When the caller can supply the panel as plain rows
    (``qterm_rows``), tf/dl/stats come from the fused single-pass
    Arrow path (_bm25_tf_arrow) — identical multiset, one corpus
    tokenize instead of two and zero corpus-row shuffles; otherwise
    (arbitrary DataFrame panels, e.g. the property tests) the
    original expression path runs."""
    if qterm_rows is not None:
        base = _bm25_tf_arrow(
            docs, [t for _, t in qterm_rows]
        ).localCheckpoint(eager=False)
        # partial-stats rows: tf = task doc count, dl = task Σdl —
        # exact int64 sums, then the identical IEEE division.
        stats = base.filter(F.col("token").isNull()).agg(
            (F.sum("dl").cast("double") / F.sum("tf")).alias("avgdl"),
            F.sum("tf").cast("double").alias("nd"),
        )
        tf = base.filter(F.col("token").isNotNull())
    else:
        words = (
            docs.select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= 1)
            .select("doc_id", "w", F.size("w").cast("long").alias("dl"))
        )
        stats = words.agg(
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
            F.count(F.lit(1)).cast("double").alias("nd"),
        )
        vocab = qterms.select(F.col("term").alias("token")).distinct()
        tok = words.select(
            "doc_id", "dl", F.explode("w").alias("token")
        ).join(F.broadcast(vocab), "token")
        tf = tok.groupBy("doc_id", "token").agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            # constant within the (doc_id) group — carried to avoid a
            # second corpus join for document length
            F.first("dl").alias("dl"),
        )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("dfd"))
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    # expression tree mirrored token-for-token in the oracle SQL so
    # every IEEE double op happens in the same order on both engines
    qs = F.floor(
        ((F.col("nd") - F.col("dfd") + F.lit(0.5)) / (F.col("dfd") + F.lit(0.5)))
        * (
            (tf_d * F.lit(BM25_K1 + 1.0))
            / (
                tf_d
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * (dl_d / F.col("avgdl"))
                )
            )
        )
        * F.lit(float(_BM25_QUANT))
    ).cast("long")
    return (
        tf.join(F.broadcast(qterms), tf.token == qterms.term)
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "token", "tf", qs.alias("qs"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("qs").alias("qscore"),
            F.countDistinct("token").cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("tot_tf"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    qterms: DataFrame,
    k: int = BM25_TOP_K,
    qterm_rows: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rnk): top-k BM25 documents per
    query."""
    scored = _bm25_agg(docs, qterms, qterm_rows)
    w = W.partitionBy("query_id").orderBy(F.col("qscore").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "doc_id",
            (F.col("qscore").cast("double") / F.lit(float(_BM25_QUANT))).alias(
                "score"
            ),
            "rnk",
        )
    )


# Reciprocal-rank-fusion smoothing constant (Cormack/Clarke/Büttcher,
# "Reciprocal Rank Fusion outperforms Condorcet and individual Rank
# Learning Methods", SIGIR 2009 — public paper; 60 is the paper's k).
RRF_K = 60


def rrf_fusion_topk(
    docs: DataFrame,
    qterms: DataFrame,
    k: int = BM25_TOP_K,
    qterm_rows: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """(query_id, doc_id, rrf, rank_bm25, rank_cover, rnk): hybrid
    retrieval by reciprocal-rank fusion of TWO full rankings over the
    same candidate set (docs matching >= 1 query term):

      ranker A — BM25 (qscore desc, doc_id)
      ranker B — term coverage (distinct terms desc, total tf desc,
                 doc_id): the boolean-ish ranker BM25 is usually
                 fused with when no second signal exists

    rrf = 1/(K + rank_A) + 1/(K + rank_B), each addend one IEEE
    division and the sum a fixed two-term expression — rational
    arithmetic throughout, so the fused ordering is bit-identical
    cross-engine (the reason RRF needs no quantization step)."""
    scored = _bm25_agg(docs, qterms, qterm_rows)
    wa = W.partitionBy("query_id").orderBy(F.col("qscore").desc(), "doc_id")
    wb = W.partitionBy("query_id").orderBy(
        F.col("n_terms").desc(), F.col("tot_tf").desc(), "doc_id"
    )
    ranked = scored.select(
        "query_id",
        "doc_id",
        F.row_number().over(wa).cast("long").alias("rank_bm25"),
        F.row_number().over(wb).cast("long").alias("rank_cover"),
    )
    rrf = (
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_bm25").cast("double"))
    ) + (F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_cover").cast("double")))
    wf = W.partitionBy("query_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        ranked.withColumn("rrf", rrf)
        .withColumn("rnk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "rrf", "rank_bm25", "rank_cover", "rnk")
    )


def _bm25_cte_body() -> str:
    """Shared oracle CTE chain through ``agg`` (query_id, doc_id,
    qscore, n_terms, tot_tf) — the SQL twin of _bm25_agg."""
    vals = ", ".join(f"({qid}, '{t}')" for qid, t in _query_terms_rows())
    return f"""qt(query_id, term) AS (VALUES {vals}),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    dl AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM words WHERE len(w) >= 1
    ),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             CAST(COUNT(*) AS DOUBLE) AS nd
      FROM dl
    ),
    tok AS (
      SELECT doc_id, unnest(w) AS token FROM words WHERE len(w) >= 1
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token IN (SELECT DISTINCT term FROM qt)
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS dfd FROM tf GROUP BY token),
    term_scores AS (
      SELECT q.query_id, t.doc_id, t.token, t.tf,
             CAST(floor(
               ((s.nd - d.dfd + 0.5) / (d.dfd + 0.5))
               * ((CAST(t.tf AS DOUBLE) * {BM25_K1 + 1.0})
                  / (CAST(t.tf AS DOUBLE)
                     + {BM25_K1} * ({1.0 - BM25_B}
                                    + {BM25_B} * (CAST(l.dl AS DOUBLE) / s.avgdl))))
               * {float(_BM25_QUANT)}) AS BIGINT) AS qs
      FROM tf t
      JOIN qt q ON q.term = t.token
      JOIN dl l ON l.doc_id = t.doc_id
      JOIN df d ON d.token = t.token
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT query_id, doc_id, SUM(qs) AS qscore,
             CAST(COUNT(DISTINCT token) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS tot_tf
      FROM term_scores GROUP BY query_id, doc_id
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_cte_body()}
    SELECT query_id, doc_id,
           CAST(qscore AS DOUBLE) / {float(_BM25_QUANT)} AS score, rnk
    FROM (
      SELECT query_id, doc_id, qscore,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY qscore DESC, doc_id
             ) AS BIGINT) AS rnk
      FROM agg)
    WHERE rnk <= {BM25_TOP_K}
    """


def _rrf_oracle() -> str:
    return f"""
    WITH {_bm25_cte_body()},
    ranked AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY qscore DESC, doc_id
             ) AS BIGINT) AS rank_bm25,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY n_terms DESC, tot_tf DESC, doc_id
             ) AS BIGINT) AS rank_cover
      FROM agg
    ),
    fused AS (
      SELECT query_id, doc_id, rank_bm25, rank_cover,
             (1.0 / ({float(RRF_K)} + CAST(rank_bm25 AS DOUBLE)))
             + (1.0 / ({float(RRF_K)} + CAST(rank_cover AS DOUBLE))) AS rrf
      FROM ranked
    )
    SELECT query_id, doc_id, rrf, rank_bm25, rank_cover, rnk
    FROM (
      SELECT query_id, doc_id, rrf, rank_bm25, rank_cover,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, doc_id
             ) AS BIGINT) AS rnk
      FROM fused)
    WHERE rnk <= {BM25_TOP_K}
    """


@query("bm25_topk_per_query", oracle=_bm25_oracle())
def bm25_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 documents for the fixed three-query panel — the
    oracle recomputes tokenization, corpus stats, tf saturation, the
    rational idf, the 1e-9 quantization, and both tiebreaks, so any
    drift in the scoring pipeline turns this driver row red."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qterms = values_df(spark, _query_terms_rows(), ["query_id", "term"])
    return bm25_topk(docs, qterms, qterm_rows=_query_terms_rows())


@query("rrf_fusion_topk_per_query", oracle=_rrf_oracle())
def rrf_fusion_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 ranking
    with a term-coverage ranking over the same candidates, top-10 per
    panel query — the oracle recomputes both full rankings and the
    fused order, so a drift in either ranker's tiebreak chain or the
    fusion arithmetic turns this driver row red."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qterms = values_df(spark, _query_terms_rows(), ["query_id", "term"])
    return rrf_fusion_topk(docs, qterms, qterm_rows=_query_terms_rows())
