"""Repetition-based document quality filtering.

The Gopher/MassiveText curation rules (Rae et al. 2021, §A1.1 — public
paper) filter documents by the fraction of content inside repeated
n-grams: template/boilerplate text and generation loops repeat
locally, and the filter needs no model, just counting. The fixture
documents are single-line word streams, so the unit here is the word
2-gram:

* ``dup_gram_frac`` — fraction of 2-gram occurrences whose 2-gram
  appears more than once in the SAME document;
* ``top_gram_frac`` — occurrences of the document's most frequent
  2-gram over all its 2-gram occurrences.

Both are exact integer-count ratios (same IEEE division in both
engines — no float accumulation), so the whole filter is
oracle-checkable row by row.

Scale shape: the whole profile is per-document work, so it runs as
ONE vectorized Arrow pass with ZERO shuffles (r20; guide §2.4/§4.2):
every 2-gram of a document lives inside that document's row, so the
per-(doc, gram) counts and the per-doc rollup are computed in numpy
inside the scan tasks — the old (doc_id, gram) exchange of the full
gram stream (corpus-sized string rows) and the second (doc_id)
aggregation are gone. No cross-document work anywhere, so the
operator is embarrassingly parallel over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.common import (
    DUP_FRAC_MAX,
    TOP_FRAC_MAX,
    repetition_cte,
    spread_scan,
)
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table


def _rep_stats_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, dup_gram_frac, top_gram_frac) per document in
    ONE vectorized Arrow pass — every 2-gram of a document sits inside
    its own row, so the per-(doc, gram) counts and the per-doc rollup
    never need a shuffle (guide §2.4); the numpy kernel replaces the
    old Arrow gram emission + (doc_id, g) ObjectHashAggregate +
    (doc_id) rollup bit-identically:

    * tokenization: ``pa.compute.split_pattern(text, ' ')`` == Spark
      ``split(text, ' ')`` (see common.ngram_rows) — empties kept,
      exactly like the gram stream this replaces;
    * gram identity: tokens cannot contain the separator, so 2-gram
      string equality == token-pair equality — counting dictionary-
      code pairs counts exactly the old concat-ws gram strings;
    * arithmetic: per-doc sums/max are exact int64; the two fractions
      are single float64 divisions of exactly-converted int64 counts
      (< 2^53), the same IEEE op the JVM expression performed.

    Docs with fewer than 2 tokens emit nothing (same contract as the
    inner gram join in the oracle); NULL texts must be filtered
    upstream."""

    def _gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute  # noqa: F401 — pa.compute needs the explicit import

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            toks = pa.compute.split_pattern(batch.column(1), pattern=" ")
            lens = (
                pa.compute.list_value_length(toks)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            n = np.maximum(lens - 1, 0)
            if not n.any():
                continue
            dic = pa.compute.dictionary_encode(toks.flatten())
            codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            nd = np.int64(len(dic.dictionary))
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            total = int(n.sum())
            rep_starts = np.repeat(starts, n)
            within = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(n) - n, n
            )
            base = rep_starts + within
            key = codes[base] * nd + codes[base + 1]
            doc_idx = np.repeat(np.arange(batch.num_rows, dtype=np.int64), n)
            order = np.lexsort((key, doc_idx))
            dk = doc_idx[order]
            kk = key[order]
            grp = np.concatenate(
                ([True], (dk[1:] != dk[:-1]) | (kk[1:] != kk[:-1]))
            )
            gstarts = np.nonzero(grp)[0]
            cnts = np.diff(np.concatenate((gstarts, [len(dk)])))
            gd = dk[gstarts]
            dchange = np.concatenate(([True], gd[1:] != gd[:-1]))
            dstarts = np.nonzero(dchange)[0]
            docs_u = gd[dstarts]
            n_grams = np.add.reduceat(cnts, dstarts)
            dup = np.add.reduceat(np.where(cnts > 1, cnts, 0), dstarts)
            top = np.maximum.reduceat(cnts, dstarts)
            ids_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)
            denom = n_grams.astype(np.float64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids_np[docs_u]),
                    pa.array(n_grams.astype(np.int64)),
                    pa.array(dup.astype(np.float64) / denom),
                    pa.array(top.astype(np.float64) / denom),
                ],
                names=["doc_id", "n_grams", "dup_gram_frac", "top_gram_frac"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        _gen,
        "doc_id bigint, n_grams bigint, dup_gram_frac double, "
        "top_gram_frac double",
    )


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH {repetition_cte()}
    SELECT doc_id, n_grams, dup_gram_frac, top_gram_frac,
           CAST(CASE WHEN dup_gram_frac > {DUP_FRAC_MAX}
                       OR top_gram_frac > {TOP_FRAC_MAX}
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM rep
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 2-gram repetition profile + Gopher-style flag.
    Documents shorter than 2 tokens produce no grams and no row (same
    contract as the SQL oracle's inner gram join)."""
    docs = load_table(spark, sf_dir, "documents")
    # No KEYED shuffle: the operator is per-document, so at corpus
    # scale parallelism comes from the input splits themselves; the
    # conditional spread_scan round-robin exists only where the file
    # layout (fixture single-row-group), not the data size, bounds
    # parallelism — a no-op on any real at-scale table.
    # The whole profile comes from ONE fused Arrow pass (r20): the
    # per-(doc, gram) counts and the per-doc rollup are in-row work,
    # so the old gram emission + two shuffle aggregations are gone
    # (see _rep_stats_arrow for the bit-exactness contract).
    per = _rep_stats_arrow(
        spread_scan(docs.filter(F.col("text").isNotNull()))
    )
    flagged = (
        (F.col("dup_gram_frac") > DUP_FRAC_MAX)
        | (F.col("top_gram_frac") > TOP_FRAC_MAX)
    )
    return per.select(
        "doc_id",
        "n_grams",
        "dup_gram_frac",
        "top_gram_frac",
        F.when(flagged, 1).otherwise(0).cast("long").alias("flagged"),
    )


@query(
    "word_rarity_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY w),
    scored AS (
      SELECT t.doc_id, v.cf
      FROM tok t JOIN vocab v ON v.w = t.w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(cf) AS DOUBLE) / COUNT(*) AS mean_corpus_freq,
           CAST(SUM(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_frac
    FROM scored GROUP BY doc_id
    """,
)
def word_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level lexical quality signal, the cross-document
    complement to the intra-document repetition filter: per document,
    the mean CORPUS frequency of its tokens and the fraction of its
    tokens that are corpus hapaxes (frequency 1). Noise documents —
    OCR garbage, random identifiers, encoding damage — skew toward
    hapax-heavy/low-frequency vocabularies; boilerplate skews the
    other way. Exact integer-count ratios, so the oracle matches
    bit-for-bit (no log/perplexity transcendentals whose rounding
    could diverge across engines).

    Scale shape: one (word) shuffle to build the corpus vocabulary,
    one join of token occurrences against it (AQE broadcasts the
    vocab when it fits — vocabulary grows sublinearly in corpus
    size), one (doc_id) rollup. The vocab join key is the word
    itself; a pathological hot token is bounded by the per-doc token
    count, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # Per-row tokenize straight off the scan (see doc_repetition_stats
    # for why there is deliberately no repartition here).
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    scored = tok.join(vocab, "w")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("cf").cast("double") / F.count(F.lit(1))).alias("mean_corpus_freq"),
        (
            F.sum(F.when(F.col("cf") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hapax_frac"),
    )


_MULTI_NS = (2, 3, 4)


def _gram_cte_n(n: int) -> str:
    """DuckDB CTEs for word n-gram occurrence counts at one n."""
    joins = " ".join(
        f"JOIN tok{n} t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.ord = t0.ord + {j}"
        for j in range(1, n)
    )
    concat = " || ' ' || ".join(f"t{j}.tok" for j in range(n))
    return f"""
    tok{n} AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents
    ),
    grams{n} AS (
      SELECT t0.doc_id, {concat} AS g
      FROM tok{n} t0 {joins}
    ),
    gc{n} AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams{n} GROUP BY doc_id, g
    ),
    rep{n} AS (
      SELECT doc_id, CAST({n} AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
               AS dup_gram_frac,
             CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_gram_frac
      FROM gc{n} GROUP BY doc_id
    )"""


@query(
    "doc_repetition_profile_multi_n",
    oracle=f"""
    WITH {",".join(_gram_cte_n(n) for n in _MULTI_NS)}
    {" UNION ALL ".join(f"SELECT * FROM rep{n}" for n in _MULTI_NS)}
    """,
)
def doc_repetition_profile_multi_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher repetition profile (Rae et al. 2021, §A1.1
    filters on duplicate n-gram fractions for SEVERAL n, not just
    2-grams): per document and per n in {2,3,4}, the duplicate-gram
    and top-gram occupancy fractions. A template document repeats
    SHORT grams heavily; a copy-paste loop also repeats long ones —
    the n-profile separates the two failure shapes.

    Plan: ONE scan — the token array is split once per row, each n's
    grams come from a single-level slice/concat transform (nested
    lambda folds are deliberately avoided: Catalyst re-inlines them,
    see winnow.py's measurement), the three gram streams stack into
    one explode, and counting is one (doc_id, n, gram) shuffle with
    map-side combine + one (doc_id, n) rollup. Documents shorter than
    n tokens contribute no row at that n (same contract as the
    oracle's inner joins)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")

    def grams_for(n: int):
        return F.when(
            F.size(F.col("w")) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(F.col("w")) - n),
                lambda i: F.struct(
                    F.lit(n).cast("long").alias("n"),
                    F.concat_ws(
                        " ", F.slice(F.col("w"), (i + 1).cast("int"), n)
                    ).alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:bigint,g:string>>"))

    stacked = (
        docs.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.concat(*[grams_for(n) for n in _MULTI_NS])
            ).alias("s"),
        )
        .select("doc_id", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    )
    gc = stacked.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    return gc.groupBy("doc_id", "n").agg(
        F.sum("c").alias("n_grams"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c")
        ).alias("dup_gram_frac"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_gram_frac"),
    )
