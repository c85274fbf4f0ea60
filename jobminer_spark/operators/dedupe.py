"""Deduplication operators — exact and near-duplicate detection.

The reference's dedup surface is key-based: probe-before-insert on
(JobID, Source) (database.py:116-123) and unique-constraint skip on
(JobID, Source, SkillName) (database.py:192-201). The engine keeps
those (anti-join upsert) and adds the content-based dedup family a
large-scale training-data pipeline needs: exact text dedup, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale notes baked into each operator:
  * exact dedup is a single hash-shuffle on the content hash;
  * pairwise ops never go all-pairs: candidates come from an inverted
    shingle index (Jaccard), LSH band buckets (MinHash), or
    hyperplane-sign buckets (embeddings) — each bounds the join
    fan-out so a 1000-executor run shuffles candidates, not O(n²).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from jobminer_spark.operators.common import word_shingles  # noqa: F401 — re-export (tests/trainprep import it from here)
from jobminer_spark.operators.common import (
    ngram_rows as _ngram_rows,
    posting_pairs as _posting_pairs,
)
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

# ---------------------------------------------------------------------------
# Key-based upsert (reference rows 8/9/25): anti-join insert-only-misses
# ---------------------------------------------------------------------------


def upsert_new_keys(
    incoming: DataFrame,
    existing: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
) -> DataFrame:
    """First-write-wins upsert: dedup the batch on the key, then keep
    only rows whose key is absent from `existing` (left anti).
    Idempotent by construction — running it twice inserts nothing new
    (the reference's "checkpoint system", README.md:12, database.py
    116-123). In-batch dedup happens BEFORE the anti-join to match
    unique-constraint semantics under concurrency.

    With ``order_by`` the in-batch survivor is the FIRST row per key in
    that ordering (true first-write-wins, deterministic under retry).
    Without it, `dropDuplicates` keeps an ARBITRARY row — fine when
    in-batch duplicates are exact copies (the reference's case: one
    listing scraped twice in a run), wrong if they can differ."""
    if order_by:
        w = W.partitionBy(*keys).orderBy(*order_by)
        incoming = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        incoming = incoming.dropDuplicates(keys)
    return incoming.join(existing, keys, "left_anti")


@query(
    "upsert_anti_join_counts",
    oracle="""
    WITH existing AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
    incoming AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    inserted AS (
      SELECT * FROM incoming
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM existing)
    )
    SELECT
      (SELECT COUNT(*) FROM existing) AS n_existing,
      (SELECT COUNT(*) FROM inserted) AS n_inserted,
      (SELECT COUNT(*) FROM existing) + (SELECT COUNT(*) FROM inserted) AS n_final
    """,
)
def upsert_anti_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 3 == 0)
    incoming = o.filter(F.col("o_orderkey") % 2 == 0)
    inserted = upsert_new_keys(incoming, existing, ["o_orderkey"])
    return (
        existing.agg(F.count(F.lit(1)).alias("n_existing"))
        .crossJoin(inserted.agg(F.count(F.lit(1)).alias("n_inserted")))
        .select(
            "n_existing",
            "n_inserted",
            (F.col("n_existing") + F.col("n_inserted")).alias("n_final"),
        )
    )


# ---------------------------------------------------------------------------
# MERGE-style status-transition upsert (reference row 40 upgrade path)
# ---------------------------------------------------------------------------


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    update_cols: list[str],
    expire_col: str | None = None,
    expire_value: str | None = None,
) -> DataFrame:
    """MERGE: matched keys take `update_cols` from `incoming` (other
    columns keep `existing`'s values); keys only in `incoming` insert
    whole rows; keys only in `existing` survive unchanged — unless
    `expire_col`/`expire_value` is given, in which case their
    `expire_col` is set to `expire_value` (the status transition the
    reference never implements: `ListingStatus` stays Active forever,
    /root/reference/JobScraper/models.py:22).

    Physical plan: ONE full-outer shuffle join on the keys + a CASE
    per column — not the 3-join (inner ∪ left-anti ∪ right-anti)
    textbook shape, which would shuffle both sides three times. At
    100 TB this is the minimal-movement MERGE; on a real lakehouse
    table the same semantics compile to Delta/Iceberg ``MERGE INTO``.

    Both inputs must share a schema and have unique, non-null keys
    (callers dedup first — `upsert_new_keys` semantics).
    """
    assert set(existing.columns) == set(incoming.columns), "schema mismatch"
    e = existing.withColumn("_e", F.lit(True)).alias("e")
    i = incoming.withColumn("_i", F.lit(True)).alias("i")
    cond = None
    for k in keys:
        c = F.col(f"e.{k}") == F.col(f"i.{k}")
        cond = c if cond is None else (cond & c)
    has_e = F.col("e._e").isNotNull()
    has_i = F.col("i._i").isNotNull()

    def out(c: str) -> F.Column:
        if c in keys:
            return F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}")).alias(c)
        if c in update_cols:
            if c == expire_col and expire_value is not None:
                return (
                    F.when(has_i, F.col(f"i.{c}"))
                    .otherwise(F.lit(expire_value))
                    .alias(c)
                )
            return F.when(has_i & has_e, F.col(f"i.{c}")).otherwise(
                F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}"))
            ).alias(c)
        return F.when(has_e, F.col(f"e.{c}")).otherwise(F.col(f"i.{c}")).alias(c)

    return e.join(i, cond, "full_outer").select(*[out(c) for c in existing.columns])


@query(
    "merge_status_transition",
    oracle="""
    WITH existing AS (
      SELECT o_orderkey,
             o_orderstatus AS listing_status,
             CAST(o_orderdate AS VARCHAR) AS scrape_date,
             CAST(o_totalprice AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey % 3 = 0),
    incoming AS (
      SELECT o_orderkey,
             'Active' AS listing_status,
             '1998-12-01' AS scrape_date,
             CAST(o_totalprice AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey % 2 = 0)
    SELECT e.o_orderkey,
           CASE WHEN i.o_orderkey IS NOT NULL THEN i.listing_status
                ELSE 'Expired' END AS listing_status,
           CASE WHEN i.o_orderkey IS NOT NULL THEN i.scrape_date
                ELSE e.scrape_date END AS scrape_date,
           e.total_price
    FROM existing e LEFT JOIN incoming i USING (o_orderkey)
    UNION ALL
    SELECT i.o_orderkey, i.listing_status, i.scrape_date, i.total_price
    FROM incoming i ANTI JOIN existing e USING (o_orderkey)
    """,
)
def merge_status_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference row 40's documented upgrade: a re-scrape MERGE where
    listings seen today refresh status+scrape_date, unseen listings
    transition to Expired, and new listings insert. Simulated on
    `orders`: existing = keys %3==0 (original status/date), incoming =
    keys %2==0 re-scraped Active on 1998-12-01."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("listing_status"),
        F.col("o_orderdate").cast("string").alias("scrape_date"),
        F.col("o_totalprice").cast("double").alias("total_price"),
    )
    existing = base.filter(F.col("o_orderkey") % 3 == 0)
    incoming = base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("Active").alias("listing_status"),
        F.lit("1998-12-01").alias("scrape_date"),
        "total_price",
    )
    return merge_upsert(
        existing,
        incoming,
        keys=["o_orderkey"],
        update_cols=["listing_status", "scrape_date"],
        expire_col="listing_status",
        expire_value="Expired",
    )


# ---------------------------------------------------------------------------
# Exact content dedup: hash-groupBy on the text
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_text",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle keyed on the content hash; min(doc_id)
    is the deterministic survivor. At 100 TB the groupBy key is the
    128-bit hash, not the text — shuffle carries ~16 bytes/row."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: inverted shingle index, no all-pairs
# ---------------------------------------------------------------------------


# Hot-shingle guard: a shingle appearing in more than SHINGLE_MAX_DF
# documents is dropped from every inverted-index pair join. One
# stop-phrase shingle with document frequency d contributes d(d-1)/2
# candidate pairs — the classic dedup scale-killer — so the cap bounds
# per-shingle join fan-out at SHINGLE_MAX_DF² regardless of corpus
# size, while near-dup semantics at sensible thresholds are unchanged
# (a shingle shared by >100 documents carries no dedup signal). The
# fixture's max shingle df is 7 (sf0.01) / 25 (sf0.1), so the default
# cap drops nothing there; tests/test_operators.py pins the bounding
# behavior on an adversarial repeated-shingle corpus.
SHINGLE_MAX_DF = 100


# word_shingles lives in operators/common.py (query-free module) so that
# trainprep.py can import it without pulling this module's registrations
# ahead of its own in the driver's 50-entry attestation window.


def shingle_doc_lists(
    docs: DataFrame, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """(shingle, ds) — per-shingle sorted array of the doc_ids that
    contain it, in ONE full-data shuffle: collect_set dedups repeated
    in-doc shingles inside the aggregation (subsuming word_shingles'
    distinct exchange) and the df cap becomes a post-agg size filter
    (subsuming the hot-set anti-join). Everything downstream of this
    aggregation is per-shingle-bounded.

    Buffer note for 100 TB: a shingle's doc set is materialized in one
    aggregation buffer before the cap filter drops it, so a pathological
    shingle with df ≫ max_df costs memory proportional to its true df
    during the aggregation (8 B per doc — df 10M ≈ 80 MB). Production
    max_df caps assume natural-language df distributions; for
    adversarial corpora use word_shingles(max_df=...) + the join-based
    pair path, which counts df without materializing doc lists."""
    raw = _ngram_rows(
        # spread_scan: a single-row-group input would run the whole
        # tokenize + n-gram explode in one task (the map side of the
        # aggregation below). Round-robin only when splits < cores; a
        # no-op at scale. NULL texts are dropped before the exchange.
        _spread_scan(docs.filter(F.col("text").isNotNull())),
        n,
    )
    idx = raw.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    if max_df is not None:
        idx = idx.filter(F.size("ds") <= max_df)
    return idx


def pair_counts_from_doclists(idx: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter) from an inverted index of per-shingle
    SORTED doc-id arrays ``idx(..., ds)``: the C(df,2) pairs of each
    list come from posting_pairs (bounded by the df cap upstream),
    then one aggregation counts shared shingles per pair — no
    self-join of the posting lists. Shared by the batch dedup path,
    the incremental-admission probe (increment.py) and the winnowing
    index (winnow.py)."""
    return (
        _posting_pairs(idx.filter(F.size("ds") >= 2), "ds")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _pair_size_counts(
    docs: DataFrame, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """(doc_a, doc_b, cnt): shared surviving shingles per candidate
    pair, plus one (doc, NULL, n_sh) size row per document."""
    return (
        _posting_pairs(shingle_doc_lists(docs, n, max_df), "ds", size_markers=True)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _jaccard_pair_counts(
    docs: DataFrame, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_sh_a, n_sh_b) for every candidate
    pair sharing ≥1 surviving shingle. Built on shingle_doc_lists:
    candidate pairs come from each shingle's sorted doc list
    (posting_pairs, bounded by the df cap) instead of a shingle
    self-join. ONE corpus-scale pass: every posting emits its pairs
    with the later docs of its list AND one (doc, NULL) size marker,
    so a single aggregation yields both the per-pair shared-shingle
    counts (doc_b non-NULL) and the per-doc surviving-shingle totals
    (doc_b NULL), exact counts with no re-sum. The fused aggregate is
    pair+doc-sized (≪ corpus) and is lazily localCheckpointed so the
    three downstream reads (inter + both size joins) don't re-run the
    corpus pass. Identical output to the join-based path (same capped
    shingle set, same counts). The whole chain is built-in
    expressions — no Python worker, no lambda.

    No broadcast hint on the size joins: sizes has one row PER
    DOCUMENT, so forcing a broadcast is an OOM at corpus scale. AQE
    picks — broadcast when the measured size is small, doc-id-keyed
    shuffle when it isn't."""
    agg = _pair_size_counts(docs, n, max_df).localCheckpoint(eager=False)
    inter = agg.filter(F.col("doc_b").isNotNull()).select(
        "doc_a", "doc_b", F.col("cnt").alias("n_inter")
    )
    sizes = agg.filter(F.col("doc_b").isNull()).select(
        F.col("doc_a").alias("doc_id"), F.col("cnt").alias("n_sh")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _shingles_cte(max_df: int) -> str:
    """DuckDB CTE mirroring word_shingles(max_df=...): same trigram
    construction, same hot-shingle document-frequency cap."""
    return f"""
    tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents
    ),
    shingles_all AS (
      SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      FROM tok a
      JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
      JOIN tok c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
    ),
    hot AS (
      SELECT shingle FROM shingles_all
      GROUP BY shingle HAVING COUNT(*) > {max_df}
    ),
    shingles AS (
      SELECT * FROM shingles_all
      WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shingles x JOIN shingles y
        ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
"""


_SHINGLES_CTE = _shingles_cte(SHINGLE_MAX_DF)


@query(
    "ngram_jaccard_top_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_a, doc_b, n_inter,
           sa.n_sh + sb.n_sh - n_inter AS n_union,
           CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) DESC,
             doc_a, doc_b
    LIMIT 20
    """,
)
def ngram_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top near-dup pairs by word-trigram Jaccard. Candidates come from
    the inverted shingle index, so cost is bounded by shared-shingle
    pairs, never |docs|²; the SHINGLE_MAX_DF document-frequency cap
    additionally bounds any one shingle's fan-out — the classic skew
    guard, applied identically in the oracle. Pairs are generated
    in-row from each shingle's doc list (_jaccard_pair_counts): one
    full-data shuffle, no shingle self-join."""
    docs = load_table(spark, sf_dir, "documents")
    jac = (
        _jaccard_pair_counts(docs, 3, max_df=SHINGLE_MAX_DF)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_inter")).alias("n_union"),
            (
                F.col("n_inter").cast("double")
                / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return jac.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b").limit(20)


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup — DataFrame-native (shingle → K permuted min-
# hashes → band buckets → candidate join). Hashing is the repo-standard
# md5 recipe (common.hash_bucket's derivation) rather than xxhash64, so
# the WHOLE pipeline — signatures, banding, candidate pairs, estimates —
# is oracle-checkable in DuckDB (VERDICT r9 item 5): one md5 per
# shingle lifts to K universal-family hashes via affine transforms
# modulo the Mersenne prime 2^31-1 (a*h+b stays under 2^62, overflow-
# free in both engines' int64).
# ---------------------------------------------------------------------------

_MH_K = 32     # signature length
_MH_BANDS = 8  # 8 bands × 4 rows/band
_MH_P = 2147483647  # 2^31 - 1: Mersenne prime modulus AND low-bit mask


def _mh_params() -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) affine parameters for the K hash functions
    h_i = (a·x + b) mod (2^31-1), derived from a constant-seeded LCG
    so both the Spark expressions and the oracle SQL embed the SAME
    literals. Two division-avoidance variants were MEASURED and
    rejected: plain multiply-shift ((a·x+b)>>31 without 2^64
    wraparound) makes the top bits order-preserving in x, so
    signatures correlate across components and LSH candidate volume
    explodes ~40× while recall drops below the audit floor; and the
    division-free Mersenne fold ((x>>31)+(x&p) twice + conditional
    subtract), though value-identical to %, is SLOWER in Spark
    (4.5 s vs 3.1 s at sf0.1) because Catalyst re-inlines the nested
    expression tree ~8× (the winnow nested-lambda trap). Hardware
    modulo stays."""
    x = 123456789
    draws = []
    for _ in range(2 * _MH_K):
        x = (1103515245 * x + 12345) % (1 << 31)
        draws.append(x)
    a = [(v % (_MH_P - 1)) + 1 for v in draws[:_MH_K]]
    b = [v % _MH_P for v in draws[_MH_K:]]
    return list(zip(a, b))


_MH_PARAMS = _mh_params()


def _md5_long15(col):
    """First 15 md5 nibbles as a non-negative long (fits 2^60) — the
    cross-engine hash primitive; DuckDB twin:
    CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → K-component MinHash signature over word n-gram shingles.

    K independent hash functions: ONE md5 per DISTINCT shingle reduced
    mod 2^31-1, then K affine transforms (a_i·h + b_i) mod p — the
    classic universal hash family, cheaper than K independent full
    hashes and expressible identically in DuckDB (see _mh_params for
    the measured-and-rejected division-free variants). Net cost vs
    the unpinnable xxhash64 predecessor: 3.1 s vs 1.9 s at sf0.1 —
    the price of full cross-engine oracle-ability of the flagship
    dedup path, inside the bench budget.
    One shuffle (groupBy doc_id with map-side partial mins); signature
    size is constant regardless of document length — the property that
    makes this the 100 TB path where pairwise Jaccard is not. The
    hot-shingle cap is applied before hashing: an every-document
    shingle contributes the same minimum everywhere (pure noise in the
    signature), and dropping it keeps the LSH band join's fan-out
    bounded too.

    Shingles come from the one-shuffle inverted index
    (shingle_doc_lists subsumes word_shingles' distinct exchange and
    hot-set anti-join in a single aggregation); one JVM md5 per
    DISTINCT shingle (index row) lifts to all K components via the
    affine family. A fully-fused mapInArrow variant (per-task dedup +
    hashlib md5 + numpy affine mins, byte-identical signatures) was
    shipped mid-r20 and then MEASURED OUT under this sandbox's degraded CPU conditions: its
    per-distinct-shingle Python-level md5 loop (~1M hashlib calls at
    sf0.1, the one piece numpy cannot vectorize) lost 1.2–2× to the
    codegen'd JVM md5 across every interleaved A/B leg (JVM 4.3 s vs
    fused 7.3+ s steady-state at sf0.1), so the JVM expression path
    is the keeper. The shingles themselves come from ngram_rows, also
    built-in expressions, so no stage here runs Python."""
    flat = (
        shingle_doc_lists(docs, n, max_df=SHINGLE_MAX_DF)
        .select(
            (_md5_long15(F.col("shingle")) % _MH_P).alias("h31"),
            "ds",
        )
        .select(F.explode("ds").alias("doc_id"), "h31")
    )
    mins = [
        F.min((F.lit(a) * F.col("h31") + F.lit(b)) % _MH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]
    return flat.groupBy("doc_id").agg(*mins)


def minhash_candidate_pairs(docs: DataFrame, n: int = 3) -> DataFrame:
    """LSH banding: equal band (4 consecutive signature components) →
    candidate pair; jaccard_est = fraction of equal components.

    The band self-join carries only narrow (doc_id, band_no, hash)
    rows; full signatures rejoin ONLY for surviving candidate pairs,
    so signature width never rides through the big shuffle. The
    signature table feeds three branches (banding + both rejoin
    sides) and is LAZILY localCheckpointed so each branch reads the
    persisted doc-sized table instead of re-running the corpus
    shingle pipeline (r13–r19 recomputed it per branch after an EAGER
    checkpoint measured as a wash — the eager barrier serialized the
    job; the lazy cut materializes inside the first consuming job and
    costs no extra action, the r20 loop-fold discipline). On a
    cluster the same persist is what you'd stage before fanning out."""
    sig = minhash_signatures(docs, n).localCheckpoint(eager=False)
    rows_per_band = _MH_K // _MH_BANDS
    # band key: md5-15 of the comma-joined component values — an 8-byte
    # long through the self-join shuffle (not the 40+-char raw concat),
    # byte-identical to the oracle's md5(string_agg(mh, ',' ORDER BY i))
    bands = F.array(
        *[
            _md5_long15(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(_MH_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(bands).alias("band_no", "band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_MH_K)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_MH_K)],
    )
    eq_frac = (
        sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(_MH_K)
        )
        / float(_MH_K)
    )
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", eq_frac.alias("jaccard_est"))
    )


_MH_PARAMS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS)
)

# The MinHash pipeline as reusable oracle CTEs (requires the
# shingles CTE in scope): params → per-shingle base hash → K-component
# signatures → band keys → candidate pairs → per-pair estimates.
_MINHASH_PIPELINE_CTE = f"""
    params(i, a, b) AS (VALUES {_MH_PARAMS_SQL}),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
               % {_MH_P} AS h31
      FROM shingles),
    sig AS (
      SELECT doc_id, p.i, MIN((p.a * h.h31 + p.b) % {_MH_P}) AS mh
      FROM h CROSS JOIN params p GROUP BY doc_id, p.i),
    bands AS (
      SELECT doc_id, i // {_MH_K // _MH_BANDS} AS band_no,
             CAST(concat('0x', substring(md5(
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)), 1, 15))
               AS BIGINT) AS band_hash
      FROM sig GROUP BY doc_id, i // {_MH_K // _MH_BANDS}),
    cand AS (
      SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
      FROM bands ba JOIN bands bb
        ON ba.band_no = bb.band_no AND ba.band_hash = bb.band_hash
       AND ba.doc_id < bb.doc_id),
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / {_MH_K} AS jaccard_est
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      GROUP BY c.doc_a, c.doc_b)
"""

_MINHASH_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    {_MINHASH_PIPELINE_CTE}
    SELECT doc_a, doc_b, jaccard_est FROM est
"""


@query("minhash_lsh_neardup", oracle=_MINHASH_ORACLE)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH candidate generation, hash-pinned end-to-end:
    the oracle replays the identical md5→affine universal-hash family,
    per-band md5 keys, the band self-join, and the 32-component
    estimate (exact multiples of 1/32, float-safe cross-engine).
    Was rows-only through r9 — the xxhash64→md5 derivation switch
    (VERDICT r9 item 5) made the whole sketch SQL-expressible."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs)


# ---------------------------------------------------------------------------
# SimHash fingerprints — 60-bit md5-derived bit-vote signature, pure
# built-ins, oracle-checkable (the xxhash64 predecessor was rows-only;
# VERDICT r9 item 5). 60 bits = the repo-standard md5-15-nibble long,
# always non-negative, so band extraction / XOR / popcount behave
# identically in both engines with no sign-bit special case.
# ---------------------------------------------------------------------------

_SH_BITS = 60


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN
           (SELECT unnest(generate_series(0, {_SH_BITS - 1})) AS bit) b
      GROUP BY doc_id, b.bit)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0
                         THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document: each distinct token votes the bits
    of its md5-derived long; signature bit b is 1 where the vote sum is
    positive. The oracle replays the identical hash, votes, and fold,
    so the sketch is hash-pinned end-to-end (was rows-only under
    xxhash64 through r9).

    Shape: explode (doc, token-hash) × 60 bit positions into narrow
    (doc_id, bit, vote) rows, partial-aggregate map-side, then fold the
    60 votes back into one long. The 60× row expansion stays narrow
    (16 bytes/row) and combiner-friendly — far cheaper at scale than a
    60-column aggregate, whose generated code explodes, and the final
    fold is a tiny per-doc reduce. Near-dup = small Hamming distance,
    findable by banding the signature."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .select("doc_id", _md5_long15(F.col("tok")).alias("h"))
    )
    votes = (
        toks.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(_SH_BITS - 1))).alias("bit"),
            F.col("h"),
        )
        .select(
            "doc_id",
            "bit",
            F.expr(
                "CASE WHEN shiftright(h, bit) & 1 = 1 THEN 1 ELSE -1 END"
            ).alias("vote"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    # fold: sum of 2^bit — bits 0..59 only, so the long stays positive
    term = F.expr(
        "CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return (
        votes.select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(F.sum("term").cast("long").alias("simhash"))
    )


# ---------------------------------------------------------------------------
# Quality audits for the fingerprints: pin MinHash and SimHash against
# SQL-expressible exact computations, the ann_ivf_recall_vs_bruteforce
# pattern. Since r10 the fingerprints themselves are hash-pinned too
# (md5-derived hashing); these audits add the complementary QUALITY
# invariants — detection completeness and estimation error bounds —
# that a value-identical replay alone does not state.
# ---------------------------------------------------------------------------

_NEARDUP_MIN_J = 0.8   # fixture near-dups are ≥0.8 (next cluster <0.4)
_MH_EST_ERR_BOUND = 0.35  # ≈5σ for a 32-component signature


def _exact_jaccard_pairs(docs: DataFrame, min_j: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with exact word-trigram
    Jaccard ≥ min_j — inverted-index candidates (in-row pair
    generation, one full-data shuffle), never all-pairs."""
    return (
        _jaccard_pair_counts(docs, 3, max_df=SHINGLE_MAX_DF)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_j)
    )


@query(
    "minhash_estimation_audit",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_MINHASH_PIPELINE_CTE},
    exact_pairs AS (
      SELECT doc_a, doc_b,
             CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
            >= {_NEARDUP_MIN_J}),
    joined AS (
      SELECT e.jaccard, est.jaccard_est
      FROM exact_pairs e
      LEFT JOIN est ON est.doc_a = e.doc_a AND est.doc_b = e.doc_b)
    SELECT COUNT(*) AS n_true_pairs,
           COUNT(jaccard_est) AS n_detected,
           COUNT(*) - COUNT(jaccard_est) AS n_missed,
           COUNT(CASE WHEN ABS(jaccard_est - jaccard)
                           > {_MH_EST_ERR_BOUND} THEN 1 END)
             AS n_est_err_gt_bound,
           CAST(1 AS BIGINT) AS recall_floor_ok
    FROM joined
    """,
)
def minhash_estimation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash quality audit, exact-replay form (r10): the oracle
    replays the full LSH pipeline and computes the IDENTICAL
    detected/missed/estimation-error counts, so the audit is exact
    cross-engine signal at every corpus scale — 8 bands × 4 rows
    detect j=0.8 with p≈0.985 per pair, so a handful of misses over
    hundreds of true pairs is the sketch working as designed, not a
    regression (the r9 form pinned zero misses, which held only by
    seed luck and broke at sf0.1). The hard QUALITY gate is
    ``recall_floor_ok``: the oracle states the constant 1, the Spark
    side computes ``n_detected ≥ 95% · n_true_pairs`` — a banding or
    signature regression that collapses recall flips the driver row
    red, while ordinary sketch variance cannot."""
    docs = load_table(spark, sf_dir, "documents")
    exact = _exact_jaccard_pairs(docs, _NEARDUP_MIN_J)
    cand = minhash_candidate_pairs(docs)
    joined = exact.join(cand, ["doc_a", "doc_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.count("jaccard_est").alias("n_detected"),
        (F.count(F.lit(1)) - F.count("jaccard_est")).alias("n_missed"),
        F.count(
            F.when(
                F.abs(F.col("jaccard_est") - F.col("jaccard"))
                > _MH_EST_ERR_BOUND,
                1,
            )
        ).alias("n_est_err_gt_bound"),
        (F.count("jaccard_est") * 100 >= F.count(F.lit(1)) * 95)
        .cast("long")
        .alias("recall_floor_ok"),
    )


@query(
    "simhash_exactdup_audit",
    oracle="""
    WITH groups AS (
      SELECT md5(text) AS h, COUNT(*) AS n
      FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1)
    SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_hamming_zero,
           CAST(0 AS BIGINT) AS max_hamming
    FROM groups
    """,
)
def simhash_exactdup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash quality audit: byte-identical documents (oracle-
    computable via md5 groups) must get bit-identical signatures —
    pairwise Hamming distance 0. Catches any nondeterminism or
    bit-fold regression in the signature pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    sims = simhash_fingerprints(spark, sf_dir)
    keyed = docs.select(F.md5("text").alias("h"), "doc_id")
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    sa = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    sb = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    ham = F.bit_count(F.expr("sim_a ^ sim_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.count(F.when(ham == 0, 1)).alias("n_hamming_zero"),
            F.coalesce(F.max(ham).cast("long"), F.lit(0).cast("long")).alias(
                "max_hamming"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: hyperplane-sign buckets, exact re-rank
# ---------------------------------------------------------------------------

# Shared cosine recipe lives in operators/common.py (registration-free,
# shared with similarity.py); aliased here for the module's oracles.
from jobminer_spark.operators.common import (  # noqa: E402
    QUANT as _QUANT,
    VEC_NORMS_CTE as _VEC_NORMS_CTE,
    dot_col as _dot_col,
    norm_col as _norm_col,
    pair_cosine_arrow as _pair_cosine_arrow,
    qdot as _qdot,
    spread_scan as _spread_scan,
)


def embedding_sign_pairs(emb: DataFrame, bits: int = 4) -> DataFrame:
    """(vec_a, vec_b, cosine) candidate pairs under hyperplane-sign
    blocking: vectors only pair within their ``bits``-bit sign bucket
    (2^bits buckets), so the pair join is Σ|bucket|² not |table|².

    ``bits`` is the LIVE scale knob (not prose): candidate volume
    drops ~2× per extra bit (each hyperplane roughly halves every
    bucket), at the cost of missing near-dups that straddle more sign
    boundaries — raise it with corpus volume the way LSH adds bands.
    Exact cosine re-rank inside buckets either way."""
    bucket = sum(
        (
            F.when(F.col("embedding")[i] >= 0, 1 << (bits - 1 - i)).otherwise(0)
            for i in range(bits)
        ),
        start=F.lit(0),
    )
    # spread_scan on the PROBE side (r20): e is broadcast-sized, so
    # the bucket self-join broadcasts its build side and the probe —
    # and therefore the pair generation AND the Arrow cosine kernel —
    # inherit the scan's split count (ONE task on the single-split
    # fixture, fully exposed to host-CPU bursts). Round-robin only
    # when splits < cores; a no-op on any real at-scale table.
    e = _spread_scan(
        emb.select(
            "vec_id",
            "embedding",
            bucket.alias("bucket"),
            _norm_col(F.col("embedding")).alias("nrm"),
        )
    )
    a = e.alias("a")
    b = e.alias("b")
    paired = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.embedding").alias("_ea"),
        F.col("b.embedding").alias("_eb"),
        (F.col("a.nrm") * F.col("b.nrm")).alias("_nn"),
    )
    # Pair cosines via the vectorized Arrow twin of dot_col — the
    # interpreted zip_with/aggregate fold dominated this operator's
    # wall clock (guide §4.2); same quantized recipe, bit-identical.
    return _pair_cosine_arrow(paired, "_ea", "_eb", "_nn", out="cosine")


@query(
    "embedding_neardup_bucketed",
    oracle=f"""
    WITH {_VEC_NORMS_CTE},
    buckets AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    pair_dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(SUM(CAST(floor(ea.val * eb.val * 1000000000000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000000000000.0 AS dot
      FROM buckets a
      JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN elems ea ON ea.vec_id = a.vec_id
      JOIN elems eb ON eb.vec_id = b.vec_id AND eb.ord = ea.ord
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_a, vec_b,
           dot / (na.nrm * nb.nrm) AS cosine
    FROM pair_dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    ORDER BY dot / (na.nrm * nb.nrm) DESC, vec_a, vec_b
    LIMIT 50
    """,
)
def embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the default bits=4 (16 buckets), matching
    the oracle's 4-bit bucket CTE; see embedding_sign_pairs for the
    bits-vs-volume knob."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_sign_pairs(emb, bits=4)
    return pairs.orderBy(F.col("cosine").desc(), "vec_a", "vec_b").limit(50)


# ---------------------------------------------------------------------------
# Near-dup clustering: candidate pairs → connected components → one
# canonical id per cluster. This is the production dedup shape (keep
# one doc per component), beyond the pairwise queries above.
# ---------------------------------------------------------------------------

_CC_EDGES_CTE = f"""
    {_SHINGLES_CTE},
    edges AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    ),
    bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    )
"""

# The transitive closure (reach) + min-label (comp) spelling shared by
# every CC-family oracle over a ``bidir(src, dst)`` CTE: the two
# queries here, splitguard's two and increment's four. ONE constant
# so a future fix to the closure cannot silently diverge the split
# assignment's or the admission's clustering from the attested
# components.
_CC_REACH_CTE = """\
    reach(src, dst) AS (
      SELECT src, dst FROM bidir
      UNION
      SELECT r.src, e.dst FROM reach r JOIN bidir e ON r.dst = e.src
    ),
    comp AS (
      SELECT doc_id, MIN(m) AS component
      FROM (
        SELECT src AS doc_id, dst AS m FROM reach
        UNION ALL
        SELECT DISTINCT src, src FROM bidir
      )
      GROUP BY doc_id
    )"""


@query(
    "neardup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_CC_EDGES_CTE},
{_CC_REACH_CTE}
    SELECT doc_id, component FROM comp
    """,
)
def neardup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over trigram-Jaccard >= 0.8 candidate
    pairs: every near-dup doc labeled with its cluster's minimum
    doc_id (the canonical survivor).

    All DataFrame ops (see :func:`connected_components`): near-dup
    graphs are overwhelmingly tiny cliques, so the first driver action
    usually settles every label, and adversarial long chains still
    converge in O(log² n) rounds. The oracle computes the same
    fixpoint as a recursive-CTE transitive closure (tractable at
    oracle scale only).
    """
    docs = load_table(spark, sf_dir, "documents")
    return connected_components(_neardup_edges(docs))


def _round_cap(n_nodes: int) -> int:
    """Rounds allowed before :func:`connected_components` gives up:
    ⌈log₂(n+1)⌉² + 1, the O(log² n) bound of its later rounds with
    one round to spare."""
    return math.ceil(math.log2(n_nodes + 1)) ** 2 + 1


def connected_components(
    edges: DataFrame, rounds_out: list[int] | None = None
) -> DataFrame:
    """Connected components over (doc_a, doc_b) edges in either
    orientation; returns (doc_id, component) for every node that
    appears in ``edges``, component = the component's minimum id.

    Round 1 is a min-label propagation round and rides the first
    driver action, so clique-shaped graphs (the common near-dup shape)
    finish in one action. Every later round is parent-connect +
    shortcut (Liu & Tarjan, "Simple Concurrent Labeling Algorithms for
    Connected Components", SOSA 2019 — public algorithm): each edge
    (v, w) offers label(w) to both v and label(v), then every node
    takes its label's label. Parent-connect moves labels across whole
    trees at once, so rounds stay O(log² n) whatever the component's
    diameter; dropping it (min-propagation + shortcut alone) leaves a
    permuted-id chain unconverged after 64 rounds.

    Hitting ⌈log₂(n+1)⌉² + 1 rounds (n = node count) without a
    zero-change round raises: callers make keep/drop and train/test
    decisions from the labels and must never see a partial fixpoint.
    ``rounds_out``, when given, receives the number of executed
    rounds."""
    bidir = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        # LAZY checkpoint: the init label-sum below is the
        # materializing action for BOTH this frame and the labels
        # frame built on it — one fused job instead of three (bidir
        # checkpoint, labels checkpoint, sum aggregate), the same
        # job-fold as the hierarchy doubling loop. Lineage is cut
        # identically (every partition persists during that action).
        .localCheckpoint(eager=False)
    )
    # Init with min(self, neighbors): the same aggregation that would
    # otherwise be round 1, so cliques (the overwhelmingly common
    # near-dup shape) start already-converged and the loop only
    # iterates for longer paths.
    labels = bidir.groupBy(F.col("src").alias("doc_id")).agg(
        F.min(F.least(F.col("src"), F.col("dst"))).alias("component")
    ).localCheckpoint(eager=False)

    # Convergence via the label-sum invariant: every round only ever
    # LOWERS labels (each is a min over offers that include the old
    # label; a label's label is never above it), so the decimal sum
    # strictly decreases until the fixpoint and equality <=> no label
    # changed. One bounded aggregate per round instead of the
    # join+filter+count diff (one fewer shuffle per round on the hot
    # iterative path).
    def _sum_df(df: DataFrame) -> DataFrame:
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )

    def _check(s, n):
        # A NULL sum over a NON-empty frame can only mean decimal(38,0)
        # overflow under non-ANSI arithmetic: two NULL rounds would
        # compare None == None and declare convergence spuriously —
        # a partial fixpoint that keep/drop admission would act on.
        # 38 digits hold the sum of 1e19 max-bigint labels, so this is
        # unreachable for any real corpus; raise rather than guess. An
        # EMPTY frame (no edges at all) sums to an honest 0 — the label
        # keyset is fixed across rounds, so 0 == 0 correctly reports
        # the trivial fixpoint.
        if s is None:
            if n == 0:
                return 0
            raise ArithmeticError(
                "label-sum convergence check overflowed decimal(38,0)"
            )
        return s

    def _propagate(cur: DataFrame) -> DataFrame:
        prop = bidir.join(
            cur, bidir.src == cur.doc_id
        ).select(F.col("dst").alias("doc_id"), "component")
        return (
            cur.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            # lazy: the label-sum convergence aggregate materializes it
            .localCheckpoint(eager=False)
        )

    def _connect_shortcut(cur: DataFrame) -> DataFrame:
        # only edges with label(w) < label(v) can lower either target
        e = (
            bidir.join(cur.toDF("src", "lv"), "src")
            .join(cur.toDF("dst", "lw"), "dst")
            .filter(F.col("lw") < F.col("lv"))
        )
        # checkpointed before the shortcut self-joins it: a self-join
        # over the union would re-instance the checkpointed ``cur``
        # under it, whose carried constraints Spark then fails to map
        # (NoSuchElementException in Union constraint propagation)
        connected = (
            cur.unionByName(e.select("src", "lw").toDF("doc_id", "component"))
            .unionByName(e.select("lv", "lw").toDF("doc_id", "component"))
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        # every label is a node of its own component (it arrived over
        # edges), so the inner join keeps every node
        parent = connected.toDF("component", "grand")
        return (
            connected.join(parent, "component")
            .select("doc_id", F.col("grand").alias("component"))
            .localCheckpoint(eager=False)
        )

    # Fused first action (r20): the init label-sum and round 1's
    # label-sum ride ONE driver action — a 1×1 crossJoin of the two
    # bounded aggregates — so the loop costs one job per round instead
    # of an extra stand-alone init job. Both lazy checkpoints (labels,
    # round 1's frame) materialize inside this same job in dependency
    # order, exactly as they would across two actions.
    new_labels = _propagate(labels)
    row = (
        _sum_df(labels)
        .crossJoin(
            _sum_df(new_labels).select(
                F.col("s").alias("s1"), F.col("n").alias("n1")
            )
        )
        .first()
    )
    prev_sum = _check(row["s"], row["n"])
    new_sum = _check(row["s1"], row["n1"])
    labels = new_labels
    n_rounds = 1
    cap = _round_cap(row["n"])
    while new_sum != prev_sum:
        if n_rounds >= cap:
            raise RuntimeError(
                f"connected components did not converge in {cap} rounds "
                f"over {row['n']} nodes"
            )
        labels = _connect_shortcut(labels)
        r = _sum_df(labels).first()
        prev_sum, new_sum = new_sum, _check(r["s"], r["n"])
        n_rounds += 1
    if rounds_out is not None:
        rounds_out.append(n_rounds)
    return labels


def _neardup_edges(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate edges with trigram Jaccard >= 0.8 —
    the shared edge builder of every near-dup clustering."""
    return _exact_jaccard_pairs(docs, 0.8).select("doc_a", "doc_b")


def jaccard_edges_prefix(
    docs: DataFrame,
    min_j: float,
    n: int = 3,
    max_df: int | None = SHINGLE_MAX_DF,
) -> DataFrame:
    """(doc_a, doc_b) pairs with word-n-gram Jaccard >= min_j via
    AllPairs-style prefix filtering (Bayardo/Ma/Srikant, "Scaling Up
    All Pairs Similarity Search", WWW'07 — public algorithm).

    Lossless pruning: order every doc's shingle set by global document
    frequency ascending (rare first, tiebreak on the shingle string —
    any shared TOTAL order works), and index only each doc's first
    ``|S| - ceil(min_j*|S|) + 1`` shingles. Two docs with
    J(A,B) >= min_j MUST collide inside these prefixes (J >= t implies
    |A∩B| >= t*|A|, so A's elements beyond its prefix cannot cover the
    required intersection alone) — so candidates sharing no prefix
    shingle are safely skipped. Survivors are verified exactly with an
    in-row ``array_intersect`` over the full sorted sets.

    Scale shape vs the plain inverted index: at t=0.8 only ~20% of
    each doc's shingles are indexed, so the candidate-generating
    shuffle carries ~1/5 of the volume and the rare-first order makes
    surviving candidate lists short; verification is per-candidate
    in-row work with no further shuffle. Same result set as
    _exact_jaccard_pairs (pinned by oracle).

    Honest measurement: at fixture scale the PLAIN path wins (sf0.1
    min-of-3: 2.43 s vs 2.70 s) — documents are short and the doc-set
    build costs more than the pruning saves. This variant is the
    100 TB shape, where the 5× smaller candidate shuffle and bounded
    verify lists dominate; the CC edge builder deliberately keeps the
    plain path at test scale."""
    idx = shingle_doc_lists(docs, n, max_df)
    flat = idx.select(
        "shingle", F.size("ds").alias("df"), F.explode("ds").alias("doc_id")
    )
    doc_sets = (
        flat.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ss"))
        .select(
            "doc_id",
            F.transform("ss", lambda s: s["shingle"]).alias("shingles"),
            F.size("ss").alias("n_sh"),
        )
    )
    # Conservative ceil: if the double product min_j*n_sh lands an
    # epsilon ABOVE an integer (e.g. 0.7*10 = 7.000000000000001),
    # plain ceil is one too large and the prefix one too SHORT —
    # losing edges exactly at the threshold. Subtracting 1e-9 first
    # can only lengthen the prefix (never below the lossless bound).
    pref_len = (
        F.col("n_sh")
        - F.ceil(F.lit(min_j) * F.col("n_sh") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    prefixes = doc_sets.select(
        "doc_id", F.explode(F.slice("shingles", F.lit(1), pref_len)).alias("shingle")
    )
    # per-prefix-shingle doc lists (|list| <= max_df by construction,
    # since prefixes are subsets of the capped index) -> in-row pairs
    plists = prefixes.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    ds = F.col("ds")
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        plists.filter(F.size("ds") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    a = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter.cast("double") / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= min_j)
        .select("doc_a", "doc_b")
    )


@query(
    "neardup_edges_prefix_filter",
    oracle=f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    """,
)
def neardup_edges_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filtered similarity join, oracle-pinned to the exact
    inverted-index edge set (the oracle computes the SAME >= 0.8 edges
    from the full capped index, so any over- or under-pruning by the
    prefix bound turns this row red)."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_edges_prefix(docs, 0.8)


@query(
    "neardup_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_CC_EDGES_CTE},
{_CC_REACH_CTE},
    ranked AS (
      SELECT c.component, c.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component, doc_id AS survivor_doc_id, n_members
    FROM ranked WHERE rk = 1
    """,
)
def neardup_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual OUTPUT step: one canonical survivor
    per near-dup component — keep-the-longest (n_chars, doc_id
    tiebreak), the standard heuristic for near-dup clusters where the
    longest variant usually subsumes the others.

    Composition of the oracle-checked pieces: CC labels from
    connected_components, then ONE aggregation per component
    (max_by over a lexicographic struct — no second shuffle beyond the
    component key; integer comparisons, so survivor choice is
    tiebreak-deterministic cross-engine)."""
    docs = load_table(spark, sf_dir, "documents")
    comps = neardup_connected_components(spark, sf_dir)
    j = comps.join(docs.select("doc_id", "n_chars"), "doc_id")
    return j.groupBy("component").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("nd")),
        ).alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def simhash_band_candidates(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs by SimHash: split the
    64-bit signature into 4 x 16-bit bands; pairs agreeing on ANY band
    are candidates (pigeonhole: hamming <= 3 guarantees at least one
    of 4 bands is untouched, so detection at the threshold is total),
    then the exact popcount of the XOR filters to max_hamming.

    Scale shape mirrors MinHash LSH: the band self-join carries narrow
    (band_no, band_value, doc_id) rows, signatures rejoin only for
    surviving candidates, and candidate volume is bounded by band
    collisions — never all-pairs."""
    # Mask (not %) extracts each 16-bit band: Spark's % keeps the
    # dividend's sign, so for band 0 (identity shift) a negative
    # simhash would land in (-65536, 0] while a positive signature
    # with identical low 16 bits lands in [0, 65536) — silently
    # missing pairs whose only untouched band is band 0 and whose
    # sign bits differ. bitwiseAND is sign-agnostic.
    bands = F.array(
        *[
            (F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))).alias(
                f"b{b}"
            )
            for b in range(4)
        ]
    )
    banded = sims.select(
        "doc_id", F.posexplode(bands).alias("band_no", "band_value")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    sb = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    ham = F.bit_count(F.expr("sim_a ^ sim_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


@query(
    "simhash_band_neighbors",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN
           (SELECT unnest(generate_series(0, {_SH_BITS - 1})) AS bit) b
      GROUP BY doc_id, b.bit),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0
                           THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b.band_no,
             (simhash >> (16 * b.band_no)) & 65535 AS band_value
      FROM sim CROSS JOIN
           (SELECT unnest(generate_series(0, 3)) AS band_no) b),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_no = y.band_no AND x.band_value = y.band_value
       AND x.doc_id < y.doc_id)
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sim sa ON sa.doc_id = c.doc_a
    JOIN sim sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """,
)
def simhash_band_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash neighbor search, hash-pinned end-to-end: the
    oracle replays the md5-derived fingerprints, the 4×16-bit band
    split, the band self-join, and the exact XOR-popcount filter.
    Was rows-only through r9 (xxhash64 signature — VERDICT r9 item
    5)."""
    sims = simhash_fingerprints(spark, sf_dir)
    return simhash_band_candidates(sims)


@query(
    "simhash_band_recall_audit",
    oracle="""
    WITH groups AS (
      SELECT md5(text) AS h, COUNT(*) AS n
      FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1)
    SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_exact_pairs,
           CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_detected,
           CAST(0 AS BIGINT) AS n_missed
    FROM groups
    """,
)
def simhash_band_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall pin for the banded neighbor search: byte-identical
    documents have Hamming distance 0, which the 4-band pigeonhole
    bound must detect with certainty. The oracle independently counts
    the exact-duplicate pairs (md5 groups) and expects every one of
    them among the band candidates — a banding or bit-split regression
    drops detection and turns this row red."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(F.md5("text").alias("h"), "doc_id")
    a, b = keyed.alias("a"), keyed.alias("b")
    exact = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    cand = simhash_band_neighbors(spark, sf_dir).select("doc_a", "doc_b", "hamming")
    joined = exact.join(cand, ["doc_a", "doc_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.count("hamming").alias("n_detected"),
        (F.count(F.lit(1)) - F.count("hamming")).alias("n_missed"),
    )
