"""Shared column helpers used across operator modules.

Lives in its own module (NO @query registrations) so that importing it
never triggers another module's query registration: the driver's
CORRECTNESS artifact attests the first 50 registered queries in
registration order, and registration order must follow
``registry._OPERATOR_MODULES`` exactly — a helper import from a
query-bearing module would silently pull that module's queries to the
front of the window.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(expr: Column) -> Column:
    """Order-independent sum of a double expression: exact decimal
    accumulation, double result."""
    return F.sum(expr.cast("decimal(38,6)")).cast("double")


def davg(expr: Column) -> Column:
    return dsum(expr) / F.count(F.lit(1))


def ts_str(col: Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def spread_scan(df):
    """Round-robin repartition a DEGENERATE input (fewer splits than
    the session's cores — the fixture's single-row-group parquet) so
    heavy downstream per-row work (e.g. wide decimal aggregation)
    parallelizes. A no-op whenever the input already yields at least
    one split per core — any real at-scale table — so the exchange
    exists only where the file LAYOUT, not the data size, bounds
    parallelism (guide §2.2: partitioning derived from the input, not
    a constant). Call AFTER scan-level filters so predicate pushdown
    stays on the scan. Only order-insensitive consumers (exact
    decimal/integer aggregation) may use this — round-robin changes
    row order."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# Exact cross-engine cosine recipe: element products are quantized to
# 1e-15 longs (floor(x*y*1e15) — identical IEEE ops in both engines),
# summed exactly as integers (order-independent), and only then divided
# back in double. The Spark side is an in-row zip_with/aggregate fold
# (no explode, no shuffle); the DuckDB oracle reproduces it
# bit-for-bit via unnest+SUM.
# ---------------------------------------------------------------------------

QUANT = 1_000_000_000_000_000  # 1e15; 64 dims of unit-ish floats fits long

# Fixture embedding dimensionality. Any oracle that hardcodes a
# subspace slicing (PQ) derives it from THIS constant, and the Spark
# side asserts the probed width equals it — so a fixture dim change
# fails loudly instead of surfacing as a silent parity red
# (r7 ADVICE item 3).
EMB_DIMS = 64

# The probe itself is cached per (session, source): parquet schemas
# carry no array length, so the width needs one 1-row job — but ONE
# per session, not one serialized ahead of every PQ/LSH query's real
# plan (VERDICT r9 item 4).
_DIM_PROBE_CACHE: dict[tuple[str, str], int | None] = {}


def probed_embedding_dims(emb) -> int | None:
    """Embedding width from the data (None for an empty corpus),
    cached per (SparkSession, analyzed-plan semantic hash) so repeated
    queries in a driver window pay a single probe job. The semantic
    hash distinguishes PROJECTIONS of the same source — a sliced
    embedding column must re-probe, not inherit the full width (a
    file-path key broke the divisibility guard, caught by
    test_pq_encoding_shape_and_guard)."""
    key = (
        emb.sparkSession.sparkContext.applicationId,
        emb._jdf.queryExecution().analyzed().semanticHash(),
    )
    if key not in _DIM_PROBE_CACHE:
        first = emb.select(F.size(F.col("embedding")).alias("d")).first()
        _DIM_PROBE_CACHE[key] = None if first is None else first["d"]
    return _DIM_PROBE_CACHE[key]

VEC_NORMS_CTE = f"""
    elems AS (
      SELECT vec_id, CAST(v AS DOUBLE) AS val, ord FROM (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS ord
        FROM embeddings
      )
    ),
    norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(floor(val * val * {QUANT}.0) AS BIGINT)) AS DOUBLE)
                  / {QUANT}.0) AS nrm
      FROM elems GROUP BY vec_id
    )
"""


# ---------------------------------------------------------------------------
# Deterministic hash bucket: md5 hex -> first 8 nibbles -> int -> % n.
# Identical recipe on both engines (Spark conv(hex,16,10); DuckDB
# CAST('0x'||hex AS BIGINT)), uniform enough for split assignment, and
# embarrassingly parallel — no shuffle, no state, stable under retry.
# ---------------------------------------------------------------------------


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic [0, n_buckets) bucket from any key column."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def bucket_sql(key_sql: str, n_buckets: int = 100) -> str:
    """DuckDB twin of :func:`hash_bucket` for oracle strings."""
    return (
        f"CAST(concat('0x', substring(md5(CAST({key_sql} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {n_buckets}"
    )


def word_shingles(docs, n: int = 3, max_df: int | None = None):
    """(doc_id, shingle) distinct word n-grams via :func:`ngram_rows` —
    pure built-ins, stays in whole-stage codegen.

    With ``max_df`` set, shingles with document frequency above the cap
    are removed via an anti-join against the hot set. The hot set is
    bounded by |shingle occurrences| / max_df — with production caps
    (max_df >= 100) that is <=1% of distinct shingles, small enough to
    broadcast, and broadcasting matters: the groupBy already shuffles
    the shingle set once, and a non-broadcast anti-join would shuffle
    it a second time (measured ~15% slower end-to-end at sf0.1). An
    over-limit hot set fails loudly (Spark's broadcast size error), not
    silently wrong."""
    sh = ngram_rows(
        # spread_scan: a single-row-group input would run the whole
        # tokenize + n-gram explode in one task. Round-robin only when
        # splits < cores; a no-op at scale. Dropping NULL texts before
        # the exchange keeps them off the wire (ngram_rows would drop
        # them anyway).
        spread_scan(docs.filter(F.col("text").isNotNull())),
        n,
    ).distinct()
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


# ---------------------------------------------------------------------------
# K-means distance kernel (shared by similarity.py and audits.py):
# quantized squared L2 so assignment and objective are cross-engine
# deterministic integers.
# ---------------------------------------------------------------------------

KM_K = 8
KM_QUANT = 1_000_000_000_000.0  # 1e12 per-element quantization


# Gopher-style repetition-filter thresholds (~p90 of the fixture
# distribution). Live here (query-free module) so docquality's filter
# and trainprep's composite funnel share them in oracle strings
# without cross-importing query-bearing modules at decoration time.
DUP_FRAC_MAX = 0.12
TOP_FRAC_MAX = 0.06


def repetition_cte() -> str:
    """DuckDB CTEs computing per-document word-2-gram repetition
    stats, ending in ``rep`` (doc_id, n_grams, dup_gram_frac,
    top_gram_frac). Shared by docquality's filter oracle and
    trainprep's funnel oracle so the gram definition cannot silently
    drift between the operator and the pipeline that composes it."""
    return """
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents
    ),
    grams AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS g
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    ),
    gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    rep AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
               / SUM(c) AS dup_gram_frac,
             CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_gram_frac
      FROM gc GROUP BY doc_id
    )
    """


def trained_cells_cte() -> str:
    """DuckDB CTEs recomputing similarity.lloyd_centroids(n_updates=1):
    ``seed`` (first K vectors), ``d0`` (round-1 quantized distances),
    ``a0`` (round-1 assignment), ``trained`` (exact decimal-mean
    centroids, double result cast through REAL to mirror the Spark
    side's float centroid storage). Requires the ``elems`` CTE from
    VEC_NORMS_CTE in scope. Lives in this query-free module so
    audits.py can embed it in an oracle string at decoration time
    without importing the query-bearing similarity module early."""
    return f"""
    seed AS (SELECT vec_id AS cid, ord, val AS cx FROM elems WHERE vec_id < {KM_K}),
    d0 AS (
      SELECT e.vec_id, s.cid,
             CAST(SUM(CAST(floor((e.val - s.cx) * (e.val - s.cx) * {KM_QUANT})
                           AS BIGINT)) AS BIGINT) AS qdist
      FROM elems e JOIN seed s ON s.ord = e.ord
      GROUP BY e.vec_id, s.cid
    ),
    a0 AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY qdist, cid) AS rn
        FROM d0) WHERE rn = 1
    ),
    trained AS (
      -- the inner decimal→double goes through VARCHAR: DuckDB's
      -- direct DECIMAL→DOUBLE cast misrounds by 1 ulp on ~25% of
      -- values (r11 finding), and a pre-REAL 1-ulp skew can flip the
      -- float32 rounding on a boundary; the string bounce is
      -- correctly rounded in both engines, matching Spark's cast
      SELECT a0.cluster AS cid, e.ord,
             CAST(CAST(CAST(CAST(SUM(CAST(e.val AS DECIMAL(38,12)))
                                 AS VARCHAR) AS DOUBLE)
                       / COUNT(*) AS REAL) AS DOUBLE) AS cx
      FROM a0 JOIN elems e ON e.vec_id = a0.vec_id
      GROUP BY a0.cluster, e.ord
    )
    """


def qdist_col(a, b) -> Column:
    """Quantized squared L2 distance between two float arrays: each
    element difference is computed in double (identical IEEE op on
    both engines), squared, floor-quantized to a long, then summed
    exactly — order-independent and cross-engine deterministic."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(KM_QUANT)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def qdot(a, b):
    """Quantized dot product accumulator: long-exact, order-free."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(float(QUANT))
        ),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def norm_col(vec):
    return F.sqrt(qdot(vec, vec).cast("double") / F.lit(float(QUANT)))


def dot_col(a, b):
    return qdot(a, b).cast("double") / F.lit(float(QUANT))


def ngram_rows(docs, n: int, out: str = "shingle"):
    """(doc_id, word-n-gram) rows — one per POSITION, duplicates kept.

    Tokens are ``w = split(text, ' ', -1)`` (literal single space,
    leading, trailing and consecutive empties kept — Python's
    ``text.split(' ')``); only docs with ``size(w) >= n`` emit rows,
    so a shorter doc or a NULL text emits nothing. Gram i is
    ``concat_ws(' ', w[i+1], …, w[i+n])``, its n terms spelled out
    here because n is known when the plan is built. No higher-order
    function and no lambda, so the whole chain — split,
    explode(sequence) and the join — compiles under whole-stage
    codegen."""
    w = F.split(F.col("text"), " ", -1)
    i = F.col("_i")
    # the size guard sits inside the generator, not in a Filter: the
    # optimizer pushes a Filter below the projection and inlines the
    # split into it, which tokenizes every row twice
    starts = F.when(F.size("_w") >= n, F.sequence(F.lit(0), F.size("_w") - n))
    return (
        docs.select("doc_id", w.alias("_w"))
        .select("doc_id", "_w", F.explode(starts).alias("_i"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("_w", i + (j + 1)) for j in range(n)]
            ).alias(out),
        )
    )


def posting_pairs(idx, list_col: str = "ds", size_markers: bool = False):
    """(doc_a, doc_b) rows from an inverted index of per-key SORTED id
    arrays: for each list, every (ds[i], ds[j]) with i < j — the upper
    triangle, for any element type. ``posexplode`` gives each element
    its position, and ``explode(slice(ds, pos + 2, size(ds)))`` pairs
    it with every later element; no lambda, so it stays in codegen.

    With ``size_markers`` every posting also emits one (doc, NULL)
    row, so a single ``groupBy(doc_a, doc_b).count()`` yields both the
    per-pair shared-key counts (doc_b non-NULL) and the per-doc key
    totals (doc_b NULL)."""
    ds = F.col(list_col)
    tail = F.slice(ds, F.col("_pos") + 2, F.size(ds))
    if size_markers:
        elem = idx.schema[list_col].dataType.elementType
        tail = F.concat(F.array(F.lit(None).cast(elem)), tail)
    return (
        idx.select(F.posexplode(ds).alias("_pos", "doc_a"), ds)
        .select("doc_a", F.explode(tail).alias("doc_b"))
    )


def pair_cosine_arrow(
    df, a_col: str, b_col: str, nn_col: str, out: str = "cosine"
):
    """Exact Arrow/numpy twin of ``dot_col(a, b) / nn`` for pair-sized
    frames: every batch's quantized dot products are computed with one
    vectorized numpy pass instead of the interpreted per-element
    zip_with/aggregate fold (which gets no codegen), replaying the
    engine recipe bit-for-bit — float32→float64 widening and (x*y)*1e15
    are exact/IEEE-identical, np.floor == java.lang.Math.floor on
    doubles, the int64 segment sums wrap identically to the JVM long
    fold, and the final long→double cast and two divisions are the same
    IEEE ops in the same order.

    Contract (checked loudly, not silently diverged from): no null
    elements inside embeddings; a null array or length-mismatched pair
    yields a NULL cosine exactly like zip_with's null padding. All
    columns except ``a_col``/``b_col``/``nn_col`` pass through
    untouched; select only what you need upstream (the boundary ships
    every column it sees)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col, nn_col)]
    out_schema = StructType(keep + [StructField(out, DoubleType(), True)])
    quant = float(QUANT)

    def _gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute  # noqa: F401 — pa.compute needs the explicit import

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            idx = {name: i for i, name in enumerate(batch.schema.names)}
            ea = batch.column(idx[a_col])
            eb = batch.column(idx[b_col])
            nn = batch.column(idx[nn_col]).to_numpy(zero_copy_only=False)
            va = ea.flatten()
            vb = eb.flatten()
            if va.null_count or vb.null_count:
                raise ValueError(
                    "pair_cosine_arrow: null embedding elements are not "
                    "supported (zip_with parity would need per-element "
                    "null folding)"
                )
            la = pa.compute.list_value_length(ea).to_numpy(zero_copy_only=False)
            lb = pa.compute.list_value_length(eb).to_numpy(zero_copy_only=False)
            la = np.nan_to_num(la.astype(np.float64), nan=-1.0).astype(np.int64)
            lb = np.nan_to_num(lb.astype(np.float64), nan=-2.0).astype(np.int64)
            ok = la == lb  # null arrays get distinct sentinels => not ok
            xa = va.to_numpy(zero_copy_only=False).astype(np.float64)
            xb = vb.to_numpy(zero_copy_only=False).astype(np.float64)
            if ok.all():
                prods = np.floor(xa * xb * quant).astype(np.int64)
                csum = np.concatenate(([0], np.cumsum(prods, dtype=np.int64)))
                ends = np.cumsum(la, dtype=np.int64)
                starts = np.concatenate(([0], ends[:-1]))
                dots = csum[ends] - csum[starts]
            else:
                # Mismatched / null rows desynchronize the two flat
                # value streams; per-row fallback for this
                # (never-in-fixture) batch. ok=False rows yield NULL.
                dots = np.zeros(n, dtype=np.int64)
                pos_a = np.concatenate(([0], np.cumsum(np.maximum(la, 0)))).astype(np.int64)
                pos_b = np.concatenate(([0], np.cumsum(np.maximum(lb, 0)))).astype(np.int64)
                for i in range(n):
                    if not ok[i]:
                        continue
                    sa = xa[pos_a[i] : pos_a[i + 1]]
                    sb = xb[pos_b[i] : pos_b[i + 1]]
                    dots[i] = (
                        np.floor(sa * sb * quant).astype(np.int64).sum()
                    )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64) / quant) / nn
            cos_arr = pa.array(cos, type=pa.float64(), from_pandas=False)
            if not ok.all() or batch.column(idx[nn_col]).null_count:
                nn_valid = pa.compute.is_valid(batch.column(idx[nn_col]))
                valid = pa.compute.and_(
                    pa.array(ok), nn_valid
                )
                cos_arr = pa.compute.if_else(valid, cos_arr, pa.scalar(None, pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(idx[f.name]) for f in keep] + [cos_arr],
                names=[f.name for f in keep] + [out],
            )

    return df.mapInArrow(_gen, out_schema)


def sweep_stale_dirs(
    root: str, prefix: str, keep_token: str, min_age_s: float = 6 * 3600
) -> None:
    """Remove another session's leftover scratch directories under
    ``root`` matching ``prefix`` — but only ones untouched for
    ``min_age_s``. The unconditional sweep this replaces yanked LIVE
    concurrent sessions' lakehouse tables and streaming checkpoints
    mid-run (their manifest-committed state is not overwrite-tolerant);
    an mtime age gate keeps the cleanup while making a live victim
    implausible — any active drain/merge touches its directory far
    more often than the threshold."""
    import os
    import shutil
    import time

    now = time.time()
    for d in os.listdir(root):
        if not d.startswith(prefix) or keep_token in d:
            continue
        p = os.path.join(root, d)
        try:
            # A directory's own mtime does NOT change when files are
            # created deeper inside it, so the age must be the max
            # mtime over the dir and its first two levels — merges
            # touch <table>/_manifests and <table>/data/<sub>, and
            # checkpoints touch <work>/ck_*/..., all within two
            # levels, so any live activity refreshes this probe.
            # no sampling cap: an earlier [:64] slice could miss a
            # live session whose recent writes land only in LATER
            # listdir entries (e.g. >64 partition dirs under one data
            # subdir) — exactly the failure class this gate closes.
            # The walk is two levels deep and bounded in practice
            # (manifests + bucket dirs), so a full listing is cheap.
            ages = [os.path.getmtime(p)]
            for child in os.listdir(p):
                cp = os.path.join(p, child)
                ages.append(os.path.getmtime(cp))
                if os.path.isdir(cp):
                    for gc in os.listdir(cp):
                        ages.append(os.path.getmtime(os.path.join(cp, gc)))
            if now - max(ages) < min_age_s:
                continue
        except OSError:
            continue
        shutil.rmtree(p, ignore_errors=True)


# ---------------------------------------------------------------------------
# Exact decimal → double conversion (identical in both engines)
# ---------------------------------------------------------------------------
# DuckDB's CAST(DECIMAL(38,s) AS DOUBLE) MISROUNDS by 1 ulp on ~25% of
# random values (r11 measurement: 76/300 at scale 18 vs Python's
# Decimal→float reference; first observed as the strict comparator's
# catch on SUM(value²) at sf0.01). Spark's decimal→double cast is
# correctly rounded (0/3000 misrounds across scales 6/12/18). The
# CANONICAL oracle-side fix is the VARCHAR bounce —
#   CAST(CAST(<decimal expr> AS VARCHAR) AS DOUBLE)
# — because decimal→string is exact and string→double parsing is
# correctly rounded in BOTH engines (0/300 mismatches measured);
# applied to every decimal-sum oracle in r11 and pinned by
# tests/test_properties.py::test_decimal_double_string_route_parity.
# The split chain below predates that finding and remains as a second
# validated primitive (used by variance_stats_by_event_type): it
# splits the decimal into integer quotient q and fraction numerator r
# (both exact int64), then rebuilds with int64→double conversions
# (correctly rounded in both engines at any magnitude), one
# correctly-rounded division, and one addition — token-for-token the
# same IEEE op order on both sides.


def dec12_to_double(c: Column) -> Column:
    """Spark half: ``c`` must be a DECIMAL(38,12) expression. The
    fraction is extracted with ``c % 1`` — which Spark types as
    DECIMAL(13,12), below the precision cap — NOT ``c - floor(c)``,
    whose result type for a full-width input is DECIMAL(38,10):
    Spark's add/subtract type rule would silently ROUND away the low
    two fraction digits while the DuckDB twin keeps all twelve
    (caught by the r12 `dec12_split` probe; invisible on fixtures
    whose values carry ≤10 fraction digits). The modulo follows the
    dividend's sign, so a negative input's remainder is shifted into
    [0, 1) to match FLOOR semantics. The fraction is cast to
    DECIMAL(14,12) BEFORE the 1e12 multiply — the product-type rule
    would otherwise cap precision by shrinking the scale and
    truncating low digits."""
    q = F.floor(c).cast("long").cast("double")
    m = c % F.lit(1).cast("decimal(1,0)")
    frac = F.when(m < 0, m + 1).otherwise(m).cast("decimal(14,12)")
    r = (frac * F.lit(1_000_000_000_000).cast("decimal(13,0)")).cast(
        "long"
    ).cast("double")
    return q + r / F.lit(1_000_000_000_000.0)


def dec12_to_double_sql(expr: str) -> str:
    """DuckDB twin of :func:`dec12_to_double` for oracle strings."""
    return (
        f"(CAST(CAST(FLOOR({expr}) AS BIGINT) AS DOUBLE)"
        f" + CAST(CAST(({expr} - FLOOR({expr})) * 1000000000000 AS BIGINT)"
        f" AS DOUBLE) / 1000000000000.0)"
    )


def source_fingerprint(sf_dir: str) -> str:
    """Cheap change-detection for the data under ``sf_dir``: (name,
    size, mtime_ns) of every ``*.parquet`` entry — and of every file
    inside one that is a directory — digested. A rewrite of any table
    under the same path changes it. Pure os.stat — no Spark job, no
    file reads."""
    import hashlib
    import os

    parts: list[str] = []
    try:
        for name in sorted(os.listdir(sf_dir)):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(sf_dir, name)
            subs = sorted(os.listdir(path)) if os.path.isdir(path) else [""]
            for sub in subs:
                st = os.stat(os.path.join(path, sub) if sub else path)
                parts.append(f"{name}/{sub}:{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        parts.append("missing")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def scenario_workdir(spark, sf_dir: str, prefix: str, fingerprint: str) -> str:
    """Fresh scratch root for one scenario build: sweep other
    sessions' stale roots (age-gated), digest the FULL sf_dir path +
    data fingerprint into the dir name (two alike-named fixture dirs,
    or a rewritten dataset under the same path, never share a root),
    then clear any previous build of this exact root. The directory
    itself is not created."""
    import hashlib
    import os
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    tmp = tempfile.gettempdir()
    sweep_stale_dirs(tmp, prefix, keep_token=f"{prefix}{app}_")
    digest = hashlib.md5(
        (os.path.abspath(sf_dir) + "#" + fingerprint).encode()
    ).hexdigest()[:10]
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    work = os.path.join(tmp, f"{prefix}{app}_{sf_tag}_{digest}")
    shutil.rmtree(work, ignore_errors=True)
    return work


# Every scenario an audit query builds once per session: a lakehouse,
# a Delta/Iceberg table, a streaming drain, an index. Keyed by
# (applicationId, abspath(sf_dir), source_fingerprint(sf_dir), name),
# so a new session, another directory or rewritten data under the
# same path each get a fresh build — a stored result is reused only
# while the data it was built from is unchanged.
_SCENARIO_CACHE: dict[tuple[str, str, str, str], object] = {}


def scenario(spark, sf_dir: str, name: str, build):
    """Run ``build(work)`` once per (session, sf_dir, data state, name)
    and return its stored value. ``work`` is a fresh scratch root from
    :func:`scenario_workdir` (prefix ``jm_<name>_``) that the build may
    create and fill; it lives as long as the stored value needs it. A
    build that raises stores nothing. Call it from the thread that runs
    the query: two threads building one scenario at once would share
    its work dir."""
    import os

    fp = source_fingerprint(sf_dir)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), fp, name)
    if key not in _SCENARIO_CACHE:
        work = scenario_workdir(spark, sf_dir, f"jm_{name}_", fp)
        _SCENARIO_CACHE[key] = build(work)
    return _SCENARIO_CACHE[key]


def forget_scenarios(name: str | None = None) -> None:
    """Drop the stored scenarios called ``name`` (every one when None),
    so the next :func:`scenario` call builds again."""
    for key in [k for k in _SCENARIO_CACHE if name in (None, k[3])]:
        del _SCENARIO_CACHE[key]
