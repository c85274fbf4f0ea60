"""Data-driven (Markov removal-effect) attribution.

The position-based models in ``attribution.py`` credit the first or
last touch; the data-driven standard (Anderl et al.) instead models
journeys as a first-order Markov chain — START → channel states →
absorbing CONV (purchase) / DROP (session ends unconverted) — and
credits each channel by its REMOVAL EFFECT: how much the chain's
conversion probability falls when that channel is knocked out
(removal = the state becomes absorbing-null: its value is pinned to
zero, so every path through it contributes nothing; edge counts and
row totals stay those of the observed chain).

Everything is exact integer arithmetic, pinned cross-engine:

* journeys = 5-minute-gap sessions (the proven islands spelling),
  truncated at the FIRST purchase; transitions START→first,
  step→step, purchase→CONV, last-unconverted→DROP;
* conversion probability = the 64-STEP absorbing value
  p_64(START), computed by iterating
  ``p(s) ← Σ_t c(s,t)·p(t) div total(s)`` from p_0 = Q·[s=CONV]
  with Q = 10^12 — a finite, deterministic object (convergence not
  assumed; K=64 is part of the metric's definition, stated here);
  the fold is monotone non-decreasing so p_64 is a lower bound of
  the fixpoint, identical in both engines because integer sums are
  order-independent and both divide once per state per round;
* the oracle replays all 64 rounds × (1 + n_channels) removal
  variants as unrolled MATERIALIZED CTEs over the (variant, state)
  frame (~48 rows/round — the BPE replay discipline; DuckDB's
  recursive CTEs disallow aggregation in the recursive term, and
  without MATERIALIZED the planner inlines rounds exponentially);
* the Spark side aggregates the transition counts distributedly,
  collects the DIMENSION-SIZED matrix (≤ |event_types|²+|types|
  rows — the MMR bounded-collect precedent), replays the same
  integer fold in Python (arbitrary-precision ints ⊇ int64, same
  values), and emits one row per channel via a VALUES plan.

Scale shape: the corpus-touching work is one per-user window pass +
one (from,to) aggregation over a ≤ 50-cell key space; the iteration
runs on the channel dimension, never the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

_GAP_US = 300 * 1_000_000  # the repo-wide 5-minute session gap
_Q = 1_000_000_000_000  # probability quantum (1e12)
_K = 64  # pinned iteration count — part of the metric definition

_EDGES_CTE = f"""
    ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events
    ),
    marked AS (
      SELECT user_id, event_id, tus, event_type,
             CASE WHEN LAG(tus) OVER w IS NULL
                    OR tus - LAG(tus) OVER w >= {_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, tus, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
      FROM marked
    ),
    numbered AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY tus, event_id) AS rn
      FROM sess
    ),
    cut AS (
      SELECT user_id, sid,
             MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS prn
      FROM numbered GROUP BY user_id, sid
    ),
    kept AS (
      SELECT n.user_id, n.sid, n.event_type, n.rn
      FROM numbered n JOIN cut c
        ON n.user_id = c.user_id AND n.sid = c.sid
      WHERE c.prn IS NULL OR n.rn <= c.prn
    ),
    stepped AS (
      SELECT user_id, sid, event_type, rn,
             LEAD(event_type) OVER (PARTITION BY user_id, sid
                                    ORDER BY rn) AS nxt
      FROM kept
    ),
    edges_raw AS (
      SELECT 'START' AS from_state, event_type AS to_state
      FROM stepped WHERE rn = 1
      UNION ALL
      SELECT event_type,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  WHEN nxt IS NULL THEN 'DROP'
                  ELSE nxt END
      FROM stepped
    ),
    edges AS MATERIALIZED (
      SELECT from_state, to_state, COUNT(*) AS n
      FROM edges_raw GROUP BY from_state, to_state
    ),
    totals AS MATERIALIZED (
      SELECT from_state AS state, CAST(SUM(n) AS BIGINT) AS total
      FROM edges GROUP BY from_state
    ),
    variants AS MATERIALIZED (
      SELECT 'ALL' AS variant
      UNION ALL
      SELECT DISTINCT event_type FROM ev WHERE event_type <> 'purchase'
    ),
    states AS MATERIALIZED (
      SELECT state, total FROM totals
      UNION ALL SELECT 'CONV', CAST(1 AS BIGINT)
      UNION ALL SELECT 'DROP', CAST(1 AS BIGINT)
    ),
    frame AS MATERIALIZED (
      SELECT v.variant, s.state, s.total FROM variants v CROSS JOIN states s
    )
"""


def _iter_cte(k: int) -> str:
    """Round k+1 from round k: the exact integer fold, one div per
    (variant, state)."""
    return f"""
    it{k + 1} AS MATERIALIZED (
      SELECT variant, state,
             CASE WHEN state = 'CONV' THEN {_Q}
                  WHEN state = 'DROP' THEN 0
                  WHEN variant = state THEN 0
                  ELSE CAST(acc // total AS BIGINT) END AS p
      FROM (
        -- e.n * p.p as HUGEINT: with p up to Q=1e12, any edge count
        -- above ~9.2e6 would overflow a BIGINT product and DuckDB
        -- RAISES (no silent promotion) — the Spark-side Python replay
        -- (arbitrary-precision ints) would keep working, so the
        -- oracle must widen the intermediate; the result re-enters
        -- the pinned type vocabulary via the CAST(... AS BIGINT)
        -- around the division above.
        SELECT f.variant, f.state, f.total,
               COALESCE(SUM(CAST(e.n AS HUGEINT) * p.p), 0) AS acc
        FROM frame f
        LEFT JOIN edges e ON e.from_state = f.state
        LEFT JOIN it{k} p
          ON p.variant = f.variant AND p.state = e.to_state
        GROUP BY f.variant, f.state, f.total
      )
    )"""


def _oracle() -> str:
    rounds = ",".join(_iter_cte(k) for k in range(_K))
    return f"""
    WITH {_EDGES_CTE},
    it0 AS MATERIALIZED (
      SELECT variant, state,
             CASE WHEN state = 'CONV' THEN {_Q} ELSE 0 END AS p
      FROM frame
    ),
    {rounds},
    pall AS (
      SELECT p FROM it{_K} WHERE variant = 'ALL' AND state = 'START'
    )
    SELECT w.variant AS channel,
           CAST(pall.p AS BIGINT) AS p_all_q,
           CAST(w.p AS BIGINT) AS p_without_q,
           CAST((pall.p - w.p) * 1000 // pall.p AS BIGINT)
             AS removal_effect_permille
    FROM it{_K} w, pall
    WHERE w.variant <> 'ALL' AND w.state = 'START'
    """


@query("attribution_removal_effects", oracle=_oracle())
def attribution_removal_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per channel: the 64-step conversion probability with
    all channels, with this channel removed, and the removal effect
    in exact per-mille."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_type",
    )
    worder = W.partitionBy("user_id").orderBy("tus", "event_id")
    prev = F.lag("tus").over(worder)
    brk = F.when(prev.isNull() | (F.col("tus") - prev >= _GAP_US), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_id",
        "tus",
        "event_type",
        F.sum(brk)
        .over(worder.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sid"),
    )
    wsess = W.partitionBy("user_id", "sid").orderBy("tus", "event_id")
    numbered = sess.select(
        "user_id",
        "sid",
        "event_type",
        F.row_number().over(wsess).alias("rn"),
    )
    # prn as a WINDOW aggregate over the same (user_id, sid)
    # partitioning instead of a groupBy + self-join: the old shape
    # planned the whole sessionize+window chain TWICE (once per join
    # side); the window min rides the sort the row_number already
    # established — same per-session value, zero extra subtree
    # (guide §2.4: operations keyed the same way share one exchange).
    wfull = W.partitionBy("user_id", "sid")
    kept = numbered.withColumn(
        "prn",
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).over(
            wfull
        ),
    ).filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
    wk = W.partitionBy("user_id", "sid").orderBy("rn")
    stepped = kept.select(
        "user_id",
        "sid",
        "event_type",
        "rn",
        F.lead("event_type").over(wk).alias("nxt"),
    )
    # START edges and step edges in ONE pass over stepped (the old
    # starts/steps union planned the window chain twice): a session's
    # first row additionally emits its START edge via explode — the
    # same multiset, then the same bounded groupBy.
    to_state = (
        F.when(F.col("event_type") == "purchase", "CONV")
        .when(F.col("nxt").isNull(), "DROP")
        .otherwise(F.col("nxt"))
    )
    step_pair = F.struct(
        F.col("event_type").alias("from_state"), to_state.alias("to_state")
    )
    start_pair = F.struct(
        F.lit("START").alias("from_state"),
        F.col("event_type").alias("to_state"),
    )
    edges = (
        stepped.select(
            F.explode(
                F.when(F.col("rn") == 1, F.array(start_pair, step_pair))
                .otherwise(F.array(step_pair))
            ).alias("e")
        )
        .select("e.from_state", "e.to_state")
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # dimension-sized collects (≤ |types|² + |types| rows): the matrix
    # the iteration runs on — the MMR bounded-collect precedent. The
    # edge aggregation (sessionize + windows) and the raw event-type
    # scan are INDEPENDENT jobs; overlap them (guide §2.6) so the
    # cheap distinct back-fills the window job's straggler tail.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # the helper threads keep the caller's job group
    _inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        edges_f = _pool.submit(_inherit(edges.collect))
        chan_f = _pool.submit(
            _inherit(lambda: ev.select("event_type").distinct().collect())
        )
        rows, chan_rows = edges_f.result(), chan_f.result()
    c: dict[str, dict[str, int]] = {}
    for r in rows:
        c.setdefault(r["from_state"], {})[r["to_state"]] = r["n"]
    totals = {s: sum(ts.values()) for s, ts in c.items()}
    # channel list mirrors the oracle's `variants` CTE exactly: every
    # event type except the conversion event — including one that
    # (pathologically) never survives into `kept`, whose removal is
    # then a provable no-op on both sides
    channels = sorted(
        r["event_type"]
        for r in chan_rows
        # drop NULLs like the oracle's `event_type <> 'purchase'` does
        if r["event_type"] is not None and r["event_type"] != "purchase"
    )

    def run(removed: str | None) -> int:
        p = {s: 0 for s in set(totals) | {"CONV", "DROP"}}
        p["CONV"] = _Q
        for _ in range(_K):
            nxt = dict(p)
            for s, total in totals.items():
                if s == removed:
                    nxt[s] = 0
                else:
                    nxt[s] = (
                        sum(n * p[t] for t, n in c[s].items()) // total
                    )
            nxt["CONV"] = _Q
            nxt["DROP"] = 0
            if removed is not None:
                nxt[removed] = 0
            p = nxt
        # an empty corpus has no START state at all — 0-probability,
        # matching the oracle's empty frame
        return p.get("START", 0)

    p_all = run(None)
    out_rows = []
    for ch in channels:
        pw = run(ch)
        # p_all == 0 (a purchase-free corpus): the oracle's x // 0 is
        # NULL in DuckDB — mirror it rather than raising
        effect = (p_all - pw) * 1000 // p_all if p_all else None
        out_rows.append((ch, p_all, pw, effect))

    if not out_rows:
        # a channel-free corpus (empty events, or every event is the
        # conversion type): `VALUES` with zero tuples is a parse
        # error, so emit the typed empty relation the oracle's empty
        # frame produces
        return spark.createDataFrame(
            [],
            "channel string, p_all_q bigint, p_without_q bigint, "
            "removal_effect_permille bigint",
        )

    def lit(v: int | None) -> str:
        return "CAST(NULL AS BIGINT)" if v is None else f"CAST({v} AS BIGINT)"

    def slit(s: str) -> str:
        # channel names come from data: escape backslashes FIRST
        # (Spark's default string-literal parser interprets \-escapes,
        # unlike DuckDB's), then double embedded quotes
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    values = ",".join(
        f"({slit(ch)}, {lit(pa)}, {lit(pw)}, {lit(re)})"
        for ch, pa, pw, re in out_rows
    )
    return spark.sql(
        "SELECT channel, p_all_q, p_without_q, removal_effect_permille "
        f"FROM (VALUES {values}) AS "
        "t(channel, p_all_q, p_without_q, removal_effect_permille)"
    )
