"""Integer-exact PageRank over the near-duplicate candidate graph
(Page/Brin/Motwani/Winograd, "The PageRank Citation Ranking", 1999 —
public paper): a second iterative-graph primitive beside connected
components, and a principled survivor picker —
inside a duplicate cluster the most CENTRAL document (the one most
other variants point at) is often the better canonical than min-id or
longest-text.

Iterative float PageRank can never hash-pin across engines (summation
order changes the low bits), so the scores here are integers end to
end: ranks live at PR_SCALE fixed point, each edge message is
``(85 · r) div (100 · deg)`` (d = 0.85 as the exact rational 85/100),
and the teleport term is ``(PR_SCALE · 15) div (100 · n)`` — every op
is integer multiply/divide/sum, so two power-iteration rounds produce
bit-identical scores in Spark and the SQL oracle. The floor per
message leaks ≤ 1 ulp of mass per edge per round (bounded and
deterministic); ordering is what PageRank is used for and floors
preserve it up to quantization.

Scale shape: the graph lives as (src, dst, deg) rows; each round is
ONE join of the O(V)-row rank table onto edges plus one (dst) partial
aggregation — the standard distributed PageRank round, O(E) rows
shuffled, no adjacency collected anywhere. localCheckpoint between
rounds cuts lineage exactly like the CC/Lloyd loops. Rounds are fixed
(2) to stay oracle-expressible; production would loop to an L1
convergence check with the same body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobminer_spark.operators.dedupe import _CC_EDGES_CTE, _neardup_edges
from jobminer_spark.registry import query
from jobminer_spark.sources import load_table

PR_SCALE = 10**12
PR_ROUNDS = 2
_PR_D_NUM, _PR_D_DEN = 85, 100  # damping 0.85 as an exact rational


def pagerank_integer(edges: DataFrame, rounds: int = PR_ROUNDS) -> DataFrame:
    """(doc_id, pr_q): fixed-point PageRank scores after ``rounds``
    power iterations over the undirected (doc_a, doc_b) edge set.
    Every node of the graph has degree >= 1 by construction, so the
    dangling-mass term does not arise."""
    bidir = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # O(E) static frame each round's rank join lands on
    adj = bidir.join(deg, "src").localCheckpoint(eager=False)
    n = deg.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "doc_id long, pr_q long")
    r0 = PR_SCALE // n
    tele = (PR_SCALE * (_PR_D_DEN - _PR_D_NUM)) // (_PR_D_DEN * n)
    ranks = deg.select(
        F.col("src").alias("doc_id"), F.lit(r0).cast("long").alias("r")
    )
    for _ in range(rounds):
        msgs = adj.join(ranks, adj.src == ranks.doc_id).select(
            "dst",
            F.expr(f"({_PR_D_NUM} * r) div ({_PR_D_DEN} * deg)").alias("msg"),
        )
        ranks = (
            msgs.groupBy(F.col("dst").alias("doc_id"))
            .agg((F.lit(tele) + F.sum("msg")).cast("long").alias("r"))
            .localCheckpoint(eager=False)
        )
    return ranks.select("doc_id", F.col("r").alias("pr_q"))


def _pr_round_sql(prev: str, tele_sql: str) -> str:
    """One power-iteration round: join ranks onto edges, floor-divide
    the damped message, sum per destination, add teleport."""
    return f"""
      SELECT b.dst AS doc_id,
             {tele_sql} + SUM(({_PR_D_NUM} * r.r) // ({_PR_D_DEN} * d.deg)) AS r
      FROM bidir b
      JOIN {prev} r ON r.doc_id = b.src
      JOIN deg d ON d.src = b.src
      GROUP BY b.dst
    """


@query(
    "pagerank_neardup_graph",
    oracle=f"""
    WITH {_CC_EDGES_CTE},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (
      SELECT d.src AS doc_id, ({PR_SCALE} // nn.n) AS r FROM deg d CROSS JOIN nn
    ),
    r1 AS ({_pr_round_sql("r0", f"(SELECT ({PR_SCALE} * {_PR_D_DEN - _PR_D_NUM}) // ({_PR_D_DEN} * n) FROM nn)")}),
    r2 AS ({_pr_round_sql("r1", f"(SELECT ({PR_SCALE} * {_PR_D_DEN - _PR_D_NUM}) // ({_PR_D_DEN} * n) FROM nn)")})
    SELECT doc_id, CAST(r AS BIGINT) AS pr_q FROM r2
    """,
)
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two integer-exact PageRank rounds over the trigram-Jaccard
    >= 0.8 candidate graph (the same edge set the connected-components
    queries cluster) — the oracle replays both rounds with identical
    fixed-point arithmetic, so a drift in the edge set, degrees,
    damping rational, or message flooring turns this driver row red."""
    docs = load_table(spark, sf_dir, "documents")
    return pagerank_integer(_neardup_edges(docs))
