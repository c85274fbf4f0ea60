"""Invariant tests for the r11 training-data additions: token-level
sequence packing (seqpack), leakage-safe splits (splitguard), and
token-budget water-filling (tokbudget). The registered queries carry
the cross-engine value pins; these tests assert the SEMANTIC
invariants the oracles can't state directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from jobminer_spark.operators.seqpack import (
    SEQ_LEN,
    packed_sequence_manifest,
    sequence_packing_stats,
)
from jobminer_spark.operators.splitguard import _grouped
from jobminer_spark.operators.tokbudget import token_budget_waterfill
from tests.conftest import SF_DIR


def test_packing_conserves_tokens_and_offsets(spark):
    man = packed_sequence_manifest(spark, SF_DIR).cache()
    rows = man.collect()
    assert rows
    for r in rows:
        assert 0 <= r["offset_in_seq"] < SEQ_LEN
        assert r["start_seq"] <= r["end_seq"]
        # boundary-crossing iff the doc doesn't fit its start sequence
        crosses = r["offset_in_seq"] + r["n_tokens"] > SEQ_LEN
        assert crosses == (r["end_seq"] > r["start_seq"])

    stats = {s["shard"]: s for s in sequence_packing_stats(spark, SF_DIR).collect()}
    per_shard = (
        man.groupBy("shard")
        .agg(
            F.sum("n_tokens").alias("tot"),
            F.max("end_seq").alias("last_seq"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()
    )
    for r in per_shard:
        s = stats[r["shard"]]
        assert s["total_tokens"] == r["tot"]
        assert s["n_docs"] == r["n_docs"]
        # the last doc's last sequence is the shard's sequence count
        assert s["n_sequences"] == r["last_seq"] + 1
        assert 0 <= s["tail_padding"] < SEQ_LEN
        assert s["n_sequences"] * SEQ_LEN == s["total_tokens"] + s["tail_padding"]
    man.unpersist()


def test_packing_is_dense_within_shard(spark):
    """Concat-and-chunk leaves no gaps: consecutive docs (by doc_id
    within a shard) abut exactly — next.start offset continues where
    the previous doc ended."""
    man = packed_sequence_manifest(spark, SF_DIR)
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy("doc_id")
    gaps = (
        man.select(
            "shard",
            "doc_id",
            (
                F.col("start_seq") * SEQ_LEN + F.col("offset_in_seq")
            ).alias("abs_start"),
            F.lag(
                F.col("start_seq") * SEQ_LEN
                + F.col("offset_in_seq")
                + F.col("n_tokens")
            )
            .over(w)
            .alias("prev_end"),
        )
        .filter(
            F.col("prev_end").isNotNull()
            & (F.col("abs_start") != F.col("prev_end"))
        )
        .count()
    )
    assert gaps == 0


def test_split_assignment_is_group_atomic_and_total(spark):
    g = _grouped(spark, SF_DIR).cache()
    n_docs = g.count()
    assert n_docs > 0
    # every doc gets exactly one split; splits cover the corpus
    assert g.filter(F.col("split").isNull()).count() == 0
    per_group = g.groupBy("grp").agg(
        F.countDistinct("split").alias("ns"),
        F.count(F.lit(1)).alias("c"),
    )
    assert per_group.filter(F.col("ns") > 1).count() == 0
    # the fixture HAS multi-doc near-dup groups (non-vacuity)
    assert per_group.filter(F.col("c") > 1).count() > 0
    g.unpersist()


def test_split_is_stable_under_corpus_subset(spark):
    """Content-keyed assignment: a doc's split never depends on which
    OTHER docs are present, as long as its near-dup group is intact —
    recompute on the full corpus twice (plan-order independence) and
    compare assignments."""
    from jobminer_spark.operators.common import forget_scenarios

    forget_scenarios("grouped")
    a = {r["doc_id"]: r["split"] for r in _grouped(spark, SF_DIR).collect()}
    forget_scenarios("grouped")  # force a genuine recompute, not a memo hit
    b = {r["doc_id"]: r["split"] for r in _grouped(spark, SF_DIR).collect()}
    assert a == b


def test_waterfill_meets_budget_exactly_up_to_floor_slack(spark):
    rows = token_budget_waterfill(spark, SF_DIR).collect()
    assert rows
    total = sum(r["total_tokens"] for r in rows)
    budget = total // 2
    allocated = sum(r["allocated_tokens"] for r in rows)
    n_capped = sum(1 for r in rows if not r["exhausted"])
    assert allocated <= budget
    # flooring loses < 1 token per capped source
    assert budget - allocated < max(n_capped, 1)
    caps = {r["allocated_tokens"] for r in rows if not r["exhausted"]}
    assert len(caps) <= 1  # every capped source shares THE cap
    for r in rows:
        if r["exhausted"]:
            assert r["allocated_tokens"] == r["total_tokens"]
        elif caps:
            assert r["total_tokens"] > r["allocated_tokens"]
