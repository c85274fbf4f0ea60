"""Plan-shape assertions: pushdown, pruning, broadcast, partial agg.

These encode the 100 TB design review (task brief: "after each
operator works, explain the plan and iterate until it's the plan you'd
want"): a filter that doesn't reach the scan, a dimension join that
shuffles instead of broadcasting, or an aggregate without map-side
combine would silently survive correctness tests — they fail here.
"""

from __future__ import annotations

from jobminer_spark import QUERIES, load_all_operators
from jobminer_spark.plans import physical_plan
from tests.conftest import SF_DIR

load_all_operators()


def _plan(spark, name):
    return physical_plan(QUERIES[name](spark, SF_DIR))


def test_q1_filter_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]
    # two HashAggregate phases = map-side partial + final
    assert plan.count("HashAggregate") >= 2


def test_q6_scan_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_extendedprice" in read_schema
    # untouched fact columns must NOT be read
    assert "l_partkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_q3_broadcasts_customer(spark):
    plan = _plan(spark, "q3_top_revenue_orders")
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dimension_chain(spark):
    plan = _plan(spark, "q5_region_nation_revenue")
    assert "BroadcastHashJoin" in plan


def test_skill_classification_broadcasts_dictionary(spark):
    plan = _plan(spark, "skill_token_classification")
    assert "BroadcastHashJoin" in plan
    # the corpus side must never be broadcast-collected; the dict is tiny
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_shapes(spark):
    semi = _plan(spark, "semi_join_customers_with_open_orders")
    anti = _plan(spark, "anti_join_customers_without_orders")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_exact_dedup_partial_aggregates(spark):
    plan = _plan(spark, "dedup_exact_text")
    assert plan.count("HashAggregate") >= 2  # map-side combine on the hash key


def test_q7_dimension_broadcasts(spark):
    plan = _plan(spark, "q7_nation_volume_shipping")
    assert "BroadcastHashJoin" in plan


def test_q9_part_filter_prunes_dimension_before_fact_join(spark):
    plan = _plan(spark, "q9_product_profit_by_nation_year")
    assert "BroadcastHashJoin" in plan
    # the LIKE predicate must sit on the part dimension scan side,
    # not be evaluated post-join on the fact stream
    assert "widget" in plan


def test_q11_threshold_is_broadcast_side(spark):
    plan = _plan(spark, "q11_important_part_values")
    # the 1-row global threshold must be the broadcast (build) side of
    # the cross join; the per-part aggregate streams (AQE additionally
    # reuses the shared aggregate exchange at runtime)
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark):
    plan = _plan(spark, "asof_join_last_click_before_purchase")
    # union + window = exactly one hashpartitioning exchange (user_id);
    # a range-join formulation would add a second, data-squared one
    assert plan.count("hashpartitioning(") == 1
    assert "user_id" in plan.split("hashpartitioning(", 1)[1][:40]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_band_join_broadcasts_band_dim(spark):
    plan = _plan(spark, "range_band_join_event_values")
    # non-equi join against the VALUES dim must broadcast the dim,
    # never shuffle or collect the event stream
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key join with
    ZERO exchanges — the write-once-shuffle-never pattern for repeated
    fact-fact joins at scale."""
    from jobminer_spark.sinks import write_bucketed_table
    from jobminer_spark.sources import load_table

    o = load_table(spark, SF_DIR, "orders")
    l = load_table(spark, SF_DIR, "lineitem")
    write_bucketed_table(o, "bt_orders", ["o_orderkey"], n_buckets=8,
                         sort_cols=["o_orderkey"])
    write_bucketed_table(l, "bt_lineitem", ["l_orderkey"], n_buckets=8,
                         sort_cols=["l_orderkey"])
    try:
        bo = spark.table("bt_orders")
        bl = spark.table("bt_lineitem")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "o_orderkey", "l_quantity", "o_totalprice"
        )
        plan = physical_plan(joined)
        assert "hashpartitioning(" not in plan
        assert joined.count() == l.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


def test_salted_join_takes_shuffle_not_broadcast(spark):
    """The salted join demo must actually exercise the shuffle join it
    exists to fix (the merge hint defeats auto-broadcast of the tiny
    dim) and spread rows by the salted key."""
    plan = _plan(spark, "salted_join_equivalence")
    assert "SortMergeJoin" in plan
    assert "_salt" in plan


def test_ann_ivf_kmeans_broadcasts_small_sides(spark):
    """Centroid table (K rows) and probe table (n_queries*nprobe rows)
    must broadcast; the corpus must never cartesian-join."""
    plan = _plan(spark, "ann_ivf_kmeans_topk")
    assert "BroadcastHashJoin" in plan     # probes join on cell
    assert "CartesianProduct" not in plan


def test_prefix_filter_edges_no_cartesian(spark):
    """Prefix-filtered similarity join: candidates come from the
    prefix index, never a cross join of the corpus."""
    plan = _plan(spark, "neardup_edges_prefix_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repeated_chunk_dedup_partial_aggregates(spark):
    plan = _plan(spark, "repeated_chunk_dedup")
    assert plan.count("HashAggregate") >= 2  # map-side combine on chunk hash


def test_ann_ivf_trained_broadcasts_small_sides(spark):
    """The trained-centroid IVF must keep the same physical shape as
    the seed-centroid variant: centroids/probes broadcast, corpus
    never cartesian-joined — training the quantizer must not change
    the search plan."""
    plan = _plan(spark, "ann_ivf_trained_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hyperplane_lsh_signature_in_row(spark):
    """The LSH signature is literal-plane in-row arithmetic: no join
    of any plane table, no cartesian — the only joins are the band
    self-join and the re-rank rejoins (all hash joins)."""
    plan = _plan(spark, "embedding_hyperplane_lsh_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_doc_repetition_stats_no_shuffle_before_partial_agg(spark):
    """The repetition profile is per-document work, and since r20 the
    WHOLE profile (per-(doc, gram) counts + per-doc rollup) is one
    fused in-row Arrow kernel: the plan must contain the MapInArrow
    node, no keyed repartition, and no aggregation exchange at all —
    the only Exchange allowed is the conditional round-robin
    spread_scan BELOW the kernel (explicit-count, degenerate-input
    only)."""
    plan = _plan(spark, "doc_repetition_stats")
    assert "REPARTITION_BY_COL" not in plan
    assert "MapInArrow" in plan
    tree = plan.split("== Physical Plan ==", 1)[1].split("\n\n", 1)[0]
    bottom_up = list(reversed(tree.splitlines()))
    exchanges = [i for i, l in enumerate(bottom_up) if "Exchange" in l]
    kernel = next(i for i, l in enumerate(bottom_up) if "MapInArrow" in l)
    assert len(exchanges) <= 1  # only the spread, never an agg shuffle
    assert all(i < kernel for i in exchanges)  # ...and it sits below
    assert "HashAggregate" not in tree and "SortAggregate" not in tree


def test_word_rarity_no_explicit_repartition(spark):
    plan = _plan(spark, "word_rarity_score")
    assert "REPARTITION_BY_COL" not in plan


def test_incremental_probe_scans_index_not_corpus(spark, tmp_path):
    """The per-batch admission probe must reach the corpus ONLY
    through the persisted index scans (vocab/postings/doc_sizes) —
    re-shingling corpus text per ingest would make every batch cost a
    full-corpus dedup, the exact shape the index exists to remove."""
    from jobminer_spark.operators.increment import (
        admit_incoming_incremental,
        build_corpus_shingle_index,
    )

    corpus = spark.createDataFrame(
        [(100 + i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(5)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_corpus_shingle_index(corpus, idx)
    batch = spark.createDataFrame(
        [(1, "p q r s t"), (2, "p q r s u")], "doc_id long, text string"
    )
    plan = physical_plan(admit_incoming_incremental(spark, batch, idx))
    for part in ("vocab", "postings", "doc_sizes"):
        assert part in plan  # the index parquet is what gets scanned
    # and no parquet scan carries a text column (batch is in-memory)
    import re as _re

    for m in _re.finditer(r"ReadSchema: (\S+)", plan):
        assert "text" not in m.group(1)


def test_semantic_dedup_broadcasts_centroids_no_cartesian(spark):
    """Assignment must broadcast the K centroids (corpus side never
    shuffles for distances) and the pair join must be a hash join on
    the cluster key — never a corpus cartesian."""
    plan = _plan(spark, "semantic_dedup_survivors")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" in plan or "BroadcastHashJoin" in plan


def test_pq_adc_broadcasts_tables_no_corpus_cartesian(spark):
    """The codeword frame and ADC tables must broadcast; the corpus's
    only wide operations are the code aggregation and the bounded
    query-partitioned selections — never a corpus×corpus cartesian."""
    plan = _plan(spark, "ann_pq_adc_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_broadcasts_bit_set(spark):
    """The bit set (<= m rows by construction) must broadcast; probe
    keys never shuffle against the full existing key set in the bloom
    stage."""
    plan = _plan(spark, "bloom_prefilter_counts")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_winnow_selection_single_doc_window(spark):
    """Fingerprint selection = one (doc_id) window pass; the pair
    stage adds the inverted-index shuffle — no cartesian anywhere."""
    plan = _plan(spark, "winnowing_candidate_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_datasheet_single_expand_aggregation(spark):
    """Grouping sets = ONE Expand + one partial/final aggregation pair
    over one scan — not three unioned scans."""
    plan = _plan(spark, "corpus_datasheet")
    tree = plan.split("== Physical Plan ==", 1)[1].split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1
    assert "Expand" in tree
    assert tree.count("HashAggregate") >= 2


def test_norm_outliers_broadcasts_moments(spark):
    """The 1-row moment aggregate must broadcast back over the corpus
    (BroadcastNestedLoopJoin on a single-row build side), never a
    corpus-sized shuffle join."""
    plan = _plan(spark, "embedding_norm_outliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bm25_all_joins_broadcast_vocab_filter_first(spark):
    """BM25's corpus side must only ever join BROADCAST relations
    (query vocabulary, df, corpus stats) — document length is carried
    through the tf aggregation, so no corpus-x-corpus join exists."""
    for name in ("bm25_topk_per_query", "rrf_fusion_topk_per_query"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


def test_cms_grid_is_bounded_and_broadcast_probed(spark):
    """The count-min grid aggregates map-side (partial + final
    HashAggregate) and the probe side joins it broadcast — the grid
    is <= d x w rows by construction, never corpus-sized."""
    from jobminer_spark.operators.sketches import CMS_D, CMS_W, cms_grid
    from jobminer_spark.sources import load_table
    from pyspark.sql import functions as F

    plan = _plan(spark, "cms_frequency_audit")
    assert "BroadcastHashJoin" in plan
    tokens = load_table(spark, SF_DIR, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    assert cms_grid(tokens).count() <= CMS_D * CMS_W


def test_scd2_single_exchange_for_both_windows(spark):
    """Change-detection (lag) and interval-close (lead) share one
    (user_id) partitioning and order — exactly one exchange in the
    whole plan (formatted mode: exchanges are numbered nodes, and
    each hash exchange carries one hashpartitioning argument)."""
    import re

    plan = _plan(spark, "scd2_user_attribute_history")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("hashpartitioning(") == 1


def test_session_paths_two_exchanges(spark):
    """The (user, session) path aggregation reuses the sessionization
    window's user_id partitioning (subset-key satisfaction), so the
    whole query is two hash exchanges: the user window and the final
    per-path count."""
    plan = _plan(spark, "session_path_topk")
    assert plan.count("hashpartitioning(") == 2


def test_er_blocking_no_cartesian_and_broadcast_kept_grams(spark):
    """The ER candidate join must come from the gram inverted index
    (hash join on gram), never an all-pairs product, and the df-capped
    kept-gram set must broadcast (the word_shingles argument).
    Asserted on the checkpoint-free build: the registered query
    localCheckpoints the funnel (er_funnel_audit aggregates it five
    times), which truncates the joins out of its printed plan."""
    from jobminer_spark.operators.entityres import _resolution
    from jobminer_spark.plans import physical_plan as _pp

    _, _, _, resolved = _resolution(spark, SF_DIR, checkpoint=False)
    plan = _pp(resolved.filter("rk = 1"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_cooccur_pairs_in_row_no_self_join(spark):
    """Pair expansion is in-row from the per-doc set: the plan has no
    sort-merge self-join of the hits relation; the dictionary and the
    marginals broadcast."""
    plan = _plan(spark, "token_cooccurrence_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # map-side combine on the pair aggregation
    assert plan.count("HashAggregate") >= 2


def test_triangle_join_on_endpoints_not_cartesian(spark):
    """Both triangle joins must be key-equi joins on edge endpoints
    (hash or sort-merge); the only nested-loop joins allowed are the
    1-row scalar-assembly crossJoins of the audit row."""
    plan = _plan(spark, "triangle_count_neardup")
    assert "CartesianProduct" not in plan
    n_equi = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_equi >= 2


def test_regress_partial_agg_and_broadcast_dim(spark):
    """The fact shuffle must partial-aggregate (cents sums combine
    map-side) and the customer dimension must broadcast."""
    plan = _plan(spark, "revenue_trend_slope_per_segment")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_partitioned_read_prunes_partitions(spark, tmp_path):
    """The partition-key filter must become PartitionFilters on the
    scan (directory-level pruning), not a post-scan Filter over all
    partitions — the coarse skip layer maintenance.py audits by file
    count."""
    from jobminer_spark.operators.maintenance import _events_slim

    d = str(tmp_path / "part_events")
    _events_slim(spark, SF_DIR).repartition(1).write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(d)
    pruned = spark.read.parquet(d).filter("event_type = 'purchase'")
    plan = physical_plan(pruned)
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "event_type" in seg[1][:200]


def test_anomaly_single_keyed_exchange(spark):
    """The trailing z-window must share ONE (event_type) exchange —
    count/sum/sum-of-squares all ride the same sort."""
    plan = _plan(spark, "trailing_zscore_outliers")
    assert plan.count("hashpartitioning(") == 1
    assert "event_type" in plan.split("hashpartitioning(", 1)[1][:60]


def test_surprisal_no_cartesian_partial_agg(spark):
    plan = _plan(spark, "doc_surprisal_bits")
    assert "CartesianProduct" not in plan
    # df agg and per-doc agg both partial-aggregate
    assert plan.count("HashAggregate") >= 4


def test_pca_gram_partial_agg_no_cartesian(spark):
    """The Gram aggregation must combine map-side onto the dims^2
    key space; iteration joins are broadcast (dimension-sized) — the
    corpus is never cartesian- or nested-loop-joined against itself."""
    plan = _plan(spark, "pca_power_iteration_audit")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan


def test_dq_fk_check_broadcasts_dimension(spark):
    """The referential-integrity anti-join must broadcast the
    dimension key set, never shuffle the fact table for it."""
    plan = _plan(spark, "dq_constraint_audit")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Global-window audit (VERDICT r9 item 6): a Window with no partition
# spec moves ALL its input to one partition — a scale-killer unless the
# input relation's cardinality is bounded by design. This test walks
# the optimized logical plan of EVERY registered query and asserts the
# set of unpartitioned Window sites matches the whitelist below, each
# entry carrying its cardinality bound. A new global window anywhere
# in the registry fails here until it is either partitioned or
# justified with a bound.
# ---------------------------------------------------------------------------

# query -> (n_global_windows, documented input-cardinality bound)
_GLOBAL_WINDOW_WHITELIST = {
    # rank over the qualifying basket-pair relation: vocabulary-
    # bounded (df-capped pair space), dimension-sized at any corpus SF
    "cooccurrence_lift_topk": 1,
    # the DELIBERATE dimension-sized demo of global row_number keying;
    # keygen.zip_with_index_keys is the documented shuffle-free scale
    # path for fact-sized inputs (keygen.py:1-27)
    "surrogate_key_assignment": 1,
    # share-of-total over one row per skill category (dictionary-
    # bounded: |categories| ~ 10)
    "skill_category_share": 1,
    # water-filling over the SOURCE dimension: the corpus is reduced
    # to one row per source by the preceding groupBy, so all four
    # windows (row_number + running prefix in `ranked`, then the three
    # chained whole-frame scalar windows of the r12 single-pass
    # rewrite) order |sources| rows (20 in the fixture; thousands at
    # worst in production — see tokbudget.py docstring). Each window
    # now executes exactly once per run (the pre-r12 crossJoin chain
    # re-evaluated the frame ~18×).
    "token_budget_waterfill": 4,
    # corpus-wide quintiles over the USER dimension (the small output
    # of the per-user aggregation, not the event fact table); the
    # distributed-rank rewrite for fact-sized user tables is the
    # registered twin below
    "rfm_segment_census": 3,
    # (the scale-path twin rfm_segment_census_scaled has ZERO global
    # windows: partition-local ranking + triangular-join offsets)
}

# modules whose query builders EXECUTE jobs at build time (stream
# drains, sink writes, temp-dir rewrites, iterative training): their
# final plans are windows-over-drained-memory-tables or audit scalars,
# already covered by their own plan/runtime tests — excluded here to
# keep this sweep build-only and fast. Every excluded query's final
# plan was enumerated once offline (r10): zero unpartitioned windows.
_EXEC_AT_BUILD_PREFIXES = (
    "stream_",
    "small_files_",
    "partitioned_write_",
    "schema_merge_",
    "http_fetch_",
    "python_datasource_",
    "python_stream_",
    "incremental_index_update_audit",
    "xml_feed_parse_audit",
    "zorder_pruning_stats",
    "bpe_",
    "pca_power_iteration_audit",
    "kmeans_",
    "ann_ivf_trained",
    "ann_pq_",
    "incremental_",
    "scd2_incremental_update_audit",
    "er_funnel_audit",
    "dq_violation_injection_audit",
    "lakehouse_",
    "stream_cdc_",
)


def _walk_logical(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_logical(ch.apply(i))


def test_no_unwhitelisted_global_windows(spark):
    found: dict[str, int] = {}
    for name, fn in QUERIES.items():
        if any(name.startswith(p) for p in _EXEC_AT_BUILD_PREFIXES):
            continue
        plan = fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
        n = sum(
            1
            for node in _walk_logical(plan)
            if node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        )
        if n:
            found[name] = n
    assert found == _GLOBAL_WINDOW_WHITELIST, (
        f"unpartitioned Window set changed: {found} — every new global "
        "window needs a cardinality-bound justification in the "
        "whitelist (or a partition spec)"
    )


def test_global_window_inputs_are_dimension_sized(spark):
    """Runtime check of the whitelist's bound claims at fixture scale:
    each whitelisted global window's input relation is dimension-sized
    (bounded by vocabulary/dictionary/dimension cardinality, NOT by
    the corpus row count)."""
    import pyspark.sql.functions as F

    from jobminer_spark.sources import load_table

    # skill_category_share: one row per dictionary category
    shares = QUERIES["skill_category_share"](spark, SF_DIR)
    assert shares.count() <= 32
    # cooccurrence_lift_topk rank input: the qualifying pair relation
    pairs = QUERIES["token_cooccurrence_pairs"](spark, SF_DIR)
    assert pairs.count() <= 1000
    # surrogate_key_assignment input: the customer dimension
    n_cust = load_table(spark, SF_DIR, "customer").count()
    assert QUERIES["surrogate_key_assignment"](spark, SF_DIR).count() <= n_cust
    # token_budget_waterfill windows order the source dimension
    n_src = (
        load_table(spark, SF_DIR, "documents").select("source").distinct().count()
    )
    assert QUERIES["token_budget_waterfill"](spark, SF_DIR).count() == n_src
    assert n_src <= 32
    # rfm quintile windows order the user dimension (post-aggregation)
    n_users = (
        load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    n_events = load_table(spark, SF_DIR, "events").count()
    assert n_users < n_events  # the window input is the REDUCED frame
    assert QUERIES["rfm_segment_census"](spark, SF_DIR).count() <= 125
    # the scaled twin's offset join is over per-partition COUNTS:
    # bounded by the session shuffle-partition setting, not by users
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from jobminer_spark.operators.rfm import _distributed_ranks, _per_user_rfm

    offs_bound = (
        _distributed_ranks(
            _per_user_rfm(spark, SF_DIR), [F.col("user_id").asc()], "_rn"
        )
        .select("_rn")
        .count()
    )
    assert offs_bound == n_users  # ranks cover every user exactly once
    assert n_shuffle <= 256  # the offset-window input bound


def test_cdc_apply_no_cartesian_partial_agg(spark):
    """latest-per-key must partial-aggregate (struct MAX →
    ObjectHashAggregate, map-side + final); the apply join is keyed
    (full outer ⇒ sort-merge — Spark cannot broadcast full outer),
    never cartesian."""
    plan = _plan(spark, "cdc_apply_snapshot")
    assert "CartesianProduct" not in plan
    # struct MAX compiles to SortAggregate — still two phases
    # (map-side partial + final), just sort-based rather than hashed
    n_aggs = sum(plan.count(k) for k in
                 ("SortAggregate", "ObjectHashAggregate", "HashAggregate"))
    assert n_aggs >= 2
    assert "FullOuter" in plan


def test_hierarchy_rollup_broadcasts_edges(spark):
    """The closure loop's per-round join against the (dimension-sized,
    checkpointed) edge table must broadcast; the final rollup is a
    partial-aggregated groupBy on the ancestor key."""
    plan = _plan(spark, "hierarchy_subtree_rollup")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_mmr_stage1_is_take_ordered_not_window(spark):
    """The corpus-touching stage must compile to a distributed partial
    top-k (TakeOrderedAndProject), NOT a global-window rank — the
    shortlist cut is the only full-corpus pass MMR makes."""
    plan = _plan(spark, "mmr_diverse_topk")
    assert "CartesianProduct" not in plan
    # the final plan is the union of checkpointed 1-row picks; the
    # TakeOrdered shape is asserted on the stage-1 builder directly
    from jobminer_spark.operators.mmr import MMR_QUERY_VEC
    from jobminer_spark.operators.common import dot_col, norm_col
    from jobminer_spark.sources import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == MMR_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"),
        norm_col(F.col("embedding")).alias("q_nrm"),
    )
    stage1 = (
        emb.filter(F.col("vec_id") != MMR_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                dot_col(F.col("embedding"), F.col("q_emb"))
                / (F.col("q_nrm") * norm_col(F.col("embedding")))
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(24)
    )
    p1 = physical_plan(stage1)
    assert "TakeOrderedAndProject" in p1
    assert "Window" not in p1


def test_attribution_band_join_is_keyed_not_nested_loop(spark):
    """The 24h lookback join must hash/merge on the user key with the
    time band as a post-join predicate — never a nested-loop or
    cartesian over the event stream."""
    plan = _plan(spark, "purchase_touch_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_cusum_two_frames_share_one_keyed_sort(spark):
    """Both CUSUM window frames (running sum, running min) ride ONE
    (event_type) sort; the only other exchange is the per-type
    parameter aggregate."""
    plan = _plan(spark, "cusum_changepoint_alarms")
    assert plan.count(") Window") == 2
    assert plan.count("hashpartitioning(") <= 2
    assert "CartesianProduct" not in plan


def test_twap_single_user_exchange(spark):
    plan = _plan(spark, "time_weighted_avg_value")
    assert plan.count("hashpartitioning(") == 1
    assert "user_id" in plan.split("hashpartitioning(", 1)[1][:40]


def test_baseline_drift_comparison_reads_profile_not_corpus(spark):
    """ks_drift_vs_baseline's comparison must reach the baseline ONLY
    through the persisted profile parquet (grid + meta) — the raw
    events of the baseline period are never rescanned by the returned
    plan. The batch side is reduced to its value-space-bounded count
    grid inside the prefix-sum materialization, so the final plan
    scans NO raw table at all: only the profile and bounded state
    (the production O(batch + grid) shape, VERDICT r13 item 4)."""
    plan = _plan(spark, "ks_drift_vs_baseline")
    assert "events.parquet" not in plan  # baseline rows never rescanned
    assert "documents.parquet" not in plan
    assert "jm_driftbase_" in plan  # the profile parquet IS the scan
    # and the direct two-sample twin reaches the corpus through its
    # in-session bucket-count materialization (the r20 lazy
    # localCheckpoint shows as Scan ExistingRDD; the events scan sits
    # upstream of that cut), never through the persisted profile —
    # the contrast that makes the persisted-profile plan the point
    direct = _plan(spark, "ks_drift_event_values")
    assert "events.parquet" in direct or "Scan ExistingRDD" in direct
    assert "jm_driftbase_" not in direct


def test_baseline_tvd_comparison_reads_profile_not_corpus(spark):
    """The categorical twin's comparison plan likewise scans no raw
    table: the type grid parquet + the |types|-bounded materialized
    join are everything the collect touches."""
    plan = _plan(spark, "tvd_drift_vs_baseline")
    assert "events.parquet" not in plan
    assert "documents.parquet" not in plan
    assert "jm_driftbase_" in plan


def test_psi_comparison_reads_profile_not_corpus(spark):
    """psi_drift_vs_baseline's comparison plan, like its KS/TVD twins,
    reaches the baseline ONLY through the persisted profile parquet —
    the joined grid is materialized bounded state, so no raw table
    appears in the returned plan at all."""
    plan = _plan(spark, "psi_drift_vs_baseline")
    assert "events.parquet" not in plan
    assert "documents.parquet" not in plan
    assert "jm_driftbase_" in plan  # meta parquet rides the totals join


def test_history_retention_audit_reads_only_profiles(spark):
    """The retention audit's plan scans nothing but the day profiles'
    parquet — auditing the store must never need the raw corpus."""
    plan = _plan(spark, "profile_history_retention_audit")
    assert "events.parquet" not in plan
    assert "jm_drifthist_" in plan


def test_history_day_compare_scans_no_raw_table(spark):
    """Comparing today's batch against a kept day profile is the same
    O(batch + grid) shape as the single-profile monitor: the batch
    side is reduced to bounded state inside the prefix-sum
    materialization and the baseline is day 1's grid parquet."""
    plan = _plan(spark, "profile_history_day_compare")
    assert "events.parquet" not in plan
    assert "jm_drifthist_" in plan


def test_alert_panel_single_batch_scan(spark):
    """The panel runs three monitors against one profile but must scan
    the batch events exactly ONCE for the two value-grid monitors (the
    checkpointed shared counts) plus once for the type counts — never
    a third raw pass, and no baseline raw rows at all."""
    plan = _plan(spark, "drift_alert_panel")
    assert plan.count("events.parquet") <= 1  # the TVD type-count scan
    assert "jm_driftbase_" in plan


def test_orc_roundtrip_pruned_read_hits_partition_filter(spark):
    """The ORC audit's second read must prune at the PARTITION level —
    the filter belongs in PartitionFilters on the scan, not in a
    post-scan Filter over all partitions."""
    plan = _plan(spark, "orc_roundtrip_audit")
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "event_type" in seg


def test_csv_jsonl_reads_declare_schema_no_inference_scan(spark):
    """Schema'd reads: exactly one scan per file source in each audit
    (schema inference would add a second pass over the data)."""
    for name, fmt in (
        ("csv_roundtrip_audit", "csv"),
        ("jsonl_roundtrip_audit", "json"),
    ):
        plan = _plan(spark, name)
        # the formatted plan prints the tree, then per-node details —
        # count scans in the TREE block only
        tree = plan.split("\n\n", 1)[0]
        assert tree.count(f"Scan {fmt}") == 1, (name, tree)
        # single aggregation over that scan: map-side partial + final
        assert plan.count("HashAggregate") >= 2


def test_heavy_hitters_recount_gates_via_broadcast_semi_join(spark):
    """heavy_hitters_two_pass is ONE lazy plan: the recount must be
    gated by a BROADCAST LEFT-SEMI join on the <=K-row candidate
    frame (never a collected IN-list literal — the r17 INSET shape
    was driver-memory/plan-size bounded at 10^5+ splits), the
    Misra-Gries sketch fold (mapInPandas) is part of the plan, its
    merge is a bounded groupBy (map-side partial + final), and no
    INSET of candidate names appears anywhere."""
    plan = _plan(spark, "heavy_hitters_two_pass")
    assert "INSET" not in plan  # no driver-materialized candidates
    low = plan.lower()
    assert "leftsemi" in low.replace(" ", "").replace("_", "")
    assert "broadcast" in low  # candidate gate + 1-row total
    assert plan.count("HashAggregate") >= 2
    assert "mapinpandas" in low  # sketch fold is IN the lazy plan


def test_heavy_hitters_sketch_exchange_reused_at_runtime(spark):
    """The candidate and total branches both read the merged-sketch
    aggregate; because they split on the aggregated sum's SIGN (not
    on the grouping key, which Catalyst would push below the
    aggregate), AQE must reuse the sketch exchange — the corpus is
    scanned exactly TWICE (sketch + recount), never three times."""
    df = QUERIES["heavy_hitters_two_pass"](spark, SF_DIR)
    df.collect()  # reuse is an adaptive-runtime decision
    plan = physical_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "ReusedExchange" in final
    # exactly two corpus scans in the executed tree
    assert final.count("Scan parquet") == 2


def test_iceberg_sorted_write_plans_local_sort_no_range_exchange(spark):
    """The sorted-write staging shape (r18 sort orders): helper-led
    sortWithinPartitions plans a NON-GLOBAL Sort (global=false) with
    no rangepartitioning exchange — a global orderBy would serialize
    the whole write through one range shuffle at 100 TB."""
    from pyspark.sql import functions as F

    from jobminer_spark.sources.iceberg import _sort_exprs

    df = (
        spark.range(0, 100)
        .select((F.col("id") % 4).alias("p"), F.col("id").alias("k"))
        .repartition(F.col("p"))
        .sortWithinPartitions(F.col("p"), *_sort_exprs([("k", "asc")]))
    )
    plan = physical_plan(df)
    # Sort node args end "..., false, 0" = global=false (local sort)
    assert "ASC NULLS FIRST], false, 0" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(p" in plan  # the layout repartition


_PYTHON_OR_LAMBDA = (
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "lambdafunction",
)


def test_shingle_helpers_run_no_python_and_no_lambda(spark):
    """The shingle kernels are built-in expressions end to end: no
    Python-worker node (a forked-worker round trip per batch) and no
    lambda (higher-order functions run interpreted, outside
    whole-stage codegen). The registered queries' plans stop at the
    lazy localCheckpoint's ``Scan ExistingRDD``, so the helpers —
    including the frame _jaccard_pair_counts checkpoints — are
    checked directly."""
    from jobminer_spark.operators.dedupe import (
        SHINGLE_MAX_DF,
        _pair_size_counts,
        pair_counts_from_doclists,
        shingle_doc_lists,
        word_shingles,
    )
    from jobminer_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frames = {
        "word_shingles": word_shingles(docs, 3),
        "shingle_doc_lists": shingle_doc_lists(docs, 3, SHINGLE_MAX_DF),
        "pair_counts_from_doclists": pair_counts_from_doclists(
            shingle_doc_lists(docs, 3, SHINGLE_MAX_DF)
        ),
        "_pair_size_counts": _pair_size_counts(docs, 3, SHINGLE_MAX_DF),
    }
    for name, df in frames.items():
        plan = physical_plan(df)
        assert "Generate" in plan, name  # the n-gram / pair explodes
        for node in _PYTHON_OR_LAMBDA:
            assert node not in plan, (name, node)
    top = _plan(spark, "ngram_jaccard_top_pairs")
    assert "Scan ExistingRDD" in top
    for node in _PYTHON_OR_LAMBDA:
        assert node not in top, node
