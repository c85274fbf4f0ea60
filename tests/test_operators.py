"""Property/behavior tests: idempotent upsert, dedup round-trips,
deterministic fingerprints, pipeline smoke, rows-only queries."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from jobminer_spark import ORACLES, QUERIES, load_all_operators
from jobminer_spark.operators.dedupe import upsert_new_keys
from jobminer_spark.sources import load_table
from tests.conftest import SF_DIR

load_all_operators()


def test_upsert_idempotent(spark):
    """f(f(x)) == f(x): re-running the upsert inserts nothing (the
    reference's 'checkpoint system' semantics, README.md:12)."""
    o = load_table(spark, SF_DIR, "orders")
    existing = o.filter(F.col("o_orderkey") % 3 == 0)
    incoming = o.filter(F.col("o_orderkey") % 2 == 0)
    first = upsert_new_keys(incoming, existing, ["o_orderkey"])
    after = existing.select(*incoming.columns).unionByName(first)
    second = upsert_new_keys(incoming, after, ["o_orderkey"])
    assert second.count() == 0


def test_upsert_in_batch_duplicates(spark):
    """Duplicate keys inside one batch collapse BEFORE the anti-join —
    unique-constraint semantics (database.py:192-201)."""
    o = load_table(spark, SF_DIR, "orders").limit(10)
    doubled = o.unionByName(o)
    out = upsert_new_keys(doubled, o.limit(0), ["o_orderkey"])
    assert out.count() == 10


def test_upsert_order_by_picks_first_write(spark):
    """With order_by, the in-batch survivor is deterministic: the
    earliest row per key in that ordering wins."""
    batch = spark.createDataFrame(
        [(1, "2024-01-02", "late"), (1, "2024-01-01", "early"), (2, "2024-01-05", "only")],
        "k long, ts string, v string",
    )
    out = upsert_new_keys(batch, batch.limit(0), ["k"], order_by=["ts"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "early", 2: "only"}


def test_explode_groupby_roundtrip(spark):
    """collect_set ∘ explode == array_distinct (SURVEY.md §5 property)."""
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    base = docs.select(
        "doc_id", F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks")
    )
    roundtrip = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("t")).alias("toks"))
    )
    assert base.join(roundtrip, "doc_id").filter(
        base.toks != roundtrip.toks
    ).count() == 0


def _cc_shapes():
    """Edge lists that stress a connected-components routine: long
    chains in every id order, a deep tree, long paths meeting at one
    hub, a random sparse graph and many disjoint cliques."""
    n = 256
    perm = list(range(n))
    random.Random(7).shuffle(perm)
    rnd = random.Random(3)
    paths = []
    for k in range(8):  # eight 60-node paths hanging off node 0
        prev = 0
        for j in range(60):
            paths.append((prev, 1 + k * 60 + j))
            prev = 1 + k * 60 + j
    cliques = [
        (c * 10 + i, c * 10 + j) for c in range(50) for i in range(6) for j in range(i)
    ]
    return {
        "chain_ascending": [(i, i + 1) for i in range(n - 1)],
        "chain_descending": [(n - i, n - i - 1) for i in range(n - 1)],
        "chain_permuted": [(perm[i], perm[i + 1]) for i in range(n - 1)],
        "binary_tree": [(i, (i - 1) // 2) for i in range(1, 511)],
        "star_of_paths": paths,
        "random_sparse": [(rnd.randrange(300), rnd.randrange(300)) for _ in range(280)],
        "disjoint_cliques": cliques,
    }


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _edge_frame(spark, edges):
    from jobminer_spark.data.skill_dictionary import values_df

    return values_df(spark, edges, ["doc_a", "doc_b"]).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
    )


@pytest.mark.parametrize("shape", sorted(_cc_shapes()))
def test_connected_components_matches_union_find(spark, shape):
    """Every node lands in its component's minimum id, as a union-find
    says, within the ⌈log₂n⌉² round bound — on the shapes that make
    plain min-label propagation take O(diameter) rounds (a 256-node
    chain has diameter 255) as well as on the clique-shaped graphs
    that settle in the first round."""
    from jobminer_spark.operators.dedupe import connected_components

    edges = _cc_shapes()[shape]
    want = _union_find_components(edges)
    rounds: list[int] = []
    got = connected_components(_edge_frame(spark, edges), rounds_out=rounds)
    assert {r.doc_id: r.component for r in got.collect()} == want
    assert rounds[0] <= math.ceil(math.log2(len(want))) ** 2
    if shape == "disjoint_cliques":
        assert rounds[0] == 1


def test_cc_star_handles_long_path_graph(spark):
    """A 64-node path built with spark.range is the adversarial case
    for label propagation (round count = diameter); the routine must
    still collapse it to one component rooted at node 0 within the
    logarithmic round budget."""
    from jobminer_spark.operators.dedupe import connected_components

    n = 64
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    rounds: list[int] = []
    rows = connected_components(edges, rounds_out=rounds).collect()
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)
    assert rounds[0] <= math.ceil(math.log2(n)) ** 2


def test_cc_adversarial_chain_round_counts(spark):
    """Executable version of SCALING.md's connected-components claim:
    on an adversarial 256-node chain (diameter 255) the routine labels
    every node correctly within the ⌈log₂n⌉² round bound, and in fewer
    than the 20 rounds that left min-label propagation unconverged on
    the same chain (it moves the min label one hop per round)."""
    from jobminer_spark.operators.dedupe import connected_components

    n = 256
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    rounds: list[int] = []
    got = connected_components(edges, rounds_out=rounds)
    assert {r.doc_id: r.component for r in got.collect()} == {i: 0 for i in range(n)}
    assert rounds[0] <= math.ceil(math.log2(n)) ** 2  # = 64
    assert rounds[0] < 20


def test_connected_components_raises_at_the_round_cap(spark, monkeypatch):
    """A graph that has not settled when the round cap is reached
    raises instead of returning partial labels."""
    from jobminer_spark.operators import dedupe

    monkeypatch.setattr(dedupe, "_round_cap", lambda n_nodes: 2)
    edges = _cc_shapes()["chain_ascending"]
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        dedupe.connected_components(_edge_frame(spark, edges))


def test_neardup_components_join_a_permuted_chain(spark, monkeypatch):
    """neardup_connected_components puts a 64-node chain of near-dups,
    in permuted id order, into one component (min-label propagation
    capped at 20 rounds split it silently)."""
    from jobminer_spark.operators import dedupe

    perm = list(range(64))
    random.Random(11).shuffle(perm)
    chain = _edge_frame(spark, [(perm[i], perm[i + 1]) for i in range(63)])
    monkeypatch.setattr(dedupe, "_neardup_edges", lambda docs: chain)
    got = dedupe.neardup_connected_components(spark, SF_DIR).collect()
    assert len(got) == 64
    assert {r.component for r in got} == {0}


def test_split_assignment_rowwise_stable(spark):
    """Split assignment depends only on the key, never on the corpus:
    the same doc_id gets the same split in a subset as in the full
    table (the incremental-rebuild reproducibility property), and the
    realized proportions sit near 80/10/10."""
    from jobminer_spark.operators.curation import split_assignment

    docs = load_table(spark, SF_DIR, "documents")
    full = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", split_assignment(F.col("doc_id")).alias("s")
        ).collect()
    }
    subset = {
        r.doc_id: r.s
        for r in docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", split_assignment(F.col("doc_id")).alias("s"))
        .collect()
    }
    assert all(full[k] == v for k, v in subset.items())
    n = len(full)
    train = sum(1 for v in full.values() if v == "train") / n
    assert 0.70 <= train <= 0.90


def test_sequence_packing_overflow_bounded(spark):
    """Streaming first-fit bins never exceed budget + one document:
    bin_tokens < 512 + max single-doc tokens; no doc is lost."""
    from jobminer_spark.operators.curation import (
        _PACK_BUDGET,
        sequence_packing_bins,
    )

    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    max_doc = (
        docs.select(F.size(F.split("text", " ")).alias("t"))
        .agg(F.max("t"))
        .first()[0]
    )
    bins = sequence_packing_bins(spark, SF_DIR).collect()
    assert sum(r.n_docs for r in bins) == n_docs
    assert all(r.bin_tokens < _PACK_BUDGET + max_doc for r in bins)


def test_curation_funnel_monotone(spark):
    from jobminer_spark.operators.curation import _SOURCE_QUOTA, curation_funnel

    rows = {r.stage_no: r.n_docs for r in curation_funnel(spark, SF_DIR).collect()}
    assert rows[0] >= rows[1] >= rows[2] >= rows[3] >= rows[4]
    n_sources = load_table(spark, SF_DIR, "documents").select("source").distinct().count()
    assert rows[4] <= n_sources * _SOURCE_QUOTA


def test_simhash_deterministic(spark):
    q = QUERIES["simhash_fingerprints"]
    a = {r.doc_id: r.simhash for r in q(spark, SF_DIR).collect()}
    b = {r.doc_id: r.simhash for r in q(spark, SF_DIR).collect()}
    assert a == b
    assert len(a) > 0


def test_hot_shingle_df_cap_bounds_candidate_pairs(spark):
    """Adversarial repeated-shingle corpus: every doc shares one
    stop-phrase trigram. Uncapped, the inverted-index self-join
    generates all C(n,2) candidate pairs off that single shingle (the
    quadratic dedup scale-killer); with the df cap the hot shingle is
    dropped and the candidate count collapses to the true near-dup
    pairs (here: zero — every tail is unique)."""
    from jobminer_spark.operators.dedupe import word_shingles

    n = 40
    docs = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.format_string("lorem ipsum dolor u%d t%d e%d", "id", "id", "id").alias(
            "text"
        ),
    )

    def candidate_pairs(sh):
        a, b = sh.alias("a"), sh.alias("b")
        return (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    uncapped = candidate_pairs(word_shingles(docs, 3))
    capped = candidate_pairs(word_shingles(docs, 3, max_df=10))
    assert uncapped == n * (n - 1) // 2  # quadratic blowup, one shingle
    assert capped == 0

    # cap leaves the per-doc shingle sets intact apart from the hot one
    kept = word_shingles(docs, 3, max_df=10).groupBy("doc_id").count()
    assert kept.filter(F.col("count") != 3).count() == 0  # 4 shingles - 1 hot


def test_tfidf_token_df_cap_binds(spark):
    """With an aggressive cap the all-hot fixture vocabulary empties
    the index (every token df ≈ 0.8·corpus) — proving the cap is live
    in the registered query's plan, not dead code."""
    from jobminer_spark.operators.textanalysis import tfidf_top_similar_pairs

    out = tfidf_top_similar_pairs(spark, SF_DIR, max_df_frac=0.01)
    assert out.count() == 0
    # default cap (0.9) keeps the fixture result non-empty
    assert tfidf_top_similar_pairs(spark, SF_DIR).count() > 0


def test_minhash_rows_only(spark):
    q = QUERIES["minhash_lsh_neardup"]
    df = q(spark, SF_DIR)
    assert set(df.columns) == {"doc_a", "doc_b", "jaccard_est"}
    df.collect()  # runs without error; pair count depends on corpus


def test_every_query_has_callable_and_runs_smoke(spark):
    """Each registered query returns a DataFrame with stable, non-empty
    schema; oracle coverage is the norm (rows-only is the exception)."""
    assert len(QUERIES) >= 25
    non_oracle = set(QUERIES) - set(ORACLES)
    # only genuinely non-SQL-expressible ops may skip the oracle
    assert non_oracle <= {
        "minhash_lsh_neardup",
        "simhash_fingerprints",
        "simhash_band_neighbors",
        "kmeans_lloyd_clusters",
    }


def test_entry_returns_rows(spark):
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    entry_mod = importlib.import_module("__spark_entry__")
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "skill_category" in df.columns


def test_pipeline_idempotent_rerun(spark):
    from jobminer_spark.pipeline import run_pipeline

    jobs1, skills1 = run_pipeline(spark, SF_DIR)
    jobs2, _ = run_pipeline(spark, SF_DIR, existing_jobs=jobs1)
    assert jobs2.count() == 0  # nothing new on identical re-scrape
    assert jobs1.count() > 0
    assert skills1.count() > 0
    # child rows unique on the reference's UC_JobSkill key
    assert (
        skills1.groupBy("job_id", "source", "skill_name").count().filter("count > 1").count()
        == 0
    )


def test_shingle_doc_lists_adversarial_cap_and_pair_parity(spark):
    """The buffer-caveat corpus for shingle_doc_lists (dedupe.py): a
    stop-phrase trigram shared by every doc (df = 40 >> max_df = 10)
    must be dropped by the post-agg size filter, and the in-row pair
    path (_jaccard_pair_counts) must agree exactly with a Python
    brute force of the same capped-shingle semantics."""
    from jobminer_spark.operators.dedupe import _jaccard_pair_counts, shingle_doc_lists

    n, max_df = 40, 10
    texts = {}
    for i in range(n):
        # hot phrase in every doc + per-doc unique tail + a trigram
        # shared only within each consecutive pair (i//2)
        texts[i] = (
            f"hot hot hot u{i} u{i} u{i} "
            f"pair{i // 2} pair{i // 2} pair{i // 2}"
        )
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    # Python brute force: distinct overlapping word trigrams, df cap,
    # then pairwise intersection / sizes
    def trigrams(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: trigrams(t) for i, t in texts.items()}
    df_count = {}
    for s in sets.values():
        for sh in s:
            df_count[sh] = df_count.get(sh, 0) + 1
    assert df_count["hot hot hot"] == n  # the adversarial shingle is real
    capped = {
        i: {sh for sh in s if df_count[sh] <= max_df} for i, s in sets.items()
    }
    expected = {}
    for a in range(n):
        for b in range(a + 1, n):
            inter = len(capped[a] & capped[b])
            if inter:
                expected[(a, b)] = (inter, len(capped[a]), len(capped[b]))

    # hot shingle present uncapped, dropped under the cap
    uncapped_idx = {r.shingle for r in shingle_doc_lists(docs, 3).collect()}
    capped_idx = {r.shingle for r in shingle_doc_lists(docs, 3, max_df).collect()}
    assert "hot hot hot" in uncapped_idx
    assert "hot hot hot" not in capped_idx

    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_sh_a, r.n_sh_b)
        for r in _jaccard_pair_counts(docs, 3, max_df).collect()
    }
    assert got == expected


def test_prefix_bound_float_ceil_boundary(spark):
    """The prefix length must use a CONSERVATIVE ceil: for
    min_j = 3/17 and n_sh = 85 the double product is
    15.000000000000002, so plain ceil gives 16 (exact: 15) and the
    prefix is one shingle too short. Adversarial pair: A ⊂ B with
    |A| = 15, |B| = 85, J = 15/85 = 3/17 exactly, and the 15 common
    shingles sorted LAST in B's rare-first order (df=2 > df=1) — the
    unfixed prefix misses the edge."""
    from jobminer_spark.operators.dedupe import jaccard_edges_prefix

    t = 3 / 17
    # B: 87 distinct words -> 85 distinct word-trigrams.
    b_words = [f"w{i:03d}" for i in range(87)]
    # A: B's last 17 words -> A's 15 trigrams are exactly B's last 15.
    a_words = b_words[-17:]
    docs = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))], "doc_id long, text string"
    )
    edges = {
        (r.doc_a, r.doc_b)
        for r in jaccard_edges_prefix(docs, t, n=3, max_df=None).collect()
    }
    assert (1, 2) in edges


def test_containment_catches_what_jaccard_misses(spark):
    """A small doc fully quoted inside a much larger one: the
    containment operator emits exactly (contained=1, container=2,
    containment=1.0) — direction and threshold included — while
    symmetric Jaccard stays far below the 0.8 near-dup threshold.
    The case the asymmetric detector exists for."""
    from jobminer_spark.operators.dedupe import jaccard_edges_prefix
    from jobminer_spark.operators.increment import containment_pairs

    quoted = " ".join(f"q{i}" for i in range(10))       # 8 trigrams
    container = quoted + " " + " ".join(f"c{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quoted), (2, container)], "doc_id long, text string"
    )
    # symmetric Jaccard ~ 8/68 << 0.8: no near-dup edge
    assert jaccard_edges_prefix(docs, 0.8, n=3, max_df=None).count() == 0

    got = [
        (r.contained_doc, r.container_doc, r.containment)
        for r in containment_pairs(docs).collect()
    ]
    # only the small-in-large direction fires, at exactly 1.0
    assert got == [(1, 2, 1.0)]


def test_trained_ivf_zero_updates_equals_seed_variant(spark):
    """lloyd_centroids(n_updates=0) is exactly the seed table, so the
    trained-IVF search must reproduce the seed-centroid IVF's results
    — ties the two variants to one shared probe/re-rank contract."""
    from jobminer_spark.operators.similarity import (
        _KM_K,
        _ivf_probe_topk,
        ann_ivf_kmeans_topk,
        lloyd_centroids,
    )
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = lloyd_centroids(emb.select("vec_id", "embedding"), _KM_K, n_updates=0)
    via_trained = {
        tuple(r) for r in _ivf_probe_topk(emb, cents, 8, 5, 2).collect()
    }
    via_seed = {tuple(r) for r in ann_ivf_kmeans_topk(spark, SF_DIR).collect()}
    assert via_trained == via_seed and len(via_seed) > 0


def test_incremental_admission_component_rules(spark):
    """The three admission rules on a constructed split: an incoming
    near-dup of EXISTING content is rejected (even transitively), an
    incoming-only near-dup group admits its min doc_id, an isolated
    incoming doc admits itself."""
    import pyspark.sql.functions as F

    from jobminer_spark.operators.increment import admit_incoming

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    t3 = "red green blue yellow purple orange pink black"
    rows = [
        (3, t1),   # existing (id % 3 == 0)
        (10, t1),  # incoming, dup of existing -> rejected
        (11, t2),  # incoming, dup group with 13 -> admitted (min)
        (13, t2),  # incoming, dup of 11 -> rejected
        (14, t3),  # incoming, isolated -> admitted
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.n_members
        for r in admit_incoming(docs, F.col("doc_id") % 3 == 0).collect()
    }
    assert got == {11: 2, 14: 1}


def test_embedding_sign_bits_knob_shrinks_candidates(spark):
    """The sign-bucket blocking knob must be live: more hyperplane
    bits → strictly finer buckets → fewer candidate pairs (every
    bits=6 bucket is a subset of a bits=4 bucket, so the candidate
    set at 6 bits is a subset of the one at 4 bits)."""
    from jobminer_spark.operators.dedupe import embedding_sign_pairs
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    p4 = {
        (r.vec_a, r.vec_b) for r in embedding_sign_pairs(emb, bits=4).collect()
    }
    p6 = {
        (r.vec_a, r.vec_b) for r in embedding_sign_pairs(emb, bits=6).collect()
    }
    assert p6 < p4  # strict subset: finer blocking prunes candidates
    assert len(p6) > 0


def test_simhash_band_detection_boundary(spark):
    """Pigeonhole recall bound for the banded neighbor search: <= 3
    flipped bits always leave one of the 4 bands intact (detected);
    4 flips spread one-per-band defeat banding (documented recall
    boundary — candidates only, not a correctness bug)."""
    from jobminer_spark.operators.dedupe import simhash_band_candidates

    base = 0x0123456789ABCDEF
    three_in_one_band = base ^ 0b0111  # 3 flips, all inside band 0
    one_per_band = base ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))
    sims = spark.createDataFrame(
        [(1, base), (2, three_in_one_band), (3, one_per_band)],
        "doc_id long, simhash long",
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_band_candidates(sims, max_hamming=64).collect()
    }
    assert got.get((1, 2)) == 3          # detected: bands 1-3 intact
    assert (1, 3) not in got             # all 4 bands touched -> missed
    assert got.get((2, 3), 0) >= 0       # whatever bands 2,3 share is fine


def test_simhash_band_negative_signature(spark):
    """Band values must be sign-agnostic: a pair whose only untouched
    band is band 0 and whose sign bits (bit 63) differ must still be
    candidates. With `%` instead of a mask, the negative signature's
    band-0 residue lands in (-65536, 0] and the pair is silently
    missed (the hamming<=3 recall guarantee breaks)."""
    from jobminer_spark.operators.dedupe import simhash_band_candidates

    base = 0x0123456789ABCDEF
    # flip bits 16, 32, 63: bands 1, 2, 3 each touched, band 0 intact;
    # bit 63 makes the partner negative as a signed long.
    partner = base ^ (1 << 16) ^ (1 << 32) ^ (1 << 63)
    partner_signed = partner - (1 << 64) if partner >= (1 << 63) else partner
    assert partner_signed < 0
    sims = spark.createDataFrame(
        [(1, base), (2, partner_signed)], "doc_id long, simhash long"
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_band_candidates(sims, max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 3  # band 0 intact despite sign flip

    # control: same shape but flipping bit 48 (stays positive) is found
    partner_pos = base ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)
    sims2 = spark.createDataFrame(
        [(1, base), (2, partner_pos)], "doc_id long, simhash long"
    )
    got2 = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_band_candidates(sims2, max_hamming=3).collect()
    }
    assert got2.get((1, 2)) == 3


def test_hyperplane_lsh_recall_floor(spark):
    """The 32-plane/8-bit-band sizing claim (a cosine >= 0.97 pair is
    caught by >= 1 of 4 bands w.p. ~0.95) as a hard floor on planted
    twins — deterministic planes + deterministic perturbation make the
    measured recall a fixed number, so this cannot flake."""
    from jobminer_spark.operators.embedlsh import hyperplane_lsh_recall_audit
    from tests.conftest import SF_DIR

    row = hyperplane_lsh_recall_audit(spark, SF_DIR).collect()[0]
    assert row.n_true_pairs > 0
    assert row.recall >= 0.9
    assert row.n_detected + row.n_missed == row.n_true_pairs


def test_containment_survivor_drops_quoted_doc(spark):
    """The quoted-inside-container pair (no symmetric Jaccard edge —
    see test_containment_catches_what_jaccard_misses) must become ONE
    component whose keep-the-longest survivor is the container,
    dropping the contained doc — the edge is finally consumed, not
    just emitted."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.increment import survivors_with_containment

    quoted = " ".join(f"q{i}" for i in range(10))
    container = quoted + " " + " ".join(f"c{i}" for i in range(60))
    third = " ".join(f"z{i}" for i in range(20))  # unrelated isolate
    docs = spark.createDataFrame(
        [(1, quoted), (2, container), (3, third)], "doc_id long, text string"
    ).withColumn("n_chars", F.length("text"))
    rows = {
        r.component: (r.survivor_doc_id, r.n_members)
        for r in survivors_with_containment(docs).collect()
    }
    # docs 1+2 fuse via the containment edge; survivor is the container
    assert rows == {1: (2, 2)}


def test_incremental_probe_matches_full_on_cap_transition(spark, tmp_path):
    """The hardest equality case for the index probe: a shingle whose
    document frequency crosses the cap only once the batch lands. 99
    corpus docs + 2 batch docs share trigram 'S1 S2 S3' (union df 101
    > 100): the full recompute kills it, dropping the batch pair's
    Jaccard from 8/10 to 7/9 < 0.8 — so BOTH batch docs must admit
    individually. A probe that froze df at index-build time (99) would
    keep the shingle, see an edge, and admit only one. Plus a taint
    case (batch doc near-dup of a corpus doc: admit nothing) and an
    isolate (admit itself)."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.increment import (
        admit_incoming,
        admit_incoming_incremental,
        build_corpus_shingle_index,
    )

    s_run = " ".join(f"S{i}" for i in range(1, 11))   # S1..S10
    q_run = " ".join(f"Q{i}" for i in range(1, 11))
    corpus_rows = [(1000 + i, f"u{i} S1 S2 S3 v{i}") for i in range(99)]
    corpus_rows.append((2000, f"{q_run} z"))
    batch_rows = [
        (1, f"{s_run} x"),      # near-dup pair (A, B) via S-run ONLY if
        (2, f"{s_run} y"),      # 'S1 S2 S3' survives — it must not
        (3, f"{q_run} w"),      # tainted: J = 0.8 vs corpus doc 2000
        (4, "d1 d2 d3 d4"),     # isolate
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    idx = str(tmp_path / "idx")
    build_corpus_shingle_index(corpus, idx)
    inc = {
        (r.doc_id, r.n_members)
        for r in admit_incoming_incremental(spark, batch, idx).collect()
    }
    union = corpus.unionByName(batch)
    full = {
        (r.doc_id, r.n_members)
        for r in admit_incoming(union, F.col("doc_id") >= 1000).collect()
    }
    assert inc == full == {(1, 1), (2, 1), (4, 1)}


def test_index_update_matches_rebuild(spark, tmp_path):
    """Functional index maintenance: update(index(corpus), admitted)
    must equal build(corpus ∪ admitted) on all three tables — with a
    shingle whose df crosses the cap ONLY via the admitted batch, so
    the transition pruning (postings drop + doc_sizes correction) is
    exercised, not just the happy path."""
    from jobminer_spark.operators.increment import (
        build_corpus_shingle_index,
        update_corpus_shingle_index,
    )

    corpus_rows = [(1000 + i, f"u{i} S1 S2 S3 v{i}") for i in range(99)]
    corpus_rows.append((2000, "only unique words here w1 w2"))
    admitted_rows = [
        (1, "S1 S2 S3 a b c"),     # pushes 'S1 S2 S3' to df 101 > 100
        (2, "S1 S2 S3 d e f"),
        (3, "fresh new content entirely here"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    admitted = spark.createDataFrame(admitted_rows, "doc_id long, text string")

    old = str(tmp_path / "old")
    upd = str(tmp_path / "upd")
    ref = str(tmp_path / "ref")
    build_corpus_shingle_index(corpus, old)
    update_corpus_shingle_index(spark, old, admitted, upd)
    build_corpus_shingle_index(corpus.unionByName(admitted), ref)

    for table in ("vocab", "postings", "doc_sizes"):
        a = spark.read.parquet(f"{upd}/{table}")
        b = spark.read.parquet(f"{ref}/{table}")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, table


def test_semantic_dedup_drops_planted_twins(spark):
    """Every original survives (fixture max cosine ~0.51 << 0.97);
    every planted twin that lands in its base's cluster is dropped by
    the priority rule (base id < twin id, cosine ~0.98). Most twins
    share their base's cluster, so the drop rate must stay high — but
    not 100%: cluster blocking misses pairs that straddle a cell
    boundary BY DESIGN (SemDeDup's own tradeoff), and the miss rate
    is data-dependent (measured: 0/50 twins survive at sf0.001,
    11/50 at sf0.01 with the same K). The 25% ceiling covers the
    measured range while still demanding the overwhelming majority
    drop."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.embedlsh import TWIN_OFFSET, planted_twins
    from jobminer_spark.operators.semdedup import semantic_dedup_survivors
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n_orig = emb.count()
    n_twins = planted_twins(emb).count()
    surv = semantic_dedup_survivors(spark, SF_DIR)
    n_surv_orig = surv.filter(F.col("vec_id") < TWIN_OFFSET).count()
    n_surv_twin = surv.filter(F.col("vec_id") >= TWIN_OFFSET).count()
    assert n_surv_orig == n_orig                 # no original dropped
    assert n_surv_twin <= n_twins * 0.25         # twins overwhelmingly dropped


def test_pq_encoding_shape_and_guard(spark):
    """Every vector gets exactly M codes in [0, PQ_K); non-divisible
    dims fail loudly instead of silently mis-slicing subspaces."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from jobminer_spark.operators.pq import PQ_K, PQ_M, pq_adc_topk, pq_codes
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cw = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    codes = pq_codes(emb, cw)
    n_vec = emb.count()
    assert codes.count() == n_vec * PQ_M
    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= PQ_K)).count()
    assert bad == 0
    # a codeword's own best code in every subspace is itself (distance 0)
    self_codes = codes.filter(F.col("vec_id") < PQ_K)
    assert self_codes.filter(F.col("code") != F.col("vec_id")).count() == 0

    with _pytest.raises(ValueError, match="not divisible"):
        pq_adc_topk(
            emb.select("vec_id", F.slice("embedding", 1, 63).alias("embedding"))
        )


def test_pq_trained_codebook_shape_and_distortion(spark):
    """One Lloyd assignment+mean round per subspace must not increase
    the total quantized encoding distortion (per-subspace k-means
    objective monotonicity), and the trained codebook keeps the
    (s, cid) key unique with d_sub-wide codewords covering all M
    subspaces.

    NOTE (fixture-dependent invariant): the objective is measured on
    floor-quantized integer distances; Lloyd's descent guarantee holds
    for exact L2, and per-element floor could in principle flip a
    near-tie on a different fixture. On THIS fixture the descent
    margin dwarfs the <= 1-ulp-per-element quantization slack, so the
    strict assertion is safe; if the fixture ever changes and this
    trips with a tiny margin, allow one KM_QUANT ulp per element
    rather than weakening the descent claim."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.pq import (
        PQ_D_SUB,
        PQ_M,
        _cb_dists,
        _subvec_frame,
        pq_train_codebooks,
        seed_codebook,
    )
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    subs = _subvec_frame(emb, PQ_M, PQ_D_SUB).localCheckpoint(eager=True)

    def objective(cb) -> int:
        return (
            _cb_dists(subs, cb)
            .groupBy("vec_id", "s")
            .agg(F.min("qd").alias("d"))
            .agg(F.sum("d").alias("obj"))
            .first()["obj"]
        )

    trained = pq_train_codebooks(emb)
    rows = trained.select("s", "cid", F.size("cvec").alias("w")).collect()
    assert all(r["w"] == PQ_D_SUB for r in rows)
    assert len({(r["s"], r["cid"]) for r in rows}) == len(rows)
    assert {r["s"] for r in rows} == set(range(PQ_M))
    assert objective(trained) <= objective(seed_codebook(emb))


def test_winnowing_guarantee_on_shared_run(spark):
    """The paper's detection guarantee, executable: two documents
    sharing a run of >= k + w - 1 = 8 consecutive tokens (in otherwise
    disjoint text) MUST share at least one fingerprint — every window
    fully inside the shared run selects the same minimum in both.
    Checked at several run positions; fully-disjoint documents must
    never pair (no hash collisions across disjoint vocabularies at
    60-bit hashes and this corpus size)."""
    from jobminer_spark.operators.winnow import winnow_candidate_pairs

    run8 = " ".join(f"R{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 a4 a5 {run8} a6 a7 a8 a9 a10"),   # run mid-doc
            (2, f"{run8} b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),   # run at head
            (3, f"c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 {run8}"),   # run at tail
            (4, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"),   # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnow_candidate_pairs(docs, min_shared=1).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs  # guaranteed detections
    assert not any(4 in p for p in pairs)     # disjoint doc pairs nothing


def test_shared_spans_maximal_runs(spark):
    """Span semantics pinned on a constructed pair: two SEPARATE
    shared runs (10 and 8 tokens) in different positions must come
    back as exactly two maximal spans with exact start offsets and
    lengths — no merging across the gap, no off-by-one in the
    chain-length -> token-length accounting, and a doc pair sharing
    only 7 tokens (< L = 8) must produce nothing."""
    from jobminer_spark.operators.spans import shared_spans

    r10 = " ".join(f"R{i}" for i in range(10))
    s8 = " ".join(f"S{i}" for i in range(8))
    q7 = " ".join(f"Q{i}" for i in range(7))
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 {r10} a3 a4 {s8} a5"),
            (2, f"b1 {r10} b2 b3 b4 {s8} b5 b6"),
            (3, f"c1 c2 c3 {q7} c4 c5 c6"),
            (4, f"d1 d2 d3 {q7} d4 d5 d6"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
        for r in shared_spans(docs).collect()
    }
    # doc1: r10 at tokens 2..11, s8 at 14..21; doc2: r10 at 1..10, s8 at 14..21
    assert rows == {(1, 2, 2, 1, 10), (1, 2, 14, 14, 8)}


def test_span_coverage_merges_overlaps(spark):
    """Interval-union correctness: two OVERLAPPING shared runs in the
    higher-id doc must count their union once (not the double-counted
    sum), and a doc sharing nothing is absent."""
    from jobminer_spark.operators.spans import span_coverage

    # doc 2 shares tokens 0..9 with doc 0 and tokens 5..14 with doc 1:
    # union = 0..14 = 15 covered of 20 -> 0.75 (sum would say 20)
    r = [f"C{i}" for i in range(15)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(r[0:10]) + " z1 z2 z3 z4"),
            (1, " ".join(r[5:15]) + " w1 w2 w3 w4"),
            (2, " ".join(r) + " v1 v2 v3 v4 v5"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        ],
        "doc_id long, text string",
    )
    got = {r_.doc_id: (r_.n_tokens, r_.covered_tokens) for r_ in span_coverage(docs).collect()}
    assert got[2] == (20, 15)
    assert 3 not in got


def test_calibration_drops_equal_fraction_per_source(spark):
    """The calibration property that motivates the operator: every
    source loses (approximately, up to rank granularity) the SAME
    bottom fraction, regardless of its raw score range."""
    from jobminer_spark.operators.calibrate import CAL_KEEP, quality_calibrated_gate
    from tests.conftest import SF_DIR

    rows = quality_calibrated_gate(spark, SF_DIR).collect()
    assert len(rows) > 1
    for r in rows:
        dropped_frac = 1 - r.n_kept / r.n_docs
        # percent_rank >= 0.2 keeps ranks 0.2..1.0: drop ~20% ± one rank
        assert abs(dropped_frac - CAL_KEEP) <= 1.0 / r.n_docs + 1e-9
    # the implied raw thresholds genuinely differ across sources
    thresholds = {round(r.source_threshold, 6) for r in rows}
    assert len(thresholds) > 1


def test_zorder_beats_linear_on_secondary_probe(spark):
    """The layout claim as an inequality, not prose: the Z-order
    layout must touch strictly fewer buckets than the linear layout
    for the secondary-column probe (where linear touches ALL)."""
    from jobminer_spark.operators.layout import zorder_pruning_stats
    from tests.conftest import SF_DIR

    r = zorder_pruning_stats(spark, SF_DIR).collect()[0]
    assert r.yonly_linear == r.n_buckets          # linear can't prune y
    assert r.yonly_zorder < r.yonly_linear / 2    # z-order prunes hard
    assert r.box_zorder <= r.box_linear            # and never loses the box


def test_stratified_sample_exact_k_and_deterministic(spark):
    """Exactly k rows per source, ranks 1..k, and a repeated run is
    byte-identical (no rand())."""
    from jobminer_spark.operators.datasheet import (
        SAMPLE_K,
        stratified_sample_per_source,
    )
    from tests.conftest import SF_DIR

    a = {(r.source, r.doc_id, r.rk) for r in stratified_sample_per_source(spark, SF_DIR).collect()}
    b = {(r.source, r.doc_id, r.rk) for r in stratified_sample_per_source(spark, SF_DIR).collect()}
    assert a == b
    per = {}
    for s, _, rk in a:
        per.setdefault(s, []).append(rk)
    for s, rks in per.items():
        assert sorted(rks) == list(range(1, SAMPLE_K + 1)), s


def test_zorder_ranks_survive_int_overflow_scale(spark, tmp_path):
    """row_number is INT in Spark: rank * 4096 overflows 2^31 above
    524k rows unless the cast to long happens BEFORE the multiply
    (ANSI: ArithmeticException; non-ANSI: silent wrap diverging from
    DuckDB's BIGINT). 600k synthetic events must run clean."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.layout import zorder_pruning_stats

    ev = spark.range(600_000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 997).alias("user_id"),
        ((F.col("id") * 37) % 7919).cast("double").alias("value"),
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    row = zorder_pruning_stats(spark, str(tmp_path)).collect()[0]
    assert row.n_buckets == 64
    assert 0 < row.yonly_zorder < row.yonly_linear


def test_bm25_rare_term_and_rank_contract(spark):
    """Query 2 contains the corpus's one rare term ('dup', df 25/500
    vs ~390/500): its rational idf dwarfs the common terms', so every
    top-ranked document for that query must actually contain 'dup'.
    All queries return a contiguous 1..k rank per query."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.retrieval import (
        BM25_TOP_K,
        bm25_topk_per_query,
    )
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    top = bm25_topk_per_query(spark, SF_DIR)
    rows = top.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert set(per_q) == {0, 1, 2}
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, BM25_TOP_K + 1))
    docs = load_table(spark, SF_DIR, "documents")
    dup_docs = {
        r["doc_id"]
        for r in docs.filter(
            F.array_contains(F.split("text", " "), "dup")
        ).select("doc_id").collect()
    }
    q2_top = [r["doc_id"] for r in rows if r["query_id"] == 2]
    assert set(q2_top) <= dup_docs


def test_rep_stats_arrow_matches_shuffle_path(spark):
    """The fused in-row repetition kernel (r20 optimization) must
    reproduce the old gram-emission + two-shuffle-aggregation path
    bit-for-bit on the fixture corpus: same doc set, identical
    n_grams, and bit-identical IEEE fractions."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.common import ngram_rows
    from jobminer_spark.operators.docquality import _rep_stats_arrow
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull()
    )
    grams = ngram_rows(docs, 2, out="g")
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    old = {
        r["doc_id"]: r
        for r in gc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            (
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("c")
            ).alias("dup_gram_frac"),
            (F.max("c").cast("double") / F.sum("c")).alias("top_gram_frac"),
        )
        .collect()
    }
    new = {r["doc_id"]: r for r in _rep_stats_arrow(docs).collect()}
    assert set(old) == set(new) and len(old) > 0
    for k, r in old.items():
        assert (
            r["n_grams"],
            r["dup_gram_frac"],
            r["top_gram_frac"],
        ) == (
            new[k]["n_grams"],
            new[k]["dup_gram_frac"],
            new[k]["top_gram_frac"],
        )


def test_tfidf_arrow_tf_rows_match_expression_path(spark):
    """The fused Arrow tf pass (r20 optimization) must reproduce the
    expression path exactly on the fixture corpus: identical
    (doc_id, token, cnt) multiset, in-row len == the old doclen
    aggregate, and the summed df partials == the old per-token count."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.textanalysis import _tfidf_tf_rows_arrow
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", F.lower("tok").alias("token"))
    )
    tf_old = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    len_old = {
        r["doc_id"]: r["len"]
        for r in tf_old.groupBy("doc_id").agg(F.sum("cnt").alias("len")).collect()
    }
    df_old = {
        r["token"]: r["dfreq"]
        for r in tf_old.groupBy("token")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .collect()
    }
    base = _tfidf_tf_rows_arrow(docs).collect()
    tf_new = {
        (r["doc_id"], r["token"]): (r["cnt"], r["len"])
        for r in base
        if r["doc_id"] is not None
    }
    old = {(r["doc_id"], r["token"]): r["cnt"] for r in tf_old.collect()}
    assert set(old) == set(tf_new) and len(old) > 0
    for k, cnt in old.items():
        assert tf_new[k] == (cnt, len_old[k[0]])
    df_new: dict = {}
    for r in base:
        if r["doc_id"] is None:
            df_new[r["token"]] = df_new.get(r["token"], 0) + r["cnt"]
    assert df_new == df_old


def test_bm25_arrow_tf_path_matches_expression_path(spark):
    """The fused single-pass Arrow tf/stats path (r20 optimization)
    must produce the IDENTICAL scored aggregate as the original
    tokenize→explode→shuffle expression path on the fixture corpus —
    same (query_id, doc_id) set, bit-identical qscore/n_terms/tot_tf."""
    from jobminer_spark.data.skill_dictionary import values_df
    from jobminer_spark.operators.retrieval import _bm25_agg, _query_terms_rows
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    qterms = values_df(spark, _query_terms_rows(), ["query_id", "term"])
    key = lambda r: (r["query_id"], r["doc_id"])  # noqa: E731
    old = {key(r): r for r in _bm25_agg(docs, qterms).collect()}
    new = {key(r): r for r in _bm25_agg(docs, qterms, _query_terms_rows()).collect()}
    assert set(old) == set(new) and len(old) > 0
    for k, r in old.items():
        assert (r["qscore"], r["n_terms"], r["tot_tf"]) == (
            new[k]["qscore"],
            new[k]["n_terms"],
            new[k]["tot_tf"],
        )


def test_cms_never_underestimates(spark):
    """The count-min hard guarantee: est >= exact for EVERY key, and
    the total overcount is bounded by d passes over the stream."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.sketches import cms_frequency_audit
    from tests.conftest import SF_DIR

    audit = cms_frequency_audit(spark, SF_DIR)
    assert audit.filter(F.col("overcount") < 0).count() == 0
    assert audit.filter(F.col("est_n") < F.col("exact_n")).count() == 0


def test_boilerplate_removal_reconstruction(spark):
    """Documents with no boilerplate chunks must reconstruct to their
    EXACT original text (chunk-split then ordered-rejoin is lossless
    on single-space token streams); trimmed documents must come out
    strictly shorter. Both directions exist in the fixture."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.curation import boilerplate_chunk_removal
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    out = boilerplate_chunk_removal(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.md5("text").alias("orig_hash"),
        F.length("text").cast("long").alias("orig_chars"),
    )
    j = out.join(docs, "doc_id")
    intact = j.filter(F.col("n_kept") == F.col("n_chunks"))
    trimmed = j.filter(F.col("n_kept") < F.col("n_chunks"))
    assert intact.count() > 0 and trimmed.count() > 0
    assert intact.filter(F.col("clean_hash") != F.col("orig_hash")).count() == 0
    assert trimmed.filter(
        F.col("clean_chars") >= F.col("orig_chars")
    ).count() == 0


def test_rrf_fusion_consistency(spark):
    """The fused score must equal 1/(K+rank_A) + 1/(K+rank_B) row by
    row, ranks are contiguous per query, and a document both rankers
    put first is the fused winner."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.retrieval import (
        BM25_TOP_K,
        RRF_K,
        rrf_fusion_topk_per_query,
    )
    from tests.conftest import SF_DIR

    rows = rrf_fusion_topk_per_query(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        expect = 1.0 / (RRF_K + r["rank_bm25"]) + 1.0 / (RRF_K + r["rank_cover"])
        assert r["rrf"] == expect
        per_q.setdefault(r["query_id"], []).append(r)
    for q_rows in per_q.values():
        assert sorted(r["rnk"] for r in q_rows) == list(
            range(1, BM25_TOP_K + 1)
        )
        for r in q_rows:
            if r["rank_bm25"] == 1 and r["rank_cover"] == 1:
                assert r["rnk"] == 1


def test_pagerank_integer_invariants(spark):
    """Fixed-point PageRank on a constructed graph: symmetric
    positions score identically, a star center dominates its leaves,
    and total mass never exceeds the fixed-point scale (each floor
    only leaks mass, never creates it)."""
    from jobminer_spark.operators.graphrank import PR_SCALE, pagerank_integer

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.pr_q for r in pagerank_integer(edges).collect()}
    assert got[1] == got[2] == got[3] == got[4]
    assert got[10] == got[11] == got[12]
    assert got[0] > got[1]
    assert sum(got.values()) <= PR_SCALE


def test_funnel_strict_order_edge_semantics(spark):
    """The funnel must chain STRICTLY after: a click before (or tied
    with) the first view doesn't advance, a purchase before the first
    qualifying click doesn't either, and the 6h span gate is measured
    from the FIRST view."""
    from jobminer_spark.operators.journeys import funnel_counts

    h = 3_600_000_000  # one hour in micros
    rows = [
        # u1: clean full funnel inside the span
        (1, "view", 0), (1, "click", h), (1, "purchase", 2 * h),
        # u2: click precedes the first view -> stops at view stage
        (2, "click", 0), (2, "view", h),
        # u3: click ties the first view exactly -> not strictly after
        (3, "view", h), (3, "click", h),
        # u4: purchase lands before the qualifying click -> stops at click
        (4, "view", 0), (4, "click", 2 * h), (4, "purchase", h),
        # u5: full funnel but the purchase is 7h after the first view
        (5, "view", 0), (5, "click", h), (5, "purchase", 7 * h),
        # u6: never views
        (6, "purchase", 0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, tus long")
    row = funnel_counts(ev).first()
    assert row["n_view"] == 5        # u1-u5
    assert row["n_click"] == 3       # u1, u4, u5
    assert row["n_purchase"] == 2    # u1, u5
    assert row["n_purchase_within_6h"] == 1  # u1 only


def test_int8_quantizer_range_and_recall_floor(spark):
    """Max-abs int8 codes stay in [-127, 127] with at least one dim
    hitting the rail per vector (the scale anchor); the audit's
    average recall on the fixture stays high — the whole point of
    byte storage vs PQ's 64x code compression."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.intquant import (
        INT8_MAX,
        embedding_int8_recall_audit,
        int8_codes,
    )
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    codes = int8_codes(emb)
    out_of_range = codes.filter(
        F.exists("q", lambda v: (v > INT8_MAX) | (v < -INT8_MAX))
    ).count()
    assert out_of_range == 0
    no_rail = codes.filter(
        ~F.exists("q", lambda v: (v == INT8_MAX) | (v == -INT8_MAX))
    ).count()
    assert no_rail == 0
    audit = embedding_int8_recall_audit(spark, SF_DIR)
    mean_recall = audit.agg(F.avg("recall")).first()[0]
    assert mean_recall >= 0.8


def test_scd2_intervals_tile_and_collapse(spark):
    """SCD2 invariants on the fixture: per user, intervals are
    disjoint and contiguous (each valid_to equals the next
    valid_from), exactly one current row per user, and no two
    CONSECUTIVE rows carry the same value (runs collapsed)."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.scd import scd2_user_attribute_history
    from tests.conftest import SF_DIR

    rows = scd2_user_attribute_history(spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user_rows in by_user.values():
        user_rows.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in user_rows if r["is_current"] == 1) == 1
        assert user_rows[-1]["valid_to"] is None
        for a, b in zip(user_rows, user_rows[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr_value"] != b["attr_value"]


def test_scd2_null_runs_segment_null_safely(spark):
    """A missing attribute is a VALUE: transitions to NULL are
    recorded, consecutive NULL observations collapse into one run,
    and a NULL-first history still starts a run."""
    from jobminer_spark.operators.scd import scd2_history

    rows = [
        (1, 1, 10, 5),
        (1, 2, 20, None),
        (1, 3, 30, None),
        (1, 4, 40, 5),
        (2, 5, 10, None),
        (2, 6, 20, 7),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, tus long, k long"
    )
    out = scd2_history(ev).collect()
    u1 = sorted((r for r in out if r.user_id == 1), key=lambda r: r.valid_from)
    assert [(r.attr_value, r.valid_from, r.valid_to) for r in u1] == [
        (5, 10, 20),
        (None, 20, 40),
        (5, 40, None),
    ]
    u2 = sorted((r for r in out if r.user_id == 2), key=lambda r: r.valid_from)
    assert [(r.attr_value, r.valid_from, r.valid_to) for r in u2] == [
        (None, 10, 20),
        (7, 20, None),
    ]


def test_bpe_exhaustion_parity_on_degenerate_corpus(spark, tmp_path):
    """A corpus that fully merges before BPE_ROUNDS must stay
    oracle-green: the empty later rounds are exact no-ops on both
    sides (chr(1)-sentinel REPLACE in the oracle, early break in
    Spark), not NULL poison — and the merge table simply has fewer
    rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from jobminer_spark import ORACLES, QUERIES

    pq_.write_table(
        pa.table(
            {
                "doc_id": pa.array([0], pa.int64()),
                "text": ["ab ab ab"],
                "lang": ["en"],
                "source": ["s"],
                "n_chars": pa.array([8], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    for name in ("bpe_train_merges", "bpe_encode_compression"):
        sdf = QUERIES[name](spark, str(tmp_path))
        srows = {tuple(r) for r in sdf.collect()}
        orows = {tuple(r) for r in con.execute(ORACLES[name]).fetchall()}
        assert srows == orows, name
        assert None not in {v for row in srows for v in row}


def test_scd2_incremental_equals_rebuild_edges(spark):
    """Incremental SCD2 == full rebuild on every edge: a batch value
    equal to the stored current value collapses into the stored run,
    a changed value opens a new run and closes the stored one, a
    brand-new user appears with a fresh history, and untouched users
    pass through byte-identical."""
    from jobminer_spark.operators.scd import scd2_history, scd2_incremental

    base_rows = [
        (1, 1, 10, 5), (1, 2, 20, 5),          # u1: one run of 5
        (2, 3, 10, 7), (2, 4, 30, 8),          # u2: runs 7, 8
        (4, 5, 10, 9),                          # u4: untouched
    ]
    batch_rows = [
        (1, 6, 40, 5),   # same value -> collapses into stored run
        (2, 7, 50, 9),   # change -> new run
        (3, 8, 45, 1),   # new user
    ]
    schema = "user_id long, event_id long, tus long, k long"
    base = spark.createDataFrame(base_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    stored = scd2_history(base, keep_event_id=True)
    inc = {
        tuple(r)
        for r in scd2_incremental(stored, batch).collect()
    }
    full = {
        tuple(r)
        for r in scd2_history(
            base.unionByName(batch), keep_event_id=True
        ).collect()
    }
    assert inc == full
    # the collapse really happened: u1 still has ONE run opening at 10
    u1 = [r for r in inc if r[0] == 1]
    assert len(u1) == 1 and u1[0][2] == 10


def test_ewma_bounded_by_input_range(spark):
    """The halving fold can never leave the input range: every
    user's EWMA lies within [min, max] of their quantized values
    (each step is an integer average of two in-range numbers)."""
    from pyspark.sql import functions as F

    from jobminer_spark.operators.decay import _X_QUANT, ewma_user_value
    from jobminer_spark.sources import load_table
    from tests.conftest import SF_DIR

    out = ewma_user_value(spark, SF_DIR)
    bounds = (
        load_table(spark, SF_DIR, "events")
        .select(
            "user_id",
            F.floor(F.col("value") * F.lit(float(_X_QUANT)))
            .cast("long")
            .alias("xq"),
        )
        .groupBy("user_id")
        .agg(F.min("xq").alias("mn"), F.max("xq").alias("mx"))
    )
    j = out.join(bounds, "user_id")
    assert j.filter(
        (F.col("ewma_q") < F.col("mn")) | (F.col("ewma_q") > F.col("mx"))
    ).count() == 0
    assert out.count() > 0


def test_sweep_stale_dirs_uses_deep_mtime():
    """A live session's scratch dir whose TOP-LEVEL mtime is old but
    whose nested files are fresh (the real access pattern — merges
    touch <table>/data/<sub>, never the root) must NOT be swept; a
    dir stale at every level must be."""
    import os
    import tempfile
    import time

    from jobminer_spark.operators.common import sweep_stale_dirs

    root = tempfile.mkdtemp(prefix="jm_sweeptest_root_")
    old = time.time() - 10 * 3600

    live = os.path.join(root, "jm_x_live")
    os.makedirs(os.path.join(live, "data", "sub"))
    open(os.path.join(live, "data", "sub", "f.parquet"), "w").close()
    # top level looks ancient; the depth-2 file is fresh
    os.utime(live, (old, old))
    os.utime(os.path.join(live, "data"), (old, old))

    stale = os.path.join(root, "jm_x_stale")
    os.makedirs(os.path.join(stale, "data", "sub"))
    open(os.path.join(stale, "data", "sub", "f.parquet"), "w").close()
    for p, _dirs, files in os.walk(stale, topdown=False):
        for f in files:
            os.utime(os.path.join(p, f), (old, old))
        os.utime(p, (old, old))

    sweep_stale_dirs(root, "jm_x_", keep_token="jm_x_nothing", min_age_s=6 * 3600)
    assert os.path.exists(live), "live dir swept despite fresh nested mtime"
    assert not os.path.exists(stale), "stale dir not swept"

    import shutil

    shutil.rmtree(root, ignore_errors=True)


def test_dec12_to_double_keeps_full_width_fraction(spark):
    """Regression (r12 probe catch): `c - floor(c)` on a full-width
    DECIMAL(38,12) types as DECIMAL(38,10) under Spark's subtract
    rule and silently ROUNDS fraction digits 11-12 away — invisible
    on fixtures whose values carry fewer digits, divergent from the
    DuckDB twin otherwise. The helper must reproduce all 12 digits,
    and FLOOR semantics for negatives (remainder shifted into
    [0, 1))."""
    from jobminer_spark.operators.common import dec12_to_double

    df = spark.sql(
        "SELECT CAST(3.141592653589 AS DECIMAL(38,12)) AS x, "
        "CAST(-2.250000000001 AS DECIMAL(38,12)) AS y"
    )
    r = df.select(
        dec12_to_double(F.col("x")).alias("px"),
        dec12_to_double(F.col("y")).alias("py"),
    ).first()
    assert r["px"] == 3 + 141592653589 / 1_000_000_000_000.0
    # floor(-2.250000000001) = -3; fraction = 0.749999999999
    assert r["py"] == -3 + 749999999999 / 1_000_000_000_000.0


def test_golden_record_survivorship_tiebreaks(spark, tmp_path):
    """Every rule's tie-break pinned on a crafted cluster: longest-name
    ties go to the lexicographically LAST value, latest-wins follows
    the max recency key, and a full majority tie picks the SMALLEST
    segment."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from jobminer_spark.operators.survivorship import (
        golden_record_survivorship,
    )

    rows = [
        # cluster 0: name-length tie ("aa" vs "bb"), all-distinct segs
        (0, "aa", 1, 10.00, "B"),
        (1, "bb", 1, 20.00, "C"),
        (2, "c", 1, 30.00, "A"),
        # cluster 1: clear majority seg, latest member has lowest bal
        (3, "longest-name", 1, 5.00, "M"),
        (4, "x", 1, 50.00, "M"),
        (5, "yy", 1, 1.25, "Z"),
    ]
    cols = list(zip(*rows))
    papq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(cols[0], pa.int64()),
                "c_name": pa.array(cols[1], pa.string()),
                "c_nationkey": pa.array(cols[2], pa.int32()),
                "c_acctbal": pa.array(cols[3], pa.float64()),
                "c_mktsegment": pa.array(cols[4], pa.string()),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    got = {
        r["cluster"]: r.asDict()
        for r in golden_record_survivorship(spark, str(tmp_path)).collect()
    }
    assert got[0]["name_surv"] == "bb"  # len tie -> lexicographically last
    assert got[0]["bal_q_surv"] == 3000  # custkey 2 is "latest"
    assert got[0]["seg_surv"] == "A"  # 1-1-1 majority tie -> smallest
    assert got[1]["name_surv"] == "longest-name"
    assert got[1]["bal_q_surv"] == 125  # custkey 5's balance
    assert got[1]["seg_surv"] == "M"  # true majority beats lex order
    assert got[0]["n_members"] == 3 and got[1]["n_members"] == 3
