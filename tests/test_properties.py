"""Property-based checks (SURVEY.md §5 item 3) with hypothesis: the
salary parser must be total (never throw, int-or-null out, hourly
scaling bounded) over arbitrary garbage, and min<=max on range inputs.
Runs each property over ONE Spark job (batch the generated cases) to
keep the suite fast."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from jobminer_spark.functions.text import salary_max_col, salary_min_col

# accumulate generated cases, evaluate in one Spark pass per property
_settings = settings(max_examples=60, deadline=None)


def _parse_all(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    return (
        df.select(
            "id",
            salary_min_col(F.col("t")).alias("mn"),
            salary_max_col(F.col("t")).alias("mx"),
        )
        .orderBy("id")
        .collect()
    )


def test_salary_parser_total_on_garbage(spark):
    texts = []

    @_settings
    @given(st.text(max_size=40))
    def collect(t):
        texts.append(t)

    collect()
    rows = _parse_all(spark, texts)
    for r in rows:
        assert r.mn is None or isinstance(r.mn, int)
        assert r.mx is None or isinstance(r.mx, int)
        # min and max are parsed from the same branches: both or neither
        assert (r.mn is None) == (r.mx is None)


def test_salary_parser_range_orders_min_max(spark):
    cases = []

    @_settings
    @given(
        st.integers(min_value=0, max_value=500_000),
        st.integers(min_value=0, max_value=500_000),
    )
    def collect(lo, hi):
        cases.append((lo, hi))

    collect()
    texts = [f"{lo} – {hi} zł" for lo, hi in cases]
    rows = _parse_all(spark, texts)
    for r, (lo, hi) in zip(rows, cases):
        # the reference takes group1/group2 literally (no reordering)
        assert r.mn == lo and r.mx == hi


def test_asof_join_null_heavy_struct_carry(spark):
    """temporal.asof_join carries the matched right row as ONE struct:
    a match whose value fields are NULL must be taken as-is — a
    per-column carry would let NULL fields fall through to an OLDER
    right row, stitching columns from two different matches. Property
    check against a Python brute force over null-heavy right rows."""
    from jobminer_spark.operators.temporal import asof_join

    rights, lefts = [], []
    ex_counter = iter(range(10_000_000))

    @_settings
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 3),
                st.integers(0, 50),
                st.one_of(st.none(), st.integers(-5, 5)),
                st.one_of(st.none(), st.sampled_from(["a", "b"])),
            ),
            max_size=12,
        ),
        st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), max_size=12),
    )
    def collect(r, le):
        # namespace users per example so examples can't interact
        ex = next(ex_counter)
        seen = set()
        for u, ts, vi, vs in r:
            if (u, ts) not in seen:  # keep right ts unique per key
                seen.add((u, ts))
                rights.append((ex * 10 + u, ts, vi, vs))
        for u, ts in le:
            lefts.append((ex * 10 + u, ts, len(lefts)))

    collect()
    # deterministic null-fall-through trap on top of the generated mass:
    # newest match has NULL fields; an older row has values
    rights += [(9_999_999, 1, 7, "old"), (9_999_999, 2, None, None)]
    lefts += [(9_999_999, 3, len(lefts))]
    if not lefts:
        return
    rdf = spark.createDataFrame(
        rights or [(0, 0, None, None)],
        "user_id long, ts long, v_int long, v_str string",
    )
    ldf = spark.createDataFrame(lefts, "user_id long, ts long, left_id long")
    out = {
        r.left_id: (r.asof_v_int, r.asof_v_str)
        for r in asof_join(ldf, rdf, on="user_id").collect()
    }
    assert len(out) == len(lefts)
    for u, lts, left_id in lefts:
        cands = [r for r in rights if r[0] == u and r[1] <= lts]
        expect = (None, None)
        if cands:
            best = max(cands, key=lambda r: r[1])
            expect = (best[2], best[3])
        assert out[left_id] == expect, (u, lts, out[left_id], expect)


def test_salted_join_equivalent_to_plain_join(spark):
    """salted_join must be a pure plan rewrite: on arbitrary skewed
    inputs its row multiset equals the plain equi-join's."""
    from collections import Counter

    from jobminer_spark.operators.skew import salted_join

    rows = []

    @_settings
    @given(
        st.lists(
            st.tuples(st.sampled_from(["hot", "a", "b", "c"]), st.integers(-9, 9)),
            max_size=25,
        )
    )
    def collect(batch):
        rows.extend(batch)

    collect()
    if not rows:
        return
    fact = spark.createDataFrame(rows, "k string, v long")
    dim = spark.createDataFrame(
        [("hot", 1), ("a", 2), ("b", 3)], "k string, attr long"
    )  # 'c' intentionally unmatched
    got = Counter(
        (r.k, r.v, r.attr)
        for r in salted_join(fact, dim, "k", n_salts=4).collect()
    )
    want = Counter((k, v, a) for k, v in rows for kk, a in
                   [("hot", 1), ("a", 2), ("b", 3)] if kk == k)
    assert got == want


def test_hyperplane_lsh_identical_vectors_always_collide(spark):
    """LSH soundness floor: byte-identical vectors have identical
    signatures, so every duplicated vector pair MUST appear among the
    band candidates (the analogue of the SimHash exact-dup recall
    guarantee); and a vector's negation flips every signature bit, so
    (v, -v) — the maximally distant pair — must share NO band."""
    from jobminer_spark.operators.embedlsh import hyperplane_band_pairs

    base = [0.25 * ((d % 7) - 3) + 0.01 for d in range(64)]
    neg = [-x for x in base]
    other = [0.1 * ((d % 5) - 2) - 0.02 for d in range(64)]
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, neg), (4, other)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_a, r.vec_b) for r in hyperplane_band_pairs(emb).collect()
    }
    assert (1, 2) in got          # identical vectors collide on ALL bands
    assert (1, 3) not in got      # negation flips every bit: zero shared bands
    assert (2, 3) not in got


def test_hyperplane_lsh_mismatched_dims_join_nothing(spark):
    """A vector whose length differs from the corpus dims must fall
    out of candidate generation (null band values join nothing) — NOT
    collapse to an all-zero signature that degrades the band
    self-join toward all-pairs."""
    from jobminer_spark.operators.embedlsh import hyperplane_band_pairs

    base = [0.25 * ((d % 7) - 3) + 0.01 for d in range(64)]
    short = base[:32]
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, short), (4, short)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.vec_a, r.vec_b) for r in hyperplane_band_pairs(emb).collect()}
    assert (1, 2) in got                     # well-formed dups still collide
    assert all(3 not in p and 4 not in p for p in got)  # mismatched join nothing


def test_nanos_probe_handles_partfile_directory(spark, tmp_path):
    """events written as a Spark part-file DIRECTORY (not a single
    file) must still probe: pyarrow's single-file read_schema fails
    there and the ParquetDataset fallback takes over."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobminer_spark.sources import parquet as pq_src

    d = tmp_path / "events.parquet"
    d.mkdir()
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000, 1_700_000_600_000_000_000],
                           pa.timestamp("ns")),
        }
    )
    pq.write_table(table, str(d / "part-00000.parquet"), store_schema=False)
    pq.write_table(table, str(d / "part-00001.parquet"), store_schema=False)
    path = str(d)
    pq_src._TS_NANOS_CACHE.pop(path, None)
    assert pq_src.events_ts_is_nanos(path, spark) is True


def test_registry_window_invariants():
    """The attestation-window machinery must stay well-formed: every
    _WINDOW_FRONT name resolves, the reorder is a permutation (no
    query lost or duplicated), oracles stay aligned with queries, and
    the front names actually lead the window."""
    from jobminer_spark import registry
    from jobminer_spark.registry import ORACLES, QUERIES, load_all_operators

    load_all_operators()
    names = list(QUERIES)
    assert len(names) == len(set(names))
    for i, n in enumerate(registry._WINDOW_FRONT):
        assert names[i] == n
    assert set(ORACLES) <= set(QUERIES)
    # every query's registering module is ranked (nothing falls to the
    # unranked tail, where its window position would be accidental)
    ranked = set(registry._OPERATOR_MODULES)
    for n in names:
        assert registry._QUERY_MODULE[n] in ranked, n


def test_nanos_probe_tz_aware_and_missing_column(tmp_path):
    """Type-inspection probe: a tz-AWARE nanos footer renders as
    'timestamp[ns, tz=UTC]' — a stringified comparison would
    misclassify it as micros, after which the Spark 4 read fails
    outright. A footer without a ts column is simply not nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobminer_spark.sources import parquet as pq_src

    tz = tmp_path / "events_tz.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns", tz="UTC"))}),
        str(tz),
    )
    pq_src._TS_NANOS_CACHE.pop(str(tz), None)
    assert pq_src.events_ts_is_nanos(str(tz)) is True

    nots = tmp_path / "no_ts.parquet"
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), str(nots))
    pq_src._TS_NANOS_CACHE.pop(str(nots), None)
    assert pq_src.events_ts_is_nanos(str(nots)) is False


def test_bloom_never_false_negative_property(spark):
    """∀ random key sets: every TRUE member of the built set passes
    the bloom probe — the no-false-negative guarantee must hold for
    arbitrary keys, not just the fixture split (false positives are
    allowed and expected at saturation)."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.operators.bloom import bloom_build, bloom_probe

    batches: list[list[str]] = []

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abcdefghij0123456789|", min_size=1, max_size=24),
            min_size=1,
            max_size=40,
            unique=True,
        )
    )
    def collect(keys):
        batches.append(keys)

    collect()
    # one Spark pass per generated set is too slow; tag and union
    rows = [
        (i, k) for i, keys in enumerate(batches) for k in keys
    ]
    df = spark.createDataFrame(rows, "set_id int, key string")
    for set_id in {r[0] for r in rows[:: max(1, len(rows) // 8)]}:
        keys = df.filter(df.set_id == set_id).select("key")
        bits = bloom_build(keys)
        probed = bloom_probe(keys, bits)  # probe the members themselves
        assert probed.filter(probed.bloom_pass != 1).count() == 0


def test_winnowing_guarantee_property(spark):
    """∀ random docs with a planted shared run of >= k + w - 1 tokens
    at arbitrary positions: the candidate-pair stage detects every
    planted pair (the SIGMOD'03 guarantee over generated inputs, not
    just the hand-built fixture)."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.operators.winnow import WIN_K, WIN_W, winnow_candidate_pairs

    run_len = WIN_K + WIN_W - 1
    cases: list[tuple[int, int, int, int]] = []

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(0, 12),  # prefix length doc A
        st.integers(0, 12),  # suffix length doc A
        st.integers(0, 12),  # prefix length doc B
        st.integers(0, 12),  # suffix length doc B
    )
    def collect(pa, sa, pb, sb):
        cases.append((pa, sa, pb, sb))

    collect()
    docs = []
    for idx, (pa, sa, pb, sb) in enumerate(cases):
        run = " ".join(f"run{idx}_{i}" for i in range(run_len))
        a = " ".join(
            [f"a{idx}_{i}" for i in range(pa)]
            + [run]
            + [f"x{idx}_{i}" for i in range(sa)]
        )
        b = " ".join(
            [f"b{idx}_{i}" for i in range(pb)]
            + [run]
            + [f"y{idx}_{i}" for i in range(sb)]
        )
        docs.append((2 * idx, a))
        docs.append((2 * idx + 1, b))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnow_candidate_pairs(df, min_shared=1).collect()
    }
    for idx in range(len(cases)):
        assert (2 * idx, 2 * idx + 1) in pairs, f"case {idx} missed"


def test_cms_overestimate_property(spark):
    """∀ random multisets: the count-min estimate is >= the exact
    count for EVERY key (the sketch's hard guarantee over generated
    streams, not just the fixture vocabulary)."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.operators.sketches import cms_estimate, cms_grid

    batches: list[list[tuple[str, int]]] = []

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.text(alphabet="abcxyz", min_size=1, max_size=6),
                st.integers(min_value=1, max_value=30),
            ),
            min_size=1,
            max_size=15,
        )
    )
    def collect(pairs):
        batches.append(pairs)

    collect()
    for pairs in batches[:: max(1, len(batches) // 4)]:
        counts: dict[str, int] = {}
        for w, c in pairs:
            counts[w] = counts.get(w, 0) + c
        rows = [(w,) for w, c in counts.items() for _ in range(c)]
        tokens = spark.createDataFrame(rows, "token string")
        grid = cms_grid(tokens)
        probes = spark.createDataFrame([(w,) for w in counts], "token string")
        est = {r.token: r.est_n for r in cms_estimate(probes, grid).collect()}
        for w, c in counts.items():
            assert est[w] >= c


def test_bm25_matches_python_reference_property(spark):
    """∀ random tiny corpora + a random query: the Spark BM25 scores
    equal a direct Python reimplementation of the documented formula
    (same literals, same IEEE op order, same 1e-9 floor-quantization)
    — a third engine agreeing with the Spark/DuckDB pair."""
    import math

    from hypothesis import given, settings, strategies as st

    from jobminer_spark.data.skill_dictionary import values_df
    from jobminer_spark.operators.retrieval import (
        _BM25_QUANT,
        BM25_B,
        BM25_K1,
        bm25_topk,
    )

    word = st.sampled_from(["red", "blue", "green", "bolt", "nut", "gear"])
    corpora: list[tuple[list[str], list[str]]] = []

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.lists(word, min_size=1, max_size=12).map(" ".join),
            min_size=1,
            max_size=8,
        ),
        st.lists(word, min_size=1, max_size=3, unique=True),
    )
    def collect(texts, terms):
        corpora.append((texts, terms))

    collect()
    for texts, terms in corpora[:: max(1, len(corpora) // 4)]:
        docs = values_df(
            spark, list(enumerate(texts)), ["doc_id", "text"]
        )
        qterms = values_df(spark, [(0, t) for t in terms], ["query_id", "term"])
        got = {
            r.doc_id: round(r.score * _BM25_QUANT)
            for r in bm25_topk(docs, qterms, k=100).collect()
        }
        # Python reference with the identical arithmetic
        ws = {d: t.split(" ") for d, t in enumerate(texts)}
        n = len(ws)
        dls = {d: len(w) for d, w in ws.items()}
        avgdl = sum(dls.values()) / n
        expect: dict[int, int] = {}
        for d, w in ws.items():
            s = 0
            for t in terms:
                f = w.count(t)
                if f == 0:
                    continue
                dfv = float(sum(1 for w2 in ws.values() if t in w2))
                idf = (float(n) - dfv + 0.5) / (dfv + 0.5)
                sat = (float(f) * (BM25_K1 + 1.0)) / (
                    float(f)
                    + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (float(dls[d]) / avgdl))
                )
                s += math.floor(idf * sat * float(_BM25_QUANT))
            if s:
                expect[d] = s
        assert got == expect


def test_pagerank_permutation_equivariance_property(spark):
    """∀ random graphs: relabeling every node through an injective map
    permutes the PageRank scores identically — the scores depend only
    on structure, never on label order (no hidden tiebreak)."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.operators.graphrank import pagerank_integer

    graphs: list[list[tuple[int, int]]] = []

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
                lambda e: e[0] != e[1]
            ),
            min_size=1,
            max_size=12,
        )
    )
    def collect(edges):
        graphs.append(edges)

    collect()
    perm = lambda x: (7 * x + 3) % 97  # injective on [0, 12]
    for edges in graphs[:: max(1, len(graphs) // 3)]:
        base = spark.createDataFrame(edges, "doc_a long, doc_b long")
        mapped = spark.createDataFrame(
            [(perm(a), perm(b)) for a, b in edges], "doc_a long, doc_b long"
        )
        got = {r.doc_id: r.pr_q for r in pagerank_integer(base).collect()}
        got_m = {r.doc_id: r.pr_q for r in pagerank_integer(mapped).collect()}
        assert got_m == {perm(d): r for d, r in got.items()}


def test_bpe_matches_python_reference_property(spark):
    """∀ random tiny type tables: the Spark BPE trainer learns the
    IDENTICAL merge sequence (pair, count, order) as a direct Python
    implementation of classic BPE (overlap-inclusive counting,
    (count DESC, pair ASC) tiebreak, greedy left-to-right merge) —
    a third engine agreeing with the Spark/DuckDB pair."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.data.skill_dictionary import values_df
    from jobminer_spark.operators.bpe import _initial_seqs, bpe_train

    def bpe_py(freqs, rounds):
        seqs = {w: [*w, "</w>"] for w in freqs}
        merges = []
        for k in range(1, rounds + 1):
            counts = {}
            for w, f in freqs.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((k, l, r, l + r, c))
            for w, s in seqs.items():
                out, i = [], 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges

    tables: list[list[tuple[str, int]]] = []

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.text(alphabet="abcde", min_size=1, max_size=7),
                st.integers(min_value=1, max_value=40),
            ),
            min_size=1,
            max_size=10,
            unique_by=lambda p: p[0],
        )
    )
    def collect(pairs):
        tables.append(pairs)

    collect()
    for pairs in tables[:: max(1, len(tables) // 3)]:
        types = values_df(spark, pairs, ["word", "freq"])
        got = bpe_train(types, n_rounds=5)
        expect = bpe_py(dict(pairs), rounds=5)
        assert got == expect


def test_scd2_matches_python_reference_property(spark):
    """∀ random change histories (nulls included): the Spark SCD2
    kernel equals a direct Python implementation of null-safe run
    segmentation + interval stitching — a third engine agreeing with
    the Spark/DuckDB pair."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.operators.scd import scd2_history

    histories: list[list[tuple[int, int | None]]] = []

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 3),  # user_id
                st.one_of(st.none(), st.integers(0, 2)),  # k (few values)
            ),
            min_size=1,
            max_size=20,
        )
    )
    def collect(rows):
        histories.append(rows)

    collect()

    def scd2_py(rows):
        by_user: dict[int, list[tuple[int, int, int | None]]] = {}
        for eid, (u, k) in enumerate(rows):
            by_user.setdefault(u, []).append((eid * 10, eid, k))  # tus, id, k
        out = set()
        for u, evs in by_user.items():
            evs.sort()
            runs = []
            prev = object()
            for tus, eid, k in evs:
                if k != prev:
                    runs.append((tus, eid, k))
                prev = k
            for i, (tus, eid, k) in enumerate(runs):
                nxt = runs[i + 1][0] if i + 1 < len(runs) else None
                out.add((u, k, tus, nxt, 1 if nxt is None else 0, eid))
        return out

    for rows in histories[:: max(1, len(histories) // 4)]:
        ev = spark.createDataFrame(
            [(u, eid, eid * 10, k) for eid, (u, k) in enumerate(rows)],
            "user_id long, event_id long, tus long, k long",
        )
        got = {
            tuple(r) for r in scd2_history(ev, keep_event_id=True).collect()
        }
        assert got == scd2_py(rows)


def test_session_paths_match_python_reference_property(spark):
    """∀ random per-user event streams: the session split + ordered
    path strings equal a direct Python sessionizer (5-minute gap,
    (tus, event_id) total order)."""
    from hypothesis import given, settings, strategies as st

    from jobminer_spark.operators.journeys import _PATH_GAP_US

    cases: list[list[tuple[int, int]]] = []

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 2),                       # user
                st.integers(0, 40),                      # minute offset
            ),
            min_size=1,
            max_size=16,
        )
    )
    def collect(rows):
        cases.append(rows)

    collect()
    types = ["view", "click", "purchase"]
    for rows in cases[:: max(1, len(cases) // 4)]:
        evs = [
            (u, eid, minute * 60_000_000, types[eid % 3])
            for eid, (u, minute) in enumerate(rows)
        ]
        # Python sessionizer
        by_user: dict[int, list] = {}
        for u, eid, tus, et in evs:
            by_user.setdefault(u, []).append((tus, eid, et))
        expected: dict[str, int] = {}
        for u, lst in by_user.items():
            lst.sort()
            sessions, cur, last = [], [], None
            for tus, eid, et in lst:
                if last is not None and tus - last > _PATH_GAP_US:
                    sessions.append(cur)
                    cur = []
                cur.append(et)
                last = tus
            sessions.append(cur)
            for sess in sessions:
                p = ">".join(sess)
                expected[p] = expected.get(p, 0) + 1
        # Spark side: reuse the registered query's plan over a temp view
        # by rebuilding the same pipeline on a constructed frame
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        ev = spark.createDataFrame(
            evs, "user_id long, event_id long, tus long, event_type string"
        )
        w = W.partitionBy("user_id").orderBy("tus", "event_id")
        flagged = ev.withColumn(
            "ns",
            F.when(
                F.lag("tus").over(w).isNull()
                | (F.col("tus") - F.lag("tus").over(w) > _PATH_GAP_US),
                1,
            ).otherwise(0),
        )
        sess = flagged.withColumn(
            "sid",
            F.sum("ns").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        paths = sess.groupBy("user_id", "sid").agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "tus", "event_id", F.col("event_type").alias("t")
                            )
                        )
                    ),
                    lambda p: p["t"],
                ),
            ).alias("path")
        )
        got = {
            r["path"]: r["n"]
            for r in paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == expected


def _write_events(spark, d, rows):
    """rows: (event_id, ts_us, user_id, event_type, value). Writes a
    fixture-shaped events.parquet under directory d — via pyarrow
    with an explicit timestamp[us] column (a Spark write would emit
    INT96, which pyarrow reads back as nanos and the footer probe
    would then take the nanos-as-long branch)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(list(cols[1]), pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    papq.write_table(table, str(d / "events.parquet"))


def _py_dyngap_sessions(rows):
    """Union-of-ranges twin (CLOSED ranges, matching Spark): gap
    30 min for purchase else 10 min; break when tus lies STRICTLY
    past the running max of previous ends."""
    import collections

    GAP = {"purchase": 1800_000_000}
    out = []
    per_user = collections.defaultdict(list)
    for e, t, u, et, _v in rows:
        per_user[u].append((t, e, et))
    for u, evs in per_user.items():
        evs.sort()
        max_end = None
        cur_start, cur_n = None, 0
        for t, _e, et in evs:
            if max_end is None or t > max_end:
                if cur_start is not None:
                    out.append((u, cur_start, cur_n))
                cur_start, cur_n = t, 0
                max_end = None
            cur_n += 1
            end = t + GAP.get(et, 600_000_000)
            max_end = end if max_end is None else max(max_end, end)
        out.append((u, cur_start, cur_n))
    return sorted(out)


def test_dynamic_gap_sessions_adversarial_boundaries(spark, tmp_path):
    """Hand-adversarial cases the fixture never hits: a purchase
    extending past an intermediate short-gap event (running-max, not
    lag), an event at EXACTLY start+gap (must break — ranges are
    half-open), one microsecond inside (must merge), and same-instant
    ties (must land in one session deterministically)."""
    from jobminer_spark.operators.dyngap import dynamic_gap_sessions

    M = 1_000_000
    rows = [
        # user 1: purchase@0 (end 1800s), view@700s (end 1300s),
        # view@1500s — inside the PURCHASE's range though past the
        # view's: one session iff running-max semantics
        (1, 0, 1, "purchase", 1.0),
        (2, 700 * M, 1, "view", 1.0),
        (3, 1500 * M, 1, "view", 1.0),
        # user 2: exact boundary — view@0, view@600s MERGES (Spark's
        # session ranges are closed); one microsecond past breaks
        (4, 0, 2, "view", 1.0),
        (5, 600 * M, 2, "view", 1.0),
        # user 3: one microsecond PAST the boundary — two sessions
        (6, 0, 3, "view", 1.0),
        (7, 600 * M + 1, 3, "view", 1.0),
        # user 4: same-instant tie plus a follower
        (8, 0, 4, "view", 1.0),
        (9, 0, 4, "click", 1.0),
        (10, 300 * M, 4, "view", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = sorted(
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in dynamic_gap_sessions(spark, str(tmp_path)).collect()
    )
    assert got == _py_dyngap_sessions(rows)
    assert (1, 0, 3) in got  # running-max merge
    assert (2, 0, 2) in got  # exact-boundary merge (closed ranges)
    assert (3, 0, 1) in got and (3, 600 * M + 1, 1) in got  # just-past break
    assert (4, 0, 3) in got  # tie handled, one session


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(0, 50_000),  # seconds offset
            st.integers(0, 4),  # value index
        ),
        min_size=35,
        max_size=60,
    )
)
def test_trailing_zscore_random_series_matches_python_inner(data):
    """Collect generated series for the batched Spark check below —
    hypothesis generates, the property is verified in pure Python
    both here and (for one representative series) through Spark in
    test_trailing_zscore_generated_series_via_spark."""
    # pure-python consistency of the cross-multiplied test: z^2 > 9
    # iff |x - mean| > 3*sigma (up to quantization), checked exactly
    vals = [100 + 37 * v for _t, v in data]
    n, s, ss = len(vals), sum(vals), sum(v * v for v in vals)
    for x in vals:
        lhs = (n * x - s) ** 2
        rhs = 9 * (n * ss - s * s)
        num = abs(n * x - s)
        # cross-multiplication is exactly the |z|>3 predicate
        assert (lhs > rhs) == (num * num > 9 * (n * ss - s * s))


def test_trailing_zscore_generated_series_via_spark(spark, tmp_path):
    """A spike-bearing generated series through the REAL query: the
    Spark result equals the rolling python twin, and the planted
    spike (far outside the baseline) is detected."""
    import math

    from jobminer_spark.operators.anomaly import (
        BASELINE_ROWS,
        MIN_BASELINE,
        VAL_QUANT,
        Z_THRESHOLD,
        trailing_zscore_outliers,
    )

    M = 1_000_000
    rows = []
    eid = 0
    for i in range(60):
        eid += 1
        # stable baseline with mild wiggle, one huge spike at i==50
        v = 100.0 + (i % 7) * 0.5 + (5000.0 if i == 50 else 0.0)
        rows.append((eid, i * 60 * M, 1, "view", v))
    _write_events(spark, tmp_path, rows)
    got = {
        (r["event_id"], r["n_baseline"])
        for r in trailing_zscore_outliers(spark, str(tmp_path)).collect()
    }
    # python twin
    expect = set()
    hist = []
    for e, _t, _u, _et, v in rows:
        xq = int(math.floor(v * VAL_QUANT))
        h = hist[-BASELINE_ROWS:]
        n, s, ss = len(h), sum(h), sum(q * q for q in h)
        if n >= MIN_BASELINE and (n * xq - s) ** 2 > Z_THRESHOLD**2 * (
            n * ss - s * s
        ):
            expect.add((e, n))
        hist.append(xq)
    assert got == expect
    assert any(e == 51 for e, _n in got)  # the spike event fired


def test_trailing_zscore_zero_variance_baseline(spark, tmp_path):
    """Degenerate baseline: 40 identical values then a deviant — the
    cross-multiplied test must fire (den = 0, num != 0 encodes an
    infinite z), while another identical value (num = 0) must not."""
    from jobminer_spark.operators.anomaly import trailing_zscore_outliers

    M = 1_000_000
    rows = [(i + 1, i * 60 * M, 1, "view", 250.0) for i in range(40)]
    rows.append((41, 40 * 60 * M, 1, "view", 251.0))   # deviant: fires
    rows.append((42, 41 * 60 * M, 1, "view", 250.0))   # conforming: silent
    _write_events(spark, tmp_path, rows)
    got = {r["event_id"] for r in
           trailing_zscore_outliers(spark, str(tmp_path)).collect()}
    assert 41 in got
    assert 42 not in got  # its baseline regained variance but z is tiny


def test_trailing_range_window_hour_boundary(spark, tmp_path):
    """The RANGE frame is (t - 1h, t]: an event EXACTLY one hour old
    is excluded, one microsecond younger is included, and same-instant
    events are RANGE peers (each counts the other). Python twin over a
    crafted fixture; both engines' inclusive-frame semantics collapse
    to this via the HOUR_US - 1 preceding bound."""
    from jobminer_spark.operators.timegrid import HOUR_US, trailing_1h_range_totals

    M = 1_000_000
    rows = [
        # user 1: exact-hour pair — the old event is OUT of the frame
        (1, 0, 1, "view", 1.0),
        (2, HOUR_US, 1, "view", 1.0),
        # user 2: one microsecond inside — both in frame
        (3, 0, 2, "view", 1.0),
        (4, HOUR_US - 1, 2, "view", 1.0),
        # user 3: same-instant peers — each sees both
        (5, 0, 3, "view", 1.0),
        (6, 0, 3, "view", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: (r["n_events"], r["sum_trailing"], r["max_trailing_n"])
        for r in trailing_1h_range_totals(spark, str(tmp_path)).collect()
    }
    vq = 1_000_000  # floor(1.0 * 1e6)
    # user1 trail sums: vq + vq (hour-old event excluded) = 2vq;
    # user2: vq + 2vq = 3vq; user3 peers: 2vq + 2vq = 4vq → 9vq total
    assert got == {"view": (6, 9 * vq, 2)}


# ---------------------------------------------------------------------------
# Decimal→double determinism (r11): the VARCHAR-bounce recipe
# ---------------------------------------------------------------------------


def _random_decimal_strings(seed, n, scale):
    import random

    rng = random.Random(seed)
    vals = []
    for _ in range(n):
        intpart = rng.randint(0, 10 ** rng.randint(0, 38 - scale - 1))
        frac = rng.randint(0, 10**scale - 1)
        v = f"{intpart}.{frac:0{scale}d}"
        if rng.random() < 0.3:
            v = "-" + v
        vals.append(v)
    return vals


def test_decimal_double_string_route_parity(spark, ddb):
    """The canonical oracle recipe — CAST(CAST(d AS VARCHAR) AS DOUBLE)
    — must be bit-identical across DuckDB, Spark, and Python's
    correctly-rounded Decimal→float, at every scale the repo uses."""
    from decimal import Decimal

    for scale in (6, 12, 18):
        vals = _random_decimal_strings(scale * 101, 200, scale)
        rows = ",".join(f"('{v}')" for v in vals)
        duck = ddb.execute(
            f"SELECT CAST(CAST(CAST(v AS DECIMAL(38,{scale})) AS VARCHAR)"
            f" AS DOUBLE) FROM (VALUES {rows}) t(v)"
        ).fetchall()
        sp = spark.sql(
            f"SELECT CAST(CAST(CAST(v AS DECIMAL(38,{scale})) AS STRING)"
            f" AS DOUBLE) FROM (VALUES {rows}) t(v)"
        ).collect()
        for v, d, s in zip(vals, duck, sp):
            ref = float(Decimal(v))
            assert d[0] == s[0] == ref, (scale, v, d[0], s[0], ref)


def test_duckdb_direct_decimal_cast_still_misrounds(ddb):
    """Canary for WHY the bounce exists: DuckDB's direct
    DECIMAL(38,18)→DOUBLE cast misrounds a substantial fraction of
    random values (76/300 measured at adoption). If a DuckDB upgrade
    fixes the cast, this canary flips and the bounce can be retired."""
    from decimal import Decimal

    vals = _random_decimal_strings(7, 300, 18)
    rows = ",".join(f"('{v}')" for v in vals)
    duck = ddb.execute(
        f"SELECT CAST(CAST(v AS DECIMAL(38,18)) AS DOUBLE)"
        f" FROM (VALUES {rows}) t(v)"
    ).fetchall()
    bad = sum(1 for v, d in zip(vals, duck) if d[0] != float(Decimal(v)))
    assert bad > 0, (
        "DuckDB's direct decimal→double cast appears correctly rounded "
        "now — the VARCHAR bounce in the oracles can be simplified away"
    )


def test_double_to_decimal_conversion_rule(spark, ddb):
    """The safety rule for casting a COMPUTED double to DECIMAL in an
    oracle: engines agree iff |x|·10^scale < 2^53 (both then compute
    the scaled integer exactly). Scale 6 over price-magnitude values
    agrees 100%; scale 18 diverges on most values (DuckDB scales in
    double precision, Spark expands the exact binary decimal) — which
    is why centroid norms quantize with FLOOR instead of casting
    (similarity.py r11) and why the tpch decimal(38,6) casts are
    safe as long as per-row magnitudes stay under 2^53/1e6 ≈ 9e9."""
    import random
    from decimal import Decimal

    rng = random.Random(3)
    vals = [
        repr(rng.uniform(900.0, 105000.0) * (1 - rng.choice([i / 100 for i in range(11)])))
        for _ in range(300)
    ]
    rows = ",".join(f"({v})" for v in vals)
    d6 = ddb.execute(
        f"SELECT CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6)) AS VARCHAR)"
        f" FROM (VALUES {rows}) t(v)"
    ).fetchall()
    s6 = spark.sql(
        f"SELECT CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6)) AS STRING)"
        f" FROM (VALUES {rows}) t(v)"
    ).collect()
    assert all(Decimal(a[0]) == Decimal(b[0]) for a, b in zip(d6, s6))

    # canary: scale 18 diverges — if this starts passing, the rule
    # (and the centroid quantization workaround) can be revisited
    d18 = ddb.execute(
        f"SELECT CAST(CAST(CAST(v AS DOUBLE)/77777.0 AS DECIMAL(38,18)) AS VARCHAR)"
        f" FROM (VALUES {rows}) t(v)"
    ).fetchall()
    s18 = spark.sql(
        f"SELECT CAST(CAST(CAST(v AS DOUBLE)/77777.0D AS DECIMAL(38,18)) AS STRING)"
        f" FROM (VALUES {rows}) t(v)"
    ).collect()
    n_diverge = sum(1 for a, b in zip(d18, s18) if Decimal(a[0]) != Decimal(b[0]))
    assert n_diverge > 0


@_settings
@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=2, max_value=9),
    st.integers(min_value=0, max_value=10**6),
)
def test_ntile_from_rank_matches_reference(n, k, seed):
    """The shared ntile arithmetic (rfm._ntile_from_rank) must agree
    with the NTILE contract for every (n, k), including n < k: the
    first n % k buckets get n//k + 1 rows, the rest n//k. Reference
    computed in pure Python; the Column expression is evaluated via
    pandas-free local relation once per example batch below (the
    Spark-side evaluation itself is covered by
    test_distributed_ranks_equal_global_row_number and the oracle
    hash gate) — here we pin the FORMULA's integer math."""

    def ref_ntile(rank: int, n: int, k: int) -> int:
        small = n // k
        rem = n % k
        cut = rem * (small + 1)
        if rank <= cut:
            return (rank - 1) // (small + 1) + 1
        return rem + (rank - cut - 1) // max(small, 1) + 1

    # the reference itself must satisfy the NTILE contract
    sizes: dict[int, int] = {}
    for r in range(1, n + 1):
        b = ref_ntile(r, n, k)
        sizes[b] = sizes.get(b, 0) + 1
    buckets = sorted(sizes)
    assert buckets == list(range(1, min(n, k) + 1))
    small, rem = n // k, n % k
    for b, c in sizes.items():
        assert c == (small + 1 if b <= rem else small)
    # monotone: ranks map to non-decreasing buckets
    assert all(
        ref_ntile(r, n, k) <= ref_ntile(r + 1, n, k) for r in range(1, n)
    )


def test_ntile_from_rank_column_matches_reference_sampled(spark):
    """The Column spelling of _ntile_from_rank evaluated in Spark
    equals the pure-Python reference over a (n, k) sample that covers
    the n < k, n % k = 0, and n % k > 0 regimes."""
    import pyspark.sql.functions as F

    from jobminer_spark.operators.rfm import _ntile_from_rank

    def ref_ntile(rank: int, n: int, k: int) -> int:
        small, rem = n // k, n % k
        cut = rem * (small + 1)
        if rank <= cut:
            return (rank - 1) // (small + 1) + 1
        return rem + (rank - cut - 1) // max(small, 1) + 1

    for n, k in [(1, 5), (3, 5), (5, 5), (7, 5), (100, 5), (101, 7), (12, 3)]:
        got = {
            r["rn"]: r["b"]
            for r in spark.range(1, n + 1)
            .select(
                F.col("id").alias("rn"),
                _ntile_from_rank(
                    F.col("id"), F.lit(n).cast("long"), k
                ).alias("b"),
            )
            .collect()
        }
        want = {r: ref_ntile(r, n, k) for r in range(1, n + 1)}
        assert got == want, (n, k)


def test_distributed_prefix_matches_python_cumsum(spark):
    """rfm._distributed_prefix (the scale plan behind the RFM ranks
    and the drift ECDFs) equals a plain Python cumulative sum under
    the same order, across several partition counts — including
    partitions left empty by the range partitioner."""
    import pyspark.sql.functions as F

    from jobminer_spark.operators.rfm import _distributed_prefix

    rows = [(i, (i * 37) % 101, (i % 7) - 3) for i in range(500)]
    want = {}
    run_a = run_b = 0
    for i, a, b in sorted(rows, key=lambda r: r[0]):
        run_a += a
        run_b += b
        want[i] = (run_a, run_b)
    df = spark.createDataFrame(rows, "k long, a long, b long")
    for n_part in (1, 3, 32):
        got = {
            r["k"]: (r["ca"], r["cb"])
            for r in _distributed_prefix(
                df.repartition(n_part),
                [F.col("k").asc()],
                {"a": "ca", "b": "cb"},
            ).collect()
        }
        assert got == want, n_part


def test_ngram_rows_matches_python_split_windows_property(spark):
    """∀ texts over an adversarial alphabet (spaces, tabs, non-ASCII,
    empty and all-space strings, docs shorter than n): ngram_rows
    emits exactly the multiset of ' '-joined n-token windows of
    Python's ``text.split(' ')``, for n = 1..5; NULL texts emit
    nothing. One Spark job per n over every generated case."""
    from collections import Counter

    from jobminer_spark.operators.common import ngram_rows

    texts: list[str | None] = [
        "", " ", "   ", "a  b", " a", "a ", "\t", "a\tb c", "é 漢字 😀",
        None,
    ]

    @settings(max_examples=60, deadline=None)
    @given(
        st.one_of(
            st.text(alphabet=" ab\té漢😀", max_size=24),
            st.lists(
                st.sampled_from(["", "a", "b", "\t", "é", "漢字", "😀"]),
                max_size=8,
            ).map(" ".join),
        )
    )
    def collect(t):
        texts.append(t)

    collect()
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for n in range(1, 6):
        want = Counter(
            (i, " ".join(w[k : k + n]))
            for i, t in enumerate(texts)
            if t is not None
            for w in [t.split(" ")]
            for k in range(len(w) - n + 1)
        )
        got = Counter((r.doc_id, r.shingle) for r in ngram_rows(df, n).collect())
        assert got == want, n


def test_posting_pairs_matches_combinations_property(spark):
    """∀ sorted id lists of length 0, 1, 2 and up to the df cap, with
    bigint and with string ids: posting_pairs emits exactly
    ``itertools.combinations(ds, 2)`` per list (the upper triangle)."""
    from collections import Counter
    from itertools import combinations

    from jobminer_spark.operators.common import posting_pairs
    from jobminer_spark.operators.dedupe import SHINGLE_MAX_DF

    lists: list[list[int]] = [[], [7], [3, 9], list(range(SHINGLE_MAX_DF))]

    @settings(max_examples=25, deadline=None)
    @given(st.sets(st.integers(-(2**40), 2**40), max_size=SHINGLE_MAX_DF))
    def collect(ids):
        lists.append(sorted(ids))

    collect()
    for elem, cases in (
        ("bigint", lists),
        ("string", [sorted(str(v) for v in ds) for ds in lists]),
    ):
        idx = spark.createDataFrame(
            list(enumerate(cases)), f"k int, ds array<{elem}>"
        )
        want = Counter(p for ds in cases for p in combinations(ds, 2))
        got = Counter((r.doc_a, r.doc_b) for r in posting_pairs(idx).collect())
        assert got == want, elem
