"""Rank-identity: both Spark scorer paths vs the exhaustive numpy oracle
across the full reference query set (FIXTURES.md §2)."""

import numpy as np
import pandas as pd
import pytest

from harvester_spark.fixtures.corpus import KEYWORDS, QUERY_SET
from harvester_spark.fixtures.oracle import OracleBM25
from harvester_spark.operators.bm25 import (query_topk_dataframe,
                                            query_topk_index, tokenize_query)


@pytest.fixture(scope="module")
def oracle(corpus_df):
    local = corpus_df.select("doc_id", "content").toPandas()
    return OracleBM25(local, content_col="content")


def assert_rank_identical(got, want, label=""):
    assert list(got["doc_id"]) == list(want["doc_id"]), label
    if len(want):
        np.testing.assert_allclose(got["score"].to_numpy(),
                                   want["score"].to_numpy(),
                                   rtol=1e-6, err_msg=label)


# a query wider than the single-projection scorer's per-term column cap
# (bm25._SCORES_MAX_TF_COLS = 32): it runs the token-array scorer, which
# has no other oracle check; kept out of QUERY_SET, which bench_scaling.py
# times
WIDE_QUERY = " ".join(KEYWORDS[:30] + [f"ident_{i}" for i in range(6)]
                      + [f"zzz_wide_absent_{i}" for i in range(4)])


@pytest.mark.parametrize(
    "query,k", QUERY_SET + [pytest.param(WIDE_QUERY, 10, id="wide-40-terms")])
def test_dataframe_scorer_rank_identity(corpus_df, oracle, query, k):
    got = query_topk_dataframe(corpus_df, query, k).toPandas()
    want = oracle.topk(tokenize_query(query), k)
    assert_rank_identical(got, want, f"df-scorer {query!r}")


@pytest.mark.parametrize("query,k", QUERY_SET)
def test_index_scorer_rank_identity(spark, index_dir, oracle, query, k):
    # default path (driver fast path at this corpus size)
    got = query_topk_index(spark, index_dir, query, k).toPandas()
    want = oracle.topk(tokenize_query(query), k)
    assert_rank_identical(got, want, f"index-scorer {query!r}")
    # distributed path must be rank-identical too
    got_d = query_topk_index(spark, index_dir, query, k,
                             small_query_postings=0).toPandas()
    assert_rank_identical(got_d, want, f"index-scorer-dist {query!r}")


@pytest.mark.parametrize("query,k", QUERY_SET)
def test_index_scorer_pruning_equals_exhaustive(spark, index_dir, query, k):
    # small_query_postings=0 forces the DISTRIBUTED decode+prune path
    # (the tiny test corpus would otherwise take the driver fast path)
    pruned = query_topk_index(spark, index_dir, query, k, prune=True,
                              small_query_postings=0).toPandas()
    full = query_topk_index(spark, index_dir, query, k, prune=False,
                            small_query_postings=0).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    np.testing.assert_allclose(pruned["score"], full["score"], rtol=0)


@pytest.mark.parametrize("query,k", QUERY_SET)
def test_local_serving_rank_identity(spark, index_dir, oracle, query, k):
    """Driver-side serving path must match the oracle exactly too."""
    from harvester_spark.operators.bm25 import open_index
    if not hasattr(test_local_serving_rank_identity, "_handle"):
        test_local_serving_rank_identity._handle = open_index(spark, index_dir)
    h = test_local_serving_rank_identity._handle
    got = h.topk_local(query, k)
    want = oracle.topk(tokenize_query(query), k)
    assert_rank_identical(got, want, f"local-serving {query!r}")


def test_local_serving_is_fast_when_warm(spark, index_dir):
    import time
    from harvester_spark.operators.bm25 import open_index
    h = open_index(spark, index_dir)
    h.topk_local("import def", 10)  # cold: collects term postings
    t0 = time.time()
    for _ in range(20):
        h.topk_local("import def", 10)
    per_query = (time.time() - t0) / 20
    assert per_query < 0.05, f"warm local serving took {per_query:.3f}s"


def test_and_mode(spark, corpus_df, index_dir, oracle):
    q, k = "import ident_3", 10
    want = oracle.topk(tokenize_query(q), k, mode="and")
    got_df = query_topk_dataframe(corpus_df, q, k, mode="and").toPandas()
    got_ix = query_topk_index(spark, index_dir, q, k, mode="and").toPandas()
    assert_rank_identical(got_df, want, "and df")
    assert_rank_identical(got_ix, want, "and index")


@pytest.mark.parametrize("q", ["import ident_3", "def class return",
                               "self import", "value data result"])
def test_and_mode_conjunctive_pruning_exact(spark, index_dir, oracle, q):
    """Rarest-term range pruning must stay exact (membership + scores)."""
    want = oracle.topk(tokenize_query(q), 20, mode="and")
    pruned = query_topk_index(spark, index_dir, q, 20, mode="and",
                              prune=True, small_query_postings=0).toPandas()
    full = query_topk_index(spark, index_dir, q, 20, mode="and",
                            prune=False, small_query_postings=0).toPandas()
    assert_rank_identical(pruned, want, f"and-pruned {q!r}")
    assert list(pruned["doc_id"]) == list(full["doc_id"])


def test_and_mode_absent_term_empty(spark, corpus_df, index_dir):
    q = "import zzz_absent_term"
    assert query_topk_dataframe(corpus_df, q, 5, mode="and").count() == 0
    assert query_topk_index(spark, index_dir, q, 5, mode="and").count() == 0


def test_absent_term_query_launches_no_job(spark, index_dir):
    """An absent-term query answers from the dictionary segment with an
    empty local relation: collecting it runs no Spark job, and the result
    keeps SCORE_SCHEMA."""
    from harvester_spark.operators.bm25 import SCORE_SCHEMA

    sc = spark.sparkContext
    group = "absent-term-query"
    for q, mode in (("qqqzzz_absent", "or"), ("import qqqzzz_absent", "and")):
        sc.setJobGroup(group, "absent-term query")
        try:
            res = query_topk_index(spark, index_dir, q, 5, mode=mode)
            assert res.collect() == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res.schema == SCORE_SCHEMA
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("q,k", QUERY_SET)
@pytest.mark.parametrize("mode", ["or", "and"])
def test_small_queries_launch_no_job_and_agree(spark, index_dir, q, k, mode):
    """Small queries run one driver chain (pyarrow read → block decode →
    top-k scorer) on both query paths: the serving path on a fresh handle
    (cold term cache), the Spark path opened by path and on a handle all
    launch no Spark job — opening included — and return the same ids with
    bit-equal scores. ``metrics_out`` does not move a query off that
    chain. On a warm handle (``topk_local`` first) the Spark path answers
    from the term cache: no block read, the same answer and block
    counts."""
    from harvester_spark.operators.bm25 import open_index

    sc = spark.sparkContext
    group = f"small-query-{mode}-{q}"
    m: dict = {}
    m_warm: dict = {}
    reads = []
    sc.setJobGroup(group, "small query")
    try:
        local = open_index(spark, index_dir).topk_local(q, k, mode=mode)
        by_path = query_topk_index(spark, index_dir, q, k,
                                   mode=mode).collect()
        by_handle = query_topk_index(spark, open_index(spark, index_dir), q,
                                     k, mode=mode, metrics_out=m).collect()
        warm = open_index(spark, index_dir)
        warm.topk_local(q, k, mode=mode)
        read = warm._read_blocks
        warm._read_blocks = lambda terms: reads.append(terms) or read(terms)
        by_warm = query_topk_index(spark, warm, q, k, mode=mode,
                                   metrics_out=m_warm).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert reads == []
    for rows in (by_path, by_handle, by_warm):
        assert [r["doc_id"] for r in rows] == list(local["doc_id"])
        np.testing.assert_allclose([r["score"] for r in rows],
                                   local["score"].to_numpy(), rtol=0)
    assert m_warm == m
    if m:  # a query with no present term returns before any block read
        assert m["blocks_scored"] == m["blocks_total"] > 0
        assert m["block_skip_ratio"] == 0.0


def test_postings_read_with_known_schema(spark, corpus_df, tmp_path,
                                         pin_distributed):
    """``IndexHandle.postings`` reads with ``POSTINGS_SCHEMA``: on a driver
    build and on a distributed build it equals the inferred read row for
    row, opening it launches no job, and the first pruned query on a fresh
    handle launches one job fewer than with the inferred read (its schema
    inference job)."""
    from harvester_spark import tables
    from harvester_spark.operators.bm25 import open_index
    from harvester_spark.operators.index_build import IndexConfig, build_index

    cfg = IndexConfig(salt_df_threshold=50, salt_range_docs=100,
                      block_size=32)
    build_index(spark, corpus_df, tmp_path / "drv", cfg=cfg)
    pin_distributed()
    build_index(spark, corpus_df, tmp_path / "dist", cfg=cfg)
    sc = spark.sparkContext
    key = ["term", "salt", "block_id"]

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for side in ("drv", "dist"):
        d = tmp_path / side
        handle = open_index(spark, d, cache=False)
        assert jobs(f"open-postings-{side}", lambda: handle.postings) == 0
        inferred = tables.read_table(spark, d / "postings")
        assert handle.postings.schema == inferred.schema
        got, want = (df.toPandas().sort_values(key).reset_index(drop=True)
                     for df in (handle.postings, inferred))
        pd.testing.assert_frame_equal(got, want, check_exact=True)

        def pruned(h):
            return lambda: query_topk_index(
                spark, h, "import ident_3", 10,
                small_query_postings=0).collect()

        known = jobs(f"first-pruned-{side}",
                     pruned(open_index(spark, d, cache=False)))
        old = open_index(spark, d, cache=False)
        n_old = jobs(f"first-pruned-inferred-{side}", lambda: (
            old.__dict__.setdefault(
                "postings", tables.read_table(spark, d / "postings")),
            pruned(old)()))
        assert n_old == known + 1


def test_tie_break_doc_id_asc(oracle):
    # duplicate docs exist in synthetic corpora rarely; enforce the rule on
    # the oracle itself: equal scores must be ordered by doc_id
    res = oracle.topk(["import"], 100)
    s = res["score"].to_numpy()
    d = res["doc_id"].to_numpy()
    for i in range(len(res) - 1):
        if s[i] == s[i + 1]:
            assert d[i] < d[i + 1]


@pytest.mark.parametrize("q,k", QUERY_SET)
@pytest.mark.parametrize("mode", ["or", "and"])
def test_theta_refinement_rank_identity(spark, index_dir, oracle, q, k,
                                        mode):
    """The pruned path (driver plan: block bounds, seed θ, kept blocks;
    one Spark decode) is rank-identical to the oracle across the whole
    query set, and returns the same ids with bit-equal scores as the
    exhaustive chain (``prune=False``)."""
    terms = tokenize_query(q)
    if mode == "and" and len(terms) < 2:
        pytest.skip("AND needs 2+ terms")
    want = oracle.topk(terms, k, mode=mode)
    got = query_topk_index(spark, index_dir, q, k, mode=mode,
                           small_query_postings=0).toPandas()
    assert_rank_identical(got, want, f"pruned {mode} {q!r}")
    full = query_topk_index(spark, index_dir, q, k, mode=mode, prune=False,
                            small_query_postings=0).toPandas()
    assert list(got["doc_id"]) == list(full["doc_id"])
    np.testing.assert_allclose(got["score"], full["score"], rtol=0)


@pytest.mark.parametrize("q,mode", [("import", "or"),
                                    ("import def", "or"),
                                    ("def class return", "and"),
                                    ("self import", "and")])
def test_exclude_ids_with_pruning_exact(spark, index_dir, oracle, q, mode):
    """ADVICE r2 (medium): excluding the CURRENT top docs while pruning is
    engaged must not lose live docs — θ must be seeded from non-excluded
    docs only. Excluded = the true top-3 (the exact docs whose scores
    would overshoot θ)."""
    want_all = oracle.topk(tokenize_query(q), 50, mode=mode)
    excl = [int(x) for x in want_all["doc_id"].iloc[:3]]
    want = want_all[~want_all["doc_id"].isin(excl)].head(10)
    excl_df = spark.createDataFrame([(i,) for i in excl], "doc_id long")
    pruned = query_topk_index(spark, index_dir, q, 10, mode=mode,
                              prune=True, small_query_postings=0,
                              exclude_ids=excl_df).toPandas()
    full = query_topk_index(spark, index_dir, q, 10, mode=mode, prune=False,
                            small_query_postings=0,
                            exclude_ids=excl_df).toPandas()
    assert_rank_identical(pruned, want.reset_index(drop=True),
                          f"exclude+prune {mode} {q!r}")
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    # driver fast path honors exclusions too
    fast = query_topk_index(spark, index_dir, q, 10, mode=mode,
                            exclude_ids=excl_df).toPandas()
    assert list(fast["doc_id"]) == list(want["doc_id"])


@pytest.mark.parametrize("q,mode", [("import ident_3", "or"),
                                    ("def class return", "or"),
                                    ("def class return", "and"),
                                    ("value data result", "and"),
                                    ("self import", "and")])
def test_range_localized_pruning_exact(spark, index_dir, oracle, q, mode):
    """The plan's interval bounds and its θ seed (small k, so a θ is
    established in both modes) must stay exact, with real block skipping
    reported via metrics_out."""
    m: dict = {}
    pruned = query_topk_index(spark, index_dir, q, 3, mode=mode, prune=True,
                              small_query_postings=0,
                              metrics_out=m).toPandas()
    want = oracle.topk(tokenize_query(q), 3, mode=mode)
    assert_rank_identical(pruned, want, f"localized {mode} {q!r}")
    assert 0 < m["blocks_scored"] <= m["blocks_total"]
    assert 0.0 <= m["block_skip_ratio"] < 1.0


def test_block_bounds_cover_random_blocks():
    """``_block_bounds`` on random blocks — several terms, salts whose
    blocks overlap, both modes — is ≥ ``_EPS`` × the score of every doc
    with a posting in the block (AND: every doc that has all the terms),
    each score summed in query-term order."""
    from harvester_spark.operators.bm25 import _EPS, _block_bounds

    rng = np.random.default_rng(7)
    for _ in range(200):
        n_terms, n_docs = int(rng.integers(1, 5)), int(rng.integers(5, 300))
        blocks = []  # (term, doc ids, parts)
        for t in range(n_terms):
            docs = np.sort(rng.choice(n_docs, rng.integers(1, n_docs),
                                      replace=False))
            salt = rng.integers(0, rng.integers(1, 4), docs.size)
            for s in np.unique(salt):
                ids, size = docs[salt == s], int(rng.integers(1, 6))
                for i in range(0, ids.size, size):
                    blocks.append((t, ids[i:i + size],
                                   rng.random(ids[i:i + size].size)))
        blocks.sort(key=lambda blk: blk[0])
        parts = np.zeros((n_docs, n_terms))
        for t, ids, p in blocks:
            parts[ids, t] = p
        score = np.zeros(n_docs)
        for t in range(n_terms):  # query-term order
            score += parts[:, t]
        for mode in ("or", "and"):
            bound, *_ = _block_bounds(
                np.array([blk[0] for blk in blocks]),
                np.array([blk[2].max() for blk in blocks]),
                np.array([blk[1][0] for blk in blocks]),
                np.array([blk[1][-1] for blk in blocks]), n_terms, mode)
            for (t, ids, _), bnd in zip(blocks, bound):
                if mode == "and":
                    ids = ids[(parts[ids] > 0).all(axis=1)]
                assert (bnd >= _EPS * score[ids]).all(), (mode, t, ids)


@pytest.mark.parametrize("q,k", QUERY_SET)
@pytest.mark.parametrize("mode", ["or", "and"])
def test_plan_bounds_cover_exact_scores(spark, index_dir, q, k, mode):
    """On the fixture index (salted terms included) every block's plan
    bound is ≥ ``_EPS`` × the exact score, from ``prune=False``, of each
    doc with a posting in the block, and the kept blocks hold the whole
    exact top k."""
    from harvester_spark.operators.bm25 import (_BLOCK_COLS, _EPS,
                                                _plan_blocks, open_index,
                                                query_terms)
    from harvester_spark.operators.codec import decode_blocks

    h = open_index(spark, index_dir, cache=False)
    idf_by_term, _ = query_terms(h, tokenize_query(q), mode)
    if not idf_by_term:
        pytest.skip("no doc can match")
    meta, bound, kept = _plan_blocks(h, idf_by_term, k, mode, None)
    keys = ["term", "salt", "block_id"]
    blocks = h._read_postings(_BLOCK_COLS + keys[1:],
                              [("term", "in", list(idf_by_term))])
    plan = {key: i for i, key in enumerate(zip(
        *(meta[c].to_pylist() for c in keys)))}
    row = np.array([plan[key] for key in zip(
        *(blocks[c].to_pylist() for c in keys))])
    assert sorted(row) == list(range(len(plan)))
    ids, *_ = decode_blocks(*(blocks[c] for c in _BLOCK_COLS[1:]))
    row = np.repeat(row, np.asarray(blocks["doc_count"]))
    full = query_topk_index(spark, index_dir, q, 10**6, mode=mode,
                            prune=False, small_query_postings=0).toPandas()
    exact = dict(zip(full["doc_id"], full["score"]))
    has = np.array([d in exact for d in ids])
    score = np.array([exact.get(d, 0.0) for d in ids])
    assert has.any()
    assert (bound[row[has]] >= _EPS * score[has]).all()
    top = set(full["doc_id"].iloc[:k])
    assert kept[row[[d in top for d in ids]]].all()


@pytest.mark.parametrize("q,mode", [("import def", "or"),
                                    ("self import", "and")])
def test_plan_guard_takes_exhaustive_chain(spark, index_dir, oracle,
                                           monkeypatch, q, mode):
    """When the plan's metadata rows (Σ ⌈df / block_size⌉) would exceed
    ``SMALL_QUERY_POSTINGS``, the pruned call runs the exhaustive chain —
    no plan — and still matches the oracle, every block reported scored."""
    from harvester_spark.operators import bm25

    def no_plan(*a, **kw):
        raise AssertionError("planned above the driver budget")

    monkeypatch.setattr(bm25, "SMALL_QUERY_POSTINGS", 1)
    monkeypatch.setattr(bm25, "_plan_blocks", no_plan)
    m: dict = {}
    got = query_topk_index(spark, index_dir, q, 10, mode=mode,
                           metrics_out=m).toPandas()
    assert_rank_identical(got, oracle.topk(tokenize_query(q), 10, mode=mode),
                          f"guard {mode} {q!r}")
    assert m["blocks_scored"] == m["blocks_total"] > 1
    assert m["block_skip_ratio"] == 0.0


@pytest.mark.parametrize("mode", ["or", "and"])
def test_pruned_metrics_launch_no_job(spark, index_dir, mode):
    """``metrics_out`` comes from the plan: the pruned path runs as many
    Spark jobs with it as without it (and no more than ``prune=False``),
    with the same answer."""
    from harvester_spark.operators.bm25 import open_index

    sc = spark.sparkContext
    q, runs = "self import", {}
    for label, prune, m in (("full", False, None), ("plain", True, None),
                            ("metrics", True, {})):
        group = f"pruned-metrics-{mode}-{label}"
        sc.setJobGroup(group, group)
        try:
            rows = query_topk_index(spark, open_index(spark, index_dir,
                                                      cache=False),
                                    q, 3, mode=mode, prune=prune,
                                    small_query_postings=0,
                                    metrics_out=m).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        runs[label] = (len(sc.statusTracker().getJobIdsForGroup(group)),
                       [(r.doc_id, r.score) for r in rows])
    assert runs["metrics"] == runs["plain"]
    assert runs["plain"][0] <= runs["full"][0]
    assert runs["plain"][1] == runs["full"][1]
    assert 0 < m["blocks_scored"] < m["blocks_total"]


@pytest.fixture(scope="module")
def gate_root(spark, corpus_df, oracle, tmp_path_factory):
    """An incremental root over the corpus whose top hit for ``import
    def`` was upserted into a delta, and that query's top 10 from the
    per-segment oracle (the base without the upserted doc, plus the
    delta)."""
    from harvester_spark.fixtures.oracle import OracleBM25
    from harvester_spark.streaming import incremental as inc

    root = tmp_path_factory.mktemp("gate") / "root"
    inc.init_root(spark, corpus_df, root)
    terms = tokenize_query("import def")
    base = oracle.topk(terms, oracle.N)
    top, content = int(base["doc_id"].iloc[0]), "def import def value"
    inc.apply_changes(spark, root, spark.createDataFrame(
        [(top, False, content)], "doc_id long, deleted boolean, "
        "content string"), seq=1)
    delta = OracleBM25(pd.DataFrame({"doc_id": [top], "content": [content]}),
                       content_col="content").topk(terms, 1)
    res = pd.concat([base[base["doc_id"] != top], delta], ignore_index=True)
    order = np.lexsort((res["doc_id"].to_numpy(), -res["score"].to_numpy()))
    return root, res.iloc[order[:10]].reset_index(drop=True)


@pytest.mark.parametrize("entry", ["topk_local", "index_by_handle",
                                   "index_by_path", "incremental_by_root",
                                   "incremental_by_reader"])
def test_local_serving_hot_term_auto_fallback(spark, index_dir, oracle,
                                              gate_root, monkeypatch, entry):
    """A query whose uncached postings exceed the driver gate must route
    to the distributed path WITHOUT collecting postings driver-side (r3
    verdict: topk_local on a 10^12-doc index would collect GBs) — on every
    entry point, refused from ``df`` alone. Under the same cap a query
    whose terms are all cached is still served on the driver (a path
    opens a cold handle per call, so it has no warm half)."""
    from harvester_spark.operators import bm25
    from harvester_spark.operators.bm25 import open_index
    from harvester_spark.streaming import incremental as inc

    h = open_index(spark, index_dir)
    q, k = "import def", 10
    if entry != "topk_local":
        root, want = gate_root
        if entry.startswith("index"):
            want = oracle.topk(tokenize_query(q), k)
        reader = inc.open_root(spark, root)
        run = {"index_by_handle": lambda: query_topk_index(spark, h, q, k),
               "index_by_path": lambda: query_topk_index(spark, index_dir,
                                                         q, k),
               "incremental_by_root": lambda: inc.query_topk_incremental(
                   spark, root, q, k),
               "incremental_by_reader": lambda: inc.query_topk_incremental(
                   spark, reader, q, k)}[entry]
        reads = []
        read = bm25.IndexHandle._read_blocks

        def spy(handle, terms):
            reads.append(terms)
            return read(handle, terms)

        monkeypatch.setattr(bm25.IndexHandle, "_read_blocks", spy)
        cap = bm25.SMALL_QUERY_POSTINGS
        monkeypatch.setattr(bm25, "SMALL_QUERY_POSTINGS", 0)
        assert_rank_identical(run().toPandas(), want, f"{entry} cold")
        assert reads == []
        if entry.endswith("by_path") or entry.endswith("by_root"):
            return
        monkeypatch.setattr(bm25, "SMALL_QUERY_POSTINGS", cap)
        run().collect()  # the default gate fills the term caches
        assert reads
        reads.clear()
        monkeypatch.setattr(bm25, "SMALL_QUERY_POSTINGS", 0)
        sc = spark.sparkContext
        sc.setJobGroup(f"gate-warm-{entry}", "warm query")
        try:
            got = pd.DataFrame(run().collect(), columns=["doc_id", "score"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(
            f"gate-warm-{entry}") == []
        assert reads == []
        assert_rank_identical(got, want, f"{entry} warm")
        return

    def _no_read(terms):
        raise AssertionError("hot-term query read postings driver-side")

    h._read_blocks = _no_read
    got = h.topk_local(q, k, local_postings_cap=0)  # every term is "hot"
    want = oracle.topk(tokenize_query(q), k)
    assert_rank_identical(got, want, "auto-fallback")

    # warm cache path still honored: cached terms don't count toward cap
    h2 = open_index(spark, index_dir)
    h2.topk_local(q, k)  # populates the term cache
    h2._orig = h2._read_blocks
    calls = []

    def _spy(terms):
        calls.append(terms)
        return h2._orig(terms)

    h2._read_blocks = _spy
    got2 = h2.topk_local(q, k, local_postings_cap=0)
    assert_rank_identical(got2, want, "warm-cache-under-cap")
    assert calls == []  # served from the cache, nothing read


def test_term_cache_lru_bounded(spark, index_dir, oracle):
    """r4 verdict #4: a long-lived serving node querying a wide vocabulary
    must keep resident decoded postings BOUNDED (entries-capped LRU, the
    dictseg block-cache pattern) — and stay rank-identical after
    evictions."""
    from harvester_spark.operators.bm25 import open_index, tokenize_query

    from harvester_spark import tables

    h = open_index(spark, index_dir)
    h.term_cache_max_entries = 200  # tiny budget: forces constant eviction
    vocab = [r["term"] for r in
             tables.read_table(spark, f"{index_dir}/dictionary")
             .select("term").limit(40).collect()]
    for t in vocab:  # serving loop over > cap distinct terms
        h._term_parts([t], h.lookup([t]))
        # accounting charges max(len, 64) per term (r5 ADVICE: rare
        # postings still cost a cache slot + two array objects, so they
        # must count toward eviction pressure)
        charged = sum(max(len(v[0]), 64) for v in h._term_cache.values())
        assert charged == h._term_cache_entries
        # bound: budget + the one just-decoded term (never evicted)
        widest = max(max(len(v[0]), 64) for v in h._term_cache.values())
        assert charged <= 200 + widest
    assert len(h._term_cache) < len(vocab)  # evictions actually happened
    # rank-identity survives eviction/re-decode churn
    q, k = "import def", 10
    got = h.topk_local(q, k)
    want = oracle.topk(tokenize_query(q), k)
    assert_rank_identical(got, want, "lru-churn")
    # LRU order: re-touching a term moves it to the hot end
    t0 = next(iter(h._term_cache))
    h._term_parts([t0], h.lookup([t0]))
    assert next(reversed(h._term_cache)) == t0


def test_pruning_metrics_deterministic_across_runs(spark, index_dir):
    """r3 ADVICE: the theta-seed cap used .limit() on an unordered
    semi-join, making skip ratios vary run-to-run. The cap now takes the
    highest-UB blocks deterministically — identical metrics on repeat."""
    for q, mode in (("import def", "and"), ("import ident_3", "or")):
        runs = []
        for _ in range(2):
            m = {}
            rows = query_topk_index(spark, index_dir, q, 10, mode=mode,
                                    small_query_postings=0,
                                    metrics_out=m).collect()
            runs.append((m.get("blocks_scored"), m.get("blocks_total"),
                         [(r.doc_id, round(r.score, 9)) for r in rows]))
        assert runs[0] == runs[1], (q, mode, runs)


def test_per_query_caches_bounded(spark, corpus_df, oracle):
    """Each bm25_scores query caches one projection; a session keeps only
    the 4 newest (older ones are unpersisted), and a query whose cache was
    released still answers correctly."""
    from harvester_spark.operators.bm25 import bm25_scores

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    results = [bm25_scores(corpus_df, f"import ident_{i}")
               for i in range(10)]
    kept = set(jsc.getPersistentRDDs().keys()) - before
    assert 1 <= len(kept) <= 4, kept

    def cached(df):  # is df's own projection (tf columns) a cached relation?
        plan = df.select("*")._jdf.queryExecution().withCachedData()
        return any("InMemoryRelation" in line and "__tf0" in line
                   for line in plan.toString().splitlines())

    assert cached(results[-1])
    assert not cached(results[0])
    got = (results[0].orderBy(results[0].score.desc(), "doc_id").limit(10)
           .toPandas())
    assert_rank_identical(got, oracle.topk(tokenize_query("import ident_0"),
                                           10), "released cache")
