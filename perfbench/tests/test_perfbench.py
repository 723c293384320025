"""Tests of the benchmark's own generator, oracle, percentile rule and job
attribution. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import math
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

import gen
import oracle
import overhead
from spans import (JobWindow, Tracer, geomean, percentile, tail_percentile,
                   union_seconds)


def test_corpus_same_seed_same_rows():
    a, b = gen.make_corpus(500, (7, 1)), gen.make_corpus(500, (7, 1))
    assert a.table.equals(b.table)
    assert np.array_equal(a.tok, b.tok)
    assert not a.table.equals(gen.make_corpus(500, (7, 2)).table)


def test_changes_same_seed_same_rows():
    base = gen.make_corpus(400, 5)
    s, t = gen.ChangeStream(base, 9, batch_size=50), \
        gen.ChangeStream(base, 9, batch_size=50)
    for _ in range(3):
        x, y = s.next_batch(), t.next_batch()
        assert x.table().equals(y.table())
        assert np.array_equal(x.clusters, y.clusters)
    assert s.live_corpus().table.equals(t.live_corpus().table)


def test_content_is_whitespace_tokenizable():
    c = gen.make_corpus(200, 4)
    words = " ".join(c.table["content"].to_pylist()).split(" ")
    assert len(words) == c.tok.size
    assert all(w and w.replace("_", "").isalnum() and w == w.lower()
               for w in set(words))


def test_planted_near_dups():
    c = gen.make_corpus(400, 6)
    p, clusters = gen.plant_near_dups(c, np.random.default_rng(1), 500)
    labels, counts = np.unique(clusters[clusters >= 0], return_counts=True)
    assert labels.size == 20 and (counts == 2).all()
    for lab in labels[:5]:
        a, b = np.flatnonzero(clusters == lab)
        sets = oracle.shingle_sets(p, np.array([a, b]))
        assert oracle.jaccard3(sets, a, b) >= 0.7
    assert p.table["doc_id"].equals(c.table["doc_id"])


def test_change_stream_tracks_live_docs():
    base = gen.make_corpus(400, 5)
    s = gen.ChangeStream(base, 9, batch_size=100)
    b = s.next_batch()
    assert len(set(b.doc_ids.tolist())) == 100
    assert int(b.deleted.sum()) == 10
    assert not s.live[b.doc_ids[b.deleted]].any()
    live = s.live_corpus()
    assert live.n == 400 and np.array_equal(live.doc_ids,
                                            np.flatnonzero(s.live))


def _corpus(docs: list[list[str]]) -> gen.Corpus:
    tok = np.array([oracle.term_id(w) for d in docs for w in d], np.int64)
    offs = np.cumsum([0] + [len(d) for d in docs])
    return gen.Corpus(np.arange(len(docs), dtype=np.int64), tok, offs, None)


def test_bm25_oracle_hand_computed():
    # N=3, dl=[2,1,3], avgdl=2; "import" has df=2:
    # idf = ln(1 + 1.5/2.5) = ln 1.6; tfnorm(d0) = 2.2/2.2 = 1,
    # tfnorm(d1) = 2.2/(1 + 1.2*(0.25 + 0.375)) = 2.2/1.75
    c = _corpus([["import", "def"], ["import"], ["def", "def", "id_0"]])
    orc = oracle.BM25(c)
    ids, scores = orc.topk("import", 10)
    assert ids.tolist() == [1, 0]
    assert scores[0] == pytest.approx(math.log(1.6) * 2.2 / 1.75, rel=1e-12)
    assert scores[1] == pytest.approx(math.log(1.6), rel=1e-12)
    assert orc.topk("import def", 10, "and")[0].tolist() == [0]
    assert orc.topk("import zz_absent", 10, "and")[0].size == 0
    assert orc.topk("zz_absent", 10)[0].size == 0
    assert orc.check("import", 10, "or", [1, 0], scores) is None
    assert orc.check("import", 10, "or", [0, 1], scores[::-1]) is not None
    assert orc.check("import", 1, "or", [1], [scores[0] * 1.01]) is not None


def test_topk_check_allows_reordered_ties_only():
    c = _corpus([["def"], ["def"], ["def", "import"]])
    orc = oracle.BM25(c)
    ids, scores = orc.topk("def", 2)
    assert ids.tolist() == [0, 1]       # exact tie: doc_id ascending
    assert orc.check("def", 2, "or", [1, 0], scores) is None


def test_planted_recall_per_component():
    clusters = np.array([0, 0, 0, -1, 1, 1])
    # cluster 0 connected through a chain, cluster 1 not found
    assert oracle.planted_recall(clusters, np.array([0, 1]),
                                 np.array([1, 2])) == 0.5
    assert oracle.jaccard3(oracle.shingle_sets(
        _corpus([["def"] * 4, ["def"] * 3 + ["import"]]),
        np.array([0, 1])), 0, 1) == 0.5


def test_tail_percentile_rule():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(99) == 50.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(999) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50 and percentile(xs, 90) == 90
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4


def test_geomean_weighs_each_value_alike():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([1.0, 1000.0, 1e-3]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        geomean([])


def test_overhead_compares_paired_seeds(tmp_path):
    def write(name, correct, p50):
        (tmp_path / name).write_text(json.dumps({
            "correct": correct,
            "end_to_end": {"op_p50_ms": {"value": p50, "unit": "ms"}}}))

    write("search-seed1-trace0.json", True, 10.0)
    write("search-seed2-trace0.json", True, 30.0)
    write("search-seed1-trace1.json", True, 11.0)
    write("search-seed3-trace1.json", False, 99.0)   # incorrect: ignored
    (tmp_path / "search-seed1-spans.jsonl").write_text("")
    out = overhead.overhead(overhead.load(tmp_path))["search"]
    assert out["runs"] == [1, 1] and out["paired_seeds"] == 1
    m = out["metrics"]["op_p50_ms"]
    assert m["untraced"] == 10.0 and m["traced"] == 11.0
    assert m["overhead_pct"] == pytest.approx(10.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from harvester_spark.session import get_spark
    s = get_spark("perfbench-tests", cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))})
    yield s
    from run import stop_spark
    stop_spark(s)


def test_job_window_counts_thread_pool_jobs(spark):
    sc = spark.sparkContext

    def work():
        sc.setJobGroup("main-group", "jobs with a group")
        sc.parallelize(range(10), 2).count()
        sc.parallelize(range(10), 3).count()
        with ThreadPoolExecutor(max_workers=2) as ex:
            # jobs from pool threads carry no job group
            for f in [ex.submit(lambda: sc.parallelize(range(5), 2).count())
                      for _ in range(2)]:
                f.result()
        sc.setJobGroup(None, None)

    tr = Tracer(JobWindow(spark))
    _, span = tr.call("work", work)
    assert span.attrs["jobs"] == 4
    assert span.attrs["tasks"] == 2 + 3 + 2 + 2
    assert 0 < span.attrs["in_jobs_s"] <= span.seconds
    _, idle = tr.call("idle", lambda: None)
    assert idle.attrs["jobs"] == 0 and idle.attrs["tasks"] == 0
