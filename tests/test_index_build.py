import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from harvester_spark import tables
from harvester_spark.fixtures.oracle import OracleBM25
from harvester_spark.functions.tokenize import tokenize_pandas
from harvester_spark.operators.codec import decode_doc_ids, varint_decode


def _corpus_with_ids(corpus_df):
    return (corpus_df.select("doc_id", "content").toPandas()
            .sort_values("doc_id").reset_index(drop=True))


def test_doc_ids_dense_and_ordered(corpus_df, corpus_pdf):
    pdf = corpus_df.select("doc_id", "repo", "path", "commit").toPandas()
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    assert (pdf["doc_id"].to_numpy() == np.arange(len(pdf))).all()
    assert len(pdf) == len(corpus_pdf)


def test_content_sha256(corpus_df):
    import hashlib
    pdf = corpus_df.select("content", "content_sha256").limit(20).toPandas()
    for c, h in zip(pdf["content"], pdf["content_sha256"]):
        assert hashlib.sha256(c.encode()).hexdigest() == h


def test_verify_content_sha256_on_query_results(spark, index_dir,
                                                corpus_df):
    """North-rule invariant: every query-result row's content sha256
    verifies against the source table; tampering is detected."""
    from harvester_spark.operators.bm25 import query_topk_index
    from harvester_spark.operators.docids import verify_content_sha256
    res = query_topk_index(spark, index_dir, "import def", 10)
    rep = verify_content_sha256(res, corpus_df)
    assert rep == {"n_rows": 10, "n_matched": 10, "missing": 0, "ok": True}
    # tamper one stored hash -> flagged
    bad = corpus_df.withColumn(
        "content_sha256",
        F.when(F.col("doc_id") == res.collect()[0]["doc_id"],
               F.lit("deadbeef")).otherwise(F.col("content_sha256")))
    rep2 = verify_content_sha256(res, bad)
    assert rep2["n_matched"] == 9 and not rep2["ok"]
    # result id absent from source -> missing counted
    ghost = res.unionByName(
        spark.createDataFrame([(10**12, 0.0)], "doc_id long, score double"))
    rep3 = verify_content_sha256(ghost, corpus_df)
    assert rep3["missing"] == 1 and not rep3["ok"]


def test_stats_match_oracle(spark, index_dir, corpus_df):
    local = _corpus_with_ids(corpus_df)
    oracle = OracleBM25(local, content_col="content")
    meta = tables.read_meta(index_dir / "stats")
    assert meta["N"] == oracle.N
    assert abs(meta["avgdl"] - oracle.avgdl) < 1e-9


def test_dictionary_matches_oracle(spark, index_dir, corpus_df):
    local = _corpus_with_ids(corpus_df)
    oracle = OracleBM25(local, content_col="content")
    dic = tables.read_table(spark, index_dir / "dictionary").toPandas()
    assert len(dic) == len(oracle.postings)
    for r in dic.sample(min(100, len(dic)), random_state=0).itertuples():
        pos, tf = oracle.postings[r.term]
        assert r.df == len(pos), r.term
        assert r.cf == tf.sum(), r.term
        assert abs(r.idf - oracle.idf(r.term)) < 1e-12


def test_postings_decode_to_exact_tf(spark, index_dir, corpus_df):
    """Decode every block and compare (doc_id, tf, dl) with a recomputation."""
    local = _corpus_with_ids(corpus_df)
    toks = tokenize_pandas(local["content"])
    dl_by_doc = dict(zip(local["doc_id"], toks.map(len)))
    ex = toks.explode().dropna()
    doc_of_pos = local["doc_id"].to_numpy()
    truth = {}
    tf = ex.groupby([ex.index, ex]).size()
    for (pos, term), cnt in tf.items():
        truth.setdefault(term, {})[int(doc_of_pos[pos])] = int(cnt)

    post = tables.read_table(spark, index_dir / "postings").toPandas()
    got: dict[str, dict[int, int]] = {}
    for r in post.itertuples():
        ids = decode_doc_ids(r.doc_id_first, bytes(r.deltas), r.doc_count)
        tfs = varint_decode(bytes(r.tfs))
        dls = varint_decode(bytes(r.dls))
        assert ids[-1] == r.doc_id_last
        assert tfs.max(initial=0) == r.max_tf
        # sorted unique within block
        assert (np.diff(ids) > 0).all()
        for d, t, l in zip(ids, tfs, dls):
            got.setdefault(r.term, {})[int(d)] = int(t)
            assert dl_by_doc[int(d)] == int(l)
    assert got == truth


def test_salting_applied(spark, index_dir):
    """Hot terms must be salted (merge work spread over several tasks);
    within each salt, blocks are sorted and internally disjoint."""
    post = tables.read_table(spark, index_dir / "postings").toPandas()
    hot = post[post["term"] == "import"]
    assert hot["salt"].nunique() > 1, "expected 'import' to be salted"
    for _, grp in hot.groupby("salt"):
        g = grp.sort_values("block_id")
        los = g["doc_id_first"].to_numpy()
        his = g["doc_id_last"].to_numpy()
        assert (los[1:] > his[:-1]).all(), "blocks within a salt must be disjoint"
    # no duplicate doc within the term across salts
    ids = []
    from harvester_spark.operators.codec import decode_doc_ids
    for r in hot.itertuples():
        ids.extend(decode_doc_ids(r.doc_id_first, bytes(r.deltas),
                                  r.doc_count))
    assert len(ids) == len(set(ids))


def test_block_max_invariant(spark, index_dir):
    """block_max_tfnorm >= every member's tfnorm (recomputed)."""
    meta = tables.read_meta(index_dir / "postings")
    k1, b, avgdl = meta["k1"], meta["b"], meta["avgdl"]
    post = tables.read_table(spark, index_dir / "postings").toPandas()
    for r in post.sample(min(200, len(post)), random_state=1).itertuples():
        tfs = varint_decode(bytes(r.tfs)).astype(float)
        dls = varint_decode(bytes(r.dls)).astype(float)
        tfn = tfs * (k1 + 1) / (tfs + k1 * (1 - b + b * dls / avgdl))
        assert r.block_max_tfnorm >= tfn.max() - 1e-12
        assert abs(r.block_max_tfnorm - tfn.max()) < 1e-9


def test_build_is_resumable(spark, corpus_df, tmp_path, build_side):
    """Kill-and-restart: stages already committed are skipped; output
    equal. On both placements."""
    from harvester_spark.operators.index_build import IndexConfig, build_index
    cfg = IndexConfig(salt_df_threshold=50, salt_range_docs=100, block_size=32)
    d = tmp_path / "idx"
    r1 = build_index(spark, corpus_df, d, cfg=cfg)
    assert not any(s.get("skipped") for s in r1.stages)
    # simulate a crash during the postings stage: it and all later stages
    # never committed
    import shutil
    shutil.rmtree(d / "postings")
    shutil.rmtree(d / "term_ub")
    shutil.rmtree(d / "lineage")
    r2 = build_index(spark, corpus_df, d, cfg=cfg)
    skipped = {s["stage"] for s in r2.stages if s.get("skipped")}
    # dictseg survived the simulated crash too; every stage is a
    # deterministic function of committed upstream stages, so resuming
    # with it already committed is correct
    assert skipped == {"packed", "stats", "dictionary", "dictseg"}
    lin = tables.read_table(spark, d / "lineage").toPandas()
    assert lin["postings"].sum() > 0
    assert (lin["status"] == "complete").all()


def test_sharded_merge_resume(spark, corpus_df, tmp_path, pin_distributed):
    """Term-shard-group resume: kill after one group → restart completes
    only the missing groups; final index identical to single-shot. Shard
    groups exist only on the distributed side."""
    import shutil
    from harvester_spark.operators.index_build import IndexConfig, build_index
    pin_distributed()
    cfg = IndexConfig(salt_df_threshold=50, salt_range_docs=100,
                      block_size=32, postings_shard_groups=3)
    d = tmp_path / "sharded"
    build_index(spark, corpus_df, d, cfg=cfg)
    # simulate crash mid-merge: drop group 1 + everything after
    shutil.rmtree(d / "postings_parts" / "group=1")
    shutil.rmtree(d / "postings")
    shutil.rmtree(d / "term_ub")
    shutil.rmtree(d / "lineage")
    r = build_index(spark, corpus_df, d, cfg=cfg)
    done = {s["stage"]: s for s in r.stages}
    assert done["postings.group0"].get("skipped")
    assert done["postings.group2"].get("skipped")
    assert "seconds" in done["postings.group1"]

    # identical decoded content vs an unsharded build
    d2 = tmp_path / "singleshot"
    build_index(spark, corpus_df, d2,
                cfg=IndexConfig(salt_df_threshold=50, salt_range_docs=100,
                                block_size=32, postings_shard_groups=1))

    def decoded(p):
        post = tables.read_table(spark, p / "postings").toPandas()
        out = {}
        for r_ in post.itertuples():
            ids = decode_doc_ids(r_.doc_id_first, bytes(r_.deltas),
                                 r_.doc_count)
            tfs = varint_decode(bytes(r_.tfs))
            for i, t in zip(ids, tfs):
                out.setdefault(r_.term, {})[int(i)] = int(t)
        return out

    assert decoded(d) == decoded(d2)


def test_salted_equals_unsalted(spark, corpus_df, tmp_path, pin_distributed):
    """Byte-level invariant: postings content identical with/without salting
    after normalizing block boundaries (decode-and-compare). The unsalted
    index is built on the driver; the salted one on the distributed side,
    the only side that salts."""
    from harvester_spark.operators.index_build import IndexConfig, build_index
    d1, d2 = tmp_path / "salted", tmp_path / "unsalted"
    build_index(spark, corpus_df, d2,
                cfg=IndexConfig(salt_df_threshold=10**9, block_size=32))
    pin_distributed()
    build_index(spark, corpus_df, d1,
                cfg=IndexConfig(salt_df_threshold=50, salt_range_docs=64,
                                block_size=32))
    post = tables.read_table(spark, d1 / "postings")
    assert post.filter(F.col("salt") > 0).count() > 0

    def decoded(d):
        post = tables.read_table(spark, d / "postings").toPandas()
        out = {}
        for r in post.itertuples():
            ids = decode_doc_ids(r.doc_id_first, bytes(r.deltas), r.doc_count)
            tfs = varint_decode(bytes(r.tfs))
            for i, t in zip(ids, tfs):
                out.setdefault(r.term, {})[int(i)] = int(t)
        return out

    assert decoded(d1) == decoded(d2)


def test_empty_corpus_build_and_query(spark, tmp_path):
    """A zero-doc build commits cleanly (N=0, no div-by-zero) and queries
    return empty instead of erroring."""
    from harvester_spark.operators.bm25 import query_topk_index
    from harvester_spark.operators.index_build import (IndexConfig,
                                                       build_index)
    empty = spark.createDataFrame([], "doc_id long, content string")
    d = tmp_path / "empty_idx"
    rep = build_index(spark, empty, d, cfg=IndexConfig(salt_df_threshold=10**9))
    assert rep.n_docs == 0 and rep.avgdl == 0.0
    assert query_topk_index(spark, d, "anything", 5).collect() == []


def test_unicode_content_build(spark, tmp_path):
    """Non-ASCII content flows through build+query; the documented
    tokenizer ([a-z0-9_] runs) keeps only ASCII-word tokens — identical
    in all three engines by definition."""
    from harvester_spark.operators.bm25 import query_topk_index
    from harvester_spark.operators.index_build import (IndexConfig,
                                                       build_index)
    uni = spark.createDataFrame(
        [(0, "héllo wörld naïve café"), (1, "日本語のテキスト 漢字"),
         (2, "emoji 🎉 test_underscore mixed123"), (3, "ПРИВЕТ мир")],
        "doc_id long, content string")
    d = tmp_path / "uni_idx"
    rep = build_index(spark, uni, d, cfg=IndexConfig(salt_df_threshold=10**9))
    assert rep.n_docs == 4
    got = [r["doc_id"] for r in
           query_topk_index(spark, d, "test_underscore", 5).collect()]
    assert got == [2]


def test_idf_kernel_bit_exact_with_spark_log(spark):
    """The driver build's idf equals the distributed dictionary's
    ``F.log(1 + (N - df + 0.5) / (df + 0.5))`` bit for bit (fdlibm port),
    on 10^6 arguments: random df at N=10^7, x in (1, 2), x within 10^-6 of
    1 (fdlibm's |f| < 2^-20 branch) and a wide exponent range. np.log
    differs on the same set, so the equality is not trivial."""
    import pyarrow as pa

    from harvester_spark.operators.index_build import fdlibm_log, idf

    rng = np.random.default_rng(11)
    n = 10**7
    dfs = rng.integers(1, n + 1, 400_000)
    xs = np.concatenate([
        1.0 + rng.random(200_000),
        1.0 + (rng.random(200_000) - 0.5) * 2e-6,
        np.exp(rng.uniform(-700.0, 700.0, 200_000)),
        [5e-324, 1e-310, 1.0, 2.0, np.nextafter(1.0, 2.0)]])

    want_idf = (spark.createDataFrame(pa.table({"df": dfs}))
                .select(F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df")
                                            + 0.5) / (F.col("df") + 0.5)))
                .toArrow().column(0).to_numpy())
    want_log = (spark.createDataFrame(pa.table({"x": xs}))
                .select(F.log("x")).toArrow().column(0).to_numpy())

    def bits(a):
        return np.asarray(a, dtype=np.float64).view(np.int64)

    assert (bits(idf(dfs, n)) == bits(want_idf)).all()
    assert (bits(fdlibm_log(xs)) == bits(want_log)).all()
    naive = np.log(1.0 + ((float(n) - dfs) + 0.5) / (dfs + 0.5))
    assert (bits(naive) != bits(want_idf)).sum() > 0
    assert (bits(np.log(xs)) != bits(want_log)).sum() > 0


def _placement_corpus(spark, corpus_df, name):
    rows = {
        "empty": [],
        "zero_token_and_null": [(0, ""), (1, None), (2, "!!! --- ..."),
                                (3, "alpha beta alpha"), (4, None),
                                (5, "beta")],
        "repeated_terms": [(i, " ".join(["x"] * (i + 1) + ["y"] * (7 - i % 7)))
                           for i in range(40)],
        # one term in every doc: 10 blocks of 32
        "one_term_many_blocks": [(3 * i, f"common word{i % 5} common")
                                 for i in range(300)],
        "non_ascii": [(0, "héllo wörld naïve café"),
                      (1, "日本語のテキスト 漢字 abc"),
                      (2, "emoji 🎉 test_underscore mixed123"),
                      (3, "ПРИВЕТ мир abc"), (4, "ünïcödé abc test_underscore")],
    }
    if name == "session":
        return corpus_df
    return spark.createDataFrame(rows[name], "doc_id long, content string")


@pytest.mark.parametrize("corpus", ["session", "empty", "zero_token_and_null",
                                    "repeated_terms", "one_term_many_blocks",
                                    "non_ascii"])
def test_build_placements_write_equal_stages(spark, corpus_df, tmp_path,
                                             pin_distributed, corpus):
    """The driver build and the distributed build of the same corpus write
    equal stages: stats, dictionary (idf bit for bit), term_ub, and
    postings block for block (metadata and encoded bytes; only the
    build-partition id differs) — so both query paths rank identically."""
    from harvester_spark.operators.bm25 import IndexHandle, query_topk_index
    from harvester_spark.operators.index_build import IndexConfig, build_index

    docs = _placement_corpus(spark, corpus_df, corpus)
    cfg = IndexConfig(salt_df_threshold=10**9, block_size=32)
    drv, dist = tmp_path / "driver", tmp_path / "distributed"
    assert build_index(spark, docs, drv, cfg=cfg).placement["side"] == "driver"
    pin_distributed()
    assert build_index(spark, docs, dist,
                       cfg=cfg).placement["side"] == "distributed"

    for name in ("stats", "postings"):
        assert tables.read_meta(drv / name) == tables.read_meta(dist / name)
    for name, key in (("dictionary", ["term"]), ("term_ub", ["term"]),
                      ("postings", ["term", "salt", "block_id"])):
        a, b = ((tables.read_arrow(d / name).to_pandas()
                 .drop(columns=["part_id"], errors="ignore")
                 .sort_values(key).reset_index(drop=True))
                for d in (drv, dist))
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        if name == "dictionary":
            assert (a["idf"].to_numpy().view(np.int64)
                    == b["idf"].to_numpy().view(np.int64)).all()

    for q in ("import def", "def class return", "alpha", "x y", "common",
              "abc test_underscore", "qqq_absent"):
        for mode in ("or", "and"):
            got, want = (query_topk_index(spark, d, q, 10, mode=mode)
                         .toPandas() for d in (drv, dist))
            pd.testing.assert_frame_equal(got, want, check_exact=True)
        got, want = (IndexHandle(spark, d, cache=False).topk_local(q, 10)
                     for d in (drv, dist))
        pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_build_reports_placement_and_keeps_process_state(spark, corpus_df,
                                                         tmp_path,
                                                         monkeypatch):
    """``BuildReport.placement`` names the side and the budget it compared
    against; a driver build leaves pyarrow's thread pool as it was."""
    import pyarrow as pa

    from harvester_spark.operators.index_build import build_index

    threads = pa.cpu_count()
    rep = build_index(spark, corpus_df, tmp_path / "drv")
    assert pa.cpu_count() == threads
    assert rep.placement == {
        "side": "driver", "docs": 400,
        "text_bytes": tables.read_meta(tmp_path / "drv" / "stats")["text_bytes"],
        "max_docs": tables.DRIVER_MAX_DOCS,
        "max_bytes": tables.DRIVER_MAX_BYTES}
    monkeypatch.setattr(tables, "DRIVER_MAX_DOCS", 0)
    rep = build_index(spark, corpus_df, tmp_path / "dist")
    assert rep.placement["side"] == "distributed"
    assert rep.placement["max_docs"] == 0
