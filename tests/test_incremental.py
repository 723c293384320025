"""CDC / incremental-index semantics (solr_updater.main analogue)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from harvester_spark.fixtures.corpus import QUERY_SET, make_corpus
from harvester_spark.fixtures.oracle import OracleBM25
from harvester_spark.operators import bm25
from harvester_spark.operators.bm25 import tokenize_query
from harvester_spark.operators.docids import assign_doc_ids
from harvester_spark.operators.index_build import IndexConfig
from harvester_spark.streaming import incremental as inc

CFG = IndexConfig(salt_df_threshold=10**9, block_size=32)


@pytest.fixture(scope="module")
def base_docs(spark):
    pdf = make_corpus(150, seed=42)
    df = assign_doc_ids(spark.createDataFrame(pdf), num_partitions=4).cache()
    df.count()
    return df


def test_cdc_upsert_delete_and_compact(spark, base_docs, tmp_path):
    root = tmp_path / "root"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    assert inc.last_seq(root) == 0

    # batch 1: delete docs 0-4, upsert doc 5 with new content, add new doc 900
    new5 = "zz_new_token zz_new_token import def"
    changes1 = spark.createDataFrame(
        [(i, True, None) for i in range(5)]
        + [(5, False, new5), (900, False, "zz_new_token fresh doc value")],
        "doc_id long, deleted boolean, content string")
    inc.apply_changes(spark, root, changes1, seq=1, cfg=CFG)
    assert inc.last_seq(root) == 1

    res = inc.query_topk_incremental(spark, root, "zz_new_token", 10).toPandas()
    assert set(res["doc_id"]) == {5, 900}

    # deleted docs never returned
    res2 = inc.query_topk_incremental(spark, root, "import", 200).toPandas()
    assert not (set(res2["doc_id"]) & set(range(5)))
    # old version of doc 5 is gone: its old rare idents don't return doc 5
    # (query a token only in the old content)
    old5 = base_docs.filter(F.col("doc_id") == 5).first()["content"].split()
    rare_old = next(t for t in old5 if t.startswith("ident_"))
    res3 = inc.query_topk_incremental(spark, root, rare_old, 200).toPandas()
    assert 5 not in set(res3["doc_id"])

    # idempotency: re-applying seq=1 is a no-op
    inc.apply_changes(spark, root, changes1, seq=1, cfg=CFG)
    assert inc.last_seq(root) == 1

    # compact → rank-identical to oracle over the live doc set
    live_pdf = base_docs.select("doc_id", "content").toPandas()
    live_pdf = live_pdf[~live_pdf["doc_id"].isin(range(5))]
    live_pdf = live_pdf[live_pdf["doc_id"] != 5]
    live_pdf = pd.concat([live_pdf, pd.DataFrame(
        {"doc_id": [5, 900], "content": [new5, "zz_new_token fresh doc value"]})],
        ignore_index=True)
    live_df = spark.createDataFrame(live_pdf)
    inc.compact(spark, root, live_df, cfg=CFG)

    oracle = OracleBM25(live_pdf, content_col="content")
    for q in ["import", "zz_new_token", "def class"]:
        got = inc.query_topk_incremental(spark, root, q, 10).toPandas()
        want = oracle.topk(tokenize_query(q), 10)
        assert list(got["doc_id"]) == list(want["doc_id"]), q
        if len(want):
            import numpy as np
            np.testing.assert_allclose(got["score"], want["score"], rtol=1e-6)


def test_stream_apply_changes_end_to_end(spark, base_docs, tmp_path):
    """foreachBatch CDC: a real file-source stream of change batches
    drives the delta-index store; checkpoint restart replays nothing
    (exactly-once via the last_seq idempotency gate)."""
    root = tmp_path / "sroot"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    src = tmp_path / "changes_src"
    ckpt = tmp_path / "ckpt"
    schema = "doc_id long, deleted boolean, content string"
    # one parquet file per micro-batch, written through Spark
    spark.createDataFrame(
        [(0, True, None), (901, False, "zz_stream_token alpha value")],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(901, False, "zz_stream_token beta value"), (1, True, None)],
        schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = inc.stream_apply_changes(spark, root, stream, checkpoint_dir=ckpt,
                                 cfg=CFG)
    q.awaitTermination(120)
    assert inc.last_seq(root) >= 2
    res = inc.query_topk_incremental(spark, root, "zz_stream_token",
                                     10).toPandas()
    assert set(res["doc_id"]) == {901}
    deleted = inc.query_topk_incremental(spark, root, "import",
                                         300).toPandas()
    assert not ({0, 1} & set(deleted["doc_id"]))

    # restart on the same checkpoint: nothing replays, state unchanged
    seq_before = inc.last_seq(root)
    n_deltas = len(list(root.glob("delta_*")))
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q2 = inc.stream_apply_changes(spark, root, stream2,
                                  checkpoint_dir=ckpt, cfg=CFG)
    q2.awaitTermination(120)
    assert inc.last_seq(root) == seq_before
    assert len(list(root.glob("delta_*"))) == n_deltas


def test_streaming_windowed_counts(spark, tmp_path):
    """Drive windowed_event_counts through an actual micro-batch stream."""
    import datetime as dt
    events = [(i, dt.datetime(2024, 1, 1, h, 30), "click", 1.0)
              for i, h in enumerate([0, 0, 1, 1, 1, 2])]
    src_dir = tmp_path / "stream_src"
    # write the source through Spark so parquet carries Spark timestamps
    (spark.createDataFrame(events,
                           "event_id long, ts timestamp, event_type string, "
                           "value double")
     .coalesce(1).write.mode("overwrite").parquet(str(src_dir)))

    from harvester_spark.streaming.incremental import windowed_event_counts
    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double")
        .parquet(str(src_dir)))
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    # complete mode: a single availableNow batch never advances the
    # watermark far enough for append-mode emission; complete shows all
    # windows while the watermark plumbing still runs in the plan
    q = (out.writeStream.format("memory").queryName("wincounts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    res = spark.sql("select * from wincounts").toPandas()
    got = {(r.window_start.hour, r.event_type): r.n for r in res.itertuples()}
    assert got.get((0, "click")) == 2
    assert got.get((1, "click")) == 3
    assert got.get((2, "click")) == 1


def test_tombstone_filter_before_topk(spark, base_docs, tmp_path):
    """Regression: a doc tombstoned out of a segment's raw top-k must not
    shadow live docs ranked behind it (the anti-join runs BEFORE the
    per-segment limit, not after)."""
    root = tmp_path / "root_adv"
    inc.init_root(spark, base_docs, root, cfg=CFG)

    # the base segment's top-3 for a common query
    top3 = inc.query_topk_incremental(spark, root, "import", 3).toPandas()
    assert len(top3) == 3
    victim = int(top3["doc_id"].iloc[0])

    changes = spark.createDataFrame([(victim, True, None)],
                                    "doc_id long, deleted boolean, content string")
    inc.apply_changes(spark, root, changes, seq=1, cfg=CFG)

    got = inc.query_topk_incremental(spark, root, "import", 3).toPandas()
    # still k rows (live docs promoted into the window), victim gone
    assert len(got) == 3
    assert victim not in set(got["doc_id"])
    # rank-identical to an oracle over the live docs
    live = base_docs.filter(F.col("doc_id") != victim) \
                    .select("doc_id", "content").toPandas()
    oracle = OracleBM25(live, content_col="content")
    want = oracle.topk(tokenize_query("import"), 3)
    assert list(got["doc_id"]) == list(want["doc_id"])


def test_tombstone_segments_survive_partial_batch(spark, base_docs, tmp_path):
    """Crash-safety: earlier tombstone segments are append-only commits — a
    batch that dies before advancing last_seq can never resurrect
    previously-deleted docs when re-applied."""
    root = tmp_path / "root_crash"
    inc.init_root(spark, base_docs, root, cfg=CFG)

    del_a = spark.createDataFrame([(1, True, None)],
                                  "doc_id long, deleted boolean, content string")
    inc.apply_changes(spark, root, del_a, seq=1, cfg=CFG)
    assert inc.last_seq(root) == 1

    # simulate a crash mid-batch-2: tombstone segment written, last_seq NOT
    # advanced (the exact window where the old swap-rename lost the table)
    from harvester_spark import tables
    del_b = spark.createDataFrame([(2, True, None)],
                                  "doc_id long, deleted boolean, content string")
    tables.write_table(
        del_b.select(F.col("doc_id").cast("long").alias("doc_id")),
        root / "tombstones" / "seq=00000002")
    assert inc.last_seq(root) == 1

    # re-apply batch 2 (at-least-once delivery)
    inc.apply_changes(spark, root, del_b, seq=2, cfg=CFG)
    assert inc.last_seq(root) == 2
    res = inc.query_topk_incremental(spark, root, "import", 500).toPandas()
    assert not ({1, 2} & set(res["doc_id"]))


def test_merge_deltas_rank_identical_to_fresh_build(spark, base_docs, tmp_path,
                                                    build_side, monkeypatch):
    """Size-tiered delta merge: N delta segments fold into one WITHOUT
    content; querying the merged segment is rank-identical to a fresh
    index built over the same live docs, and incremental queries stay
    correct afterward. On both placements, each build and the merge
    running only that side's stages; the driver merge leaves pyarrow's
    thread pool as it was."""
    import pyarrow as pa

    from harvester_spark.operators import index_build
    from harvester_spark.operators.bm25 import query_topk_index

    other = ("_distributed_stages" if build_side == "driver"
             else "_driver_stages")

    def wrong_side(*a, **kw):
        raise AssertionError(f"{other} ran on the {build_side} side")

    monkeypatch.setattr(index_build, other, wrong_side)
    root = tmp_path / "root_merge"
    inc.init_root(spark, base_docs, root, cfg=CFG)

    batches = [
        [(300, False, "zz_m import def alpha"), (301, False, "zz_m beta")],
        [(302, False, "zz_m gamma import"), (0, True, None)],
        [(301, False, "zz_m beta UPDATED import"), (303, False, "delta zz_m")],
    ]
    for i, rows in enumerate(batches, start=1):
        ch = spark.createDataFrame(
            rows, "doc_id long, deleted boolean, content string")
        inc.apply_changes(spark, root, ch, seq=i, cfg=CFG)
    before = inc.query_topk_incremental(spark, root, "zz_m", 10).toPandas()

    threads = pa.cpu_count()
    assert inc.maybe_compact(spark, root, max_deltas=3, cfg=CFG)
    assert pa.cpu_count() == threads
    deltas = inc._delta_dirs(root)
    # named from its input set: last and first input seq
    assert [d.name for d in deltas] == ["delta_00000003_m00000001"]

    # merged segment alone == fresh build over its live docs
    live = spark.createDataFrame(
        [(300, "zz_m import def alpha"), (302, "zz_m gamma import"),
         (301, "zz_m beta updated import"), (303, "delta zz_m")],
        "doc_id long, content string")
    fresh_dir = tmp_path / "fresh"
    from harvester_spark.operators.index_build import build_index
    build_index(spark, live, fresh_dir, cfg=CFG)
    got = query_topk_index(spark, deltas[0], "zz_m import", 10,
                           prune=False).toPandas()
    want = query_topk_index(spark, fresh_dir, "zz_m import", 10,
                            prune=False).toPandas()
    assert list(got["doc_id"]) == list(want["doc_id"])
    import numpy as np
    np.testing.assert_allclose(got["score"], want["score"], rtol=0)

    # same live docs returned after the merge (ORDER may legitimately
    # change for docs that lived in different deltas: per-segment stats
    # become combined stats — Lucene's convention, where merges re-scale
    # scores; rank-identity is to the fresh build, asserted above)
    after = inc.query_topk_incremental(spark, root, "zz_m", 10).toPandas()
    assert set(after["doc_id"]) == set(before["doc_id"])
    # doc 0 (deleted pre-merge) stays gone; post-merge deletes still work
    ch = spark.createDataFrame([(303, True, None)],
                               "doc_id long, deleted boolean, content string")
    inc.apply_changes(spark, root, ch, seq=4, cfg=CFG)
    res = inc.query_topk_incremental(spark, root, "zz_m", 10).toPandas()
    assert 303 not in set(res["doc_id"]) and 0 not in set(res["doc_id"])


def _delta_stages_equal(a, b) -> None:
    """Two index dirs hold equal stages: stats and postings meta,
    dictionary, term_ub, and postings block for block (only the
    build-partition id may differ)."""
    from harvester_spark import tables

    for name in ("stats", "postings"):
        assert tables.read_meta(a / name) == tables.read_meta(b / name)
    for name, key in (("dictionary", ["term"]), ("term_ub", ["term"]),
                      ("postings", ["term", "salt", "block_id"])):
        x, y = ((tables.read_arrow(d / name).to_pandas()
                 .drop(columns=["part_id"], errors="ignore")
                 .sort_values(key).reset_index(drop=True)) for d in (a, b))
        pd.testing.assert_frame_equal(x, y, check_exact=True)


def test_merge_placements_write_equal_stages(spark, base_docs, tmp_path,
                                             pin_distributed):
    """The driver merge and the distributed merge of the same deltas write
    equal stages — stats, dictionary (idf bit for bit), term_ub, postings
    block for block — with tombstoned docs dropped, a salted first delta
    included: the merge salts by its own placement and ``cfg``, as every
    build does, so neither side keeps the input's salts under a ``cfg``
    with no hot term."""
    import shutil

    from harvester_spark import tables

    root = tmp_path / "root_eq"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    batches = [
        [(300 + i, False, f"zz_e import def w{i % 4} common") for i in range(60)],
        [(302, False, "zz_e gamma import"), (0, True, None), (310, True, None)],
        [(301, False, "zz_e beta UPDATED import"), (303, False, "delta zz_e"),
         (304, False, "")],
    ]
    salted = IndexConfig(salt_df_threshold=8, salt_range_docs=8, block_size=32)
    with pytest.MonkeyPatch.context() as mp:
        # the first delta is built on the distributed side, the only one
        # that salts hot terms
        mp.setattr(tables, "DRIVER_MAX_DOCS", 0)
        inc.apply_changes(spark, root, spark.createDataFrame(
            batches[0], "doc_id long, deleted boolean, content string"),
            seq=1, cfg=salted)
    for i, rows in enumerate(batches[1:], start=2):
        inc.apply_changes(spark, root, spark.createDataFrame(
            rows, "doc_id long, deleted boolean, content string"),
            seq=i, cfg=CFG)
    first = tables.read_arrow(root / "delta_00000001" / "postings")
    assert max(first.column("salt").to_pylist()) > 0

    dist_root = tmp_path / "root_eq_dist"
    shutil.copytree(root, dist_root)
    drv = inc.merge_deltas(spark, root, cfg=CFG)
    pin_distributed()
    dist = inc.merge_deltas(spark, dist_root, cfg=CFG)

    _delta_stages_equal(drv, dist)
    # live posting-bearing docs: 55 of the first delta, 302, 301 and 303
    assert tables.read_meta(drv / "stats")["N"] == 58
    for merged in (drv, dist):
        post = tables.read_arrow(merged / "postings").to_pandas()
        assert post["salt"].max() == 0
        assert post["doc_count"].sum() == tables.read_arrow(
            merged / "dictionary").column("df").to_numpy().sum()


def test_apply_changes_placements_write_equal_segments(spark, base_docs,
                                                       tmp_path,
                                                       pin_distributed):
    """The collect-once driver form of apply_changes and the Spark form
    (the batch over the driver budget) apply the same batches alike:
    equal tombstone ids, equal tallies, equal delta stages. The batches
    hold upserts of new and existing ids, deletes, an empty-content
    upsert, a null ``deleted`` row (a change, tombstoned, not indexed)
    and an all-delete batch, each read from one parquet file as a CDC
    batch arrives. Each driver-side apply runs two Spark jobs: the probe
    and the collect."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from harvester_spark import tables

    schema = pa.schema([("doc_id", pa.int64()), ("deleted", pa.bool_()),
                        ("content", pa.string())])
    batches = [
        [(400 + i, False, f"zz_p import def w{i % 5} common") for i in range(40)]
        + [(1, False, "zz_p updated import"), (2, True, None),
           (3, True, None), (500, False, ""),
           (501, None, "zz_p never indexed")],
        [(5, True, None), (401, True, None), (502, True, "zz_p ignored")],
        [(503, False, "zz_p late def"), (504, None, None)],
    ]
    drv, dist = tmp_path / "drv", tmp_path / "dist"
    inc.init_root(spark, base_docs, drv, cfg=CFG)
    shutil.copytree(drv, dist)
    sc = spark.sparkContext
    reps = {}
    for side, root in (("driver", drv), ("distributed", dist)):
        if side == "distributed":
            pin_distributed()
        for seq, rows in enumerate(batches, start=1):
            path = tmp_path / f"batch{seq}.parquet"
            pq.write_table(pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema), path)
            ch = spark.read.parquet(str(path))
            group = f"apply-{side}-{seq}"
            sc.setJobGroup(group, group)
            try:
                reps[side, seq] = inc.apply_changes(spark, root, ch, seq=seq,
                                                    cfg=CFG)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if side == "driver":
                assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert [reps["driver", s] for s in (1, 2, 3)] == [
        {"seq": 1, "n_changes": 45, "n_deletes": 2, "n_upserts": 43,
         "compacted": False},
        {"seq": 2, "n_changes": 3, "n_deletes": 3, "n_upserts": 0,
         "compacted": False},
        {"seq": 3, "n_changes": 2, "n_deletes": 0, "n_upserts": 2,
         "compacted": False}]
    for seq in (1, 2, 3):
        assert reps["driver", seq] == reps["distributed", seq]
        got, want = (inc._read_tombstones(r / "tombstones" / f"seq={seq:08d}")
                     for r in (drv, dist))
        assert got.tolist() == want.tolist() == sorted(
            r[0] for r in batches[seq - 1])
    assert ([d.name for d in inc._delta_dirs(drv)]
            == [d.name for d in inc._delta_dirs(dist)]
            == ["delta_00000001", "delta_00000003"])
    for name in ("delta_00000001", "delta_00000003"):
        _delta_stages_equal(drv / name, dist / name)
    # 42 docs in the first delta: the null-deleted row is not built, the
    # empty-content row is (a doc of length 0)
    assert tables.read_meta(drv / "delta_00000001" / "stats")["N"] == 42
    assert tables.read_meta(drv / "delta_00000003" / "stats")["N"] == 1
    for q in ("zz_p", "import def", "never indexed"):
        got, want = (inc.query_topk_incremental(spark, r, q, 20).toPandas()
                     for r in (drv, dist))
        pd.testing.assert_frame_equal(got, want, check_exact=True)
        assert not {2, 3, 5, 401, 501, 502, 504} & set(got["doc_id"])


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicate content within the watermark window is dropped in-stream;
    state is bounded (dropDuplicatesWithinWatermark)."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1, 12, 0)
    rows = [(0, base, "same text"), (1, base, "same text"),
            (2, base, "other text"), (3, base, "same text")]
    src = tmp_path / "dd_src"
    (spark.createDataFrame(rows, "doc_id long, ts timestamp, content string")
     .coalesce(1).write.mode("overwrite").parquet(str(src)))
    stream = (spark.readStream
              .schema("doc_id long, ts timestamp, content string")
              .parquet(str(src)))
    out = inc.streaming_exact_dedup(stream, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dd")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql("select content from dd").toPandas()
    assert sorted(got["content"]) == ["other text", "same text"]


def test_progress_ticks_stateful(spark, tmp_path):
    """applyInPandasWithState: escalating log-cadence thresholds fire once
    each as cumulative counts cross them (controller.py:252 semantics),
    with state carried ACROSS micro-batches."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "pt_src"
    # two files + maxFilesPerTrigger=1 -> two micro-batches in ONE run,
    # so the 1000-threshold fires from state carried ACROSS batches
    (spark.createDataFrame(
        [(i, base, "click", 1.0) for i in range(130)],
        "event_id long, ts timestamp, event_type string, value double")
     .coalesce(1).write.mode("overwrite").parquet(str(src)))
    (spark.createDataFrame(
        [(1000 + i, base, "click", 1.0) for i in range(1000)],
        "event_id long, ts timestamp, event_type string, value double")
     .coalesce(1).write.mode("append").parquet(str(src)))
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, event_type string, "
                      "value double")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = inc.progress_ticks(stream, base=100, factor=10, cap=10_000)
    q = (out.writeStream.format("memory").queryName("ticks")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "pt_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    t = spark.sql("select * from ticks order by tick").toPandas()
    assert set(t["tick"]) == {100, 1000}
    assert int(t["total"].max()) == 1130
    assert set(t["key"]) == {"click"}


def test_merge_crash_before_pointer_swap_is_harmless(spark, base_docs, tmp_path,
                                                    monkeypatch):
    """A merge that dies after building the merged dir but BEFORE the
    segments.json swap leaves queries on the old (correct) segment list;
    re-running the merge succeeds."""
    root = tmp_path / "root_mc"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    for i in (1, 2):
        ch = spark.createDataFrame(
            [(2000 + i, False, f"zz_mc doc {i}")],
            "doc_id long, deleted boolean, content string")
        inc.apply_changes(spark, root, ch, seq=i, cfg=CFG)
    before = inc.query_topk_incremental(spark, root, "zz_mc", 10).toPandas()
    assert set(before["doc_id"]) == {2001, 2002}

    # the crash: the merged dir is fully built, the pointer swap raises
    def crash(*a):
        raise RuntimeError("killed before the swap")

    with monkeypatch.context() as mp:
        mp.setattr(inc, "_write_segments", crash)
        with pytest.raises(RuntimeError, match="before the swap"):
            inc.merge_deltas(spark, root, cfg=CFG)
    from harvester_spark import tables
    orphan = root / "delta_00000002_m00000001"
    assert tables.is_committed(orphan / "lineage")

    # queries unaffected by the orphan (pointer still lists the old deltas)
    mid = inc.query_topk_incremental(spark, root, "zz_mc", 10).toPandas()
    assert set(mid["doc_id"]) == {2001, 2002}

    # re-running the merge commits cleanly and removes the old deltas
    assert inc.merge_deltas(spark, root, cfg=CFG) == orphan
    after = inc.query_topk_incremental(spark, root, "zz_mc", 10).toPandas()
    assert set(after["doc_id"]) == {2001, 2002}
    assert len(inc._delta_dirs(root)) == 1


@pytest.mark.parametrize("side", ["driver", "distributed"])
def test_merge_resumes_after_crash_mid_stage(spark, base_docs, tmp_path,
                                             pin_distributed, monkeypatch,
                                             side):
    """A merge killed mid-stage (the dictseg writer raises) leaves its
    committed stages in the dir named from its input set; re-running
    ``merge_deltas`` resumes into that dir, leaves those stages untouched,
    writes the rest, and ends with the stages of an uninterrupted merge.
    On both placements."""
    import shutil

    from harvester_spark import tables
    from harvester_spark.operators import dictseg

    root = tmp_path / "root_rs"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    for seq, rows in enumerate([
            [(600 + i, False, f"zz_rs import w{i % 3}") for i in range(20)],
            [(601, False, "zz_rs updated"), (2, True, None)],
            [(605, True, None), (620, False, "zz_rs late def")]], start=1):
        inc.apply_changes(spark, root, _changes(spark, rows), seq=seq,
                          cfg=CFG)
    if side == "distributed":
        pin_distributed()
    clean = tmp_path / "root_rs_clean"
    shutil.copytree(root, clean)
    want = inc.merge_deltas(spark, clean, cfg=CFG)

    def killed(*a):
        raise RuntimeError("killed mid-stage")

    with monkeypatch.context() as mp:
        mp.setattr(dictseg, "write_index_segment", killed)
        with pytest.raises(RuntimeError, match="mid-stage"):
            inc.merge_deltas(spark, root, cfg=CFG)
    out = root / want.name
    done = ["packed", "stats", "dictionary", "postings", "term_ub"]
    assert [n for n in done + ["dictseg", "lineage"]
            if tables.is_committed(out / n)] == done

    def marks():
        return {n: ((out / n / tables.SUCCESS_MARKER).stat().st_ino,
                    (out / n / tables.SUCCESS_MARKER).stat().st_mtime_ns)
                for n in done}

    committed = marks()
    assert inc.merge_deltas(spark, root, cfg=CFG) == out
    assert marks() == committed
    _delta_stages_equal(out, want)
    assert [d.name for d in inc._delta_dirs(root)] == [out.name]
    assert sorted(d.name for d in root.glob("delta_*")) == [out.name]
    for q in ("zz_rs", "import def"):
        got, exp = (inc.query_topk_incremental(spark, r, q, 10).toPandas()
                    for r in (root, clean))
        pd.testing.assert_frame_equal(got, exp, check_exact=True)


def test_apply_changes_counters_and_auto_compact(spark, base_docs, tmp_path):
    """apply_changes reports upsert/delete tallies (counted from the one
    collected batch, no extra jobs) and can trigger the compaction policy
    inline."""
    root = tmp_path / "root_ctr"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    reps = []
    for i in (1, 2):
        ch = spark.createDataFrame(
            [(3000 + i, False, f"zz_ctr doc {i}"), (i, True, None)],
            "doc_id long, deleted boolean, content string")
        reps.append(inc.apply_changes(spark, root, ch, seq=i, cfg=CFG,
                                      auto_compact_max_deltas=2))
    assert reps[0] == {"seq": 1, "n_changes": 2, "n_deletes": 1,
                       "n_upserts": 1, "compacted": False}
    assert reps[1]["compacted"] is True          # 2nd delta hit the policy
    assert len(inc._delta_dirs(root)) == 1
    res = inc.query_topk_incremental(spark, root, "zz_ctr", 10).toPandas()
    assert set(res["doc_id"]) == {3001, 3002}
    # idempotent re-apply reports skipped
    again = inc.apply_changes(spark, root, spark.createDataFrame(
        [(1, True, None)], "doc_id long, deleted boolean, content string"),
        seq=2, cfg=CFG)
    assert again == {"seq": 2, "skipped": True}


def test_delta_has_segment_and_query_reads_no_dictionary(spark, base_docs,
                                                         tmp_path,
                                                         monkeypatch):
    """CDC deltas commit a dictionary segment like every other index dir,
    so an incremental query looks terms up in the segments and never scans
    a ``dictionary`` table (no per-query dictionary-scan job), neither
    through Spark nor through the driver's pyarrow reads."""
    from harvester_spark import tables
    from harvester_spark.operators.dictseg import is_committed

    root = tmp_path / "segroot"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    changes = spark.createDataFrame(
        [(3, True, None), (901, False, "zz_seg_token import def")],
        "doc_id long, deleted boolean, content string")
    inc.apply_changes(spark, root, changes, seq=1, cfg=CFG)
    delta = root / "delta_00000001"
    assert is_committed(delta / "dictseg")

    reads = []
    real_read, real_files = tables.read_table, tables.parquet_files

    def spy(spark_, path):
        reads.append(str(path))
        return real_read(spark_, path)

    def spy_files(path):
        reads.append(str(path))
        return real_files(path)

    monkeypatch.setattr(tables, "read_table", spy)
    monkeypatch.setattr(tables, "parquet_files", spy_files)
    got = inc.query_topk_incremental(spark, root, "zz_seg_token",
                                     5).toPandas()
    assert list(got["doc_id"]) == [901]
    assert reads and not [p for p in reads if p.endswith("dictionary")]


def _run_in_group(spark, group, fn):
    """``fn()`` and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, deleted boolean, content string")


@pytest.fixture(scope="module")
def cdc_root(spark, base_docs, tmp_path_factory):
    """base + three deltas: the base top hit of ``import`` deleted, doc
    300 inserted in one delta and upserted in two later ones, base docs
    upserted and deleted."""
    root = tmp_path_factory.mktemp("cdc") / "root"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    top = int(inc.query_topk_incremental(spark, root, "import", 1)
              .collect()[0]["doc_id"])
    batches = [
        [(top, True, None), (300, False, "import ident_3 def class"),
         (301, False, "value data result import")],
        [(300, False, "import import def return self"),
         (7, False, "ident_7 value")],
        [(300, False, "def class return import ident_3"), (8, True, None),
         (302, False, "self data import import import")],
    ]
    for seq, rows in enumerate(batches, start=1):
        inc.apply_changes(spark, root, _changes(spark, rows), seq=seq,
                          cfg=CFG)
    assert len(inc._delta_dirs(root)) == 3
    return root, top


@pytest.mark.parametrize("q,k", QUERY_SET)
@pytest.mark.parametrize("mode", ["or", "and"])
def test_incremental_small_queries_launch_no_job_and_agree(
        spark, cdc_root, monkeypatch, q, k, mode):
    """Below the small-query gate an incremental query scores every
    segment on the driver and merges their top-k there: no Spark job,
    opening and collect included, and the ids and order of the
    per-segment Spark path above the gate."""
    root, top = cdc_root
    rows, jobs = _run_in_group(
        spark, f"cdc-small-{mode}-{q}",
        lambda: inc.query_topk_incremental(spark, root, q, k,
                                           mode=mode).collect())
    assert jobs == []
    assert top not in {r["doc_id"] for r in rows}

    # one constant gates both the reader and query_topk_index's default
    monkeypatch.setattr(bm25, "SMALL_QUERY_POSTINGS", 0)
    big, big_jobs = _run_in_group(
        spark, f"cdc-big-{mode}-{q}",
        lambda: inc.query_topk_incremental(spark, root, q, k,
                                           mode=mode).collect())
    if big:
        assert big_jobs
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in big]
    np.testing.assert_allclose([r["score"] for r in rows],
                               [r["score"] for r in big], rtol=1e-12)


def _segment_oracle(segments, query, k, mode="or"):
    """Per-segment numpy BM25 (each segment's own stats, its excluded docs
    dropped before the cut), merged score desc, doc_id asc."""
    terms = tokenize_query(query)
    tops = []
    for docs, excluded in segments:
        got = OracleBM25(docs, content_col="content").topk(
            terms, len(docs), mode=mode)
        tops.append(got[~got["doc_id"].isin(excluded)])
    res = pd.concat(tops, ignore_index=True)
    order = np.lexsort((res["doc_id"].to_numpy(), -res["score"].to_numpy()))
    return res.iloc[order[:k]].reset_index(drop=True)


def test_reader_refresh_picks_up_applies_and_merges(spark, base_docs,
                                                    tmp_path):
    """One reader across an upsert of the current top hit plus a delete, a
    second batch and a delta merge: each ``refresh()`` reopens only what
    changed and then answers like a freshly opened reader and like the
    per-segment oracle over the live docs; a ``refresh()`` with nothing
    changed reopens nothing. The base keeps its term cache across every
    refresh that keeps it (it reads no block after the first query), the
    merged segment is read once, and after a ``compact`` the base is a new
    handle with an empty cache."""
    import pyarrow as pa

    threads = pa.cpu_count()
    root = tmp_path / "root_refresh"
    inc.init_root(spark, base_docs, root, cfg=CFG)
    reader = inc.open_root(spark, root)
    q, k = "import def", 10
    base = base_docs.select("doc_id", "content").toPandas()

    def check(segments):
        got = inc.query_topk_incremental(spark, reader, q, k).toPandas()
        fresh = inc.query_topk_incremental(spark, root, q, k).toPandas()
        want = _segment_oracle(segments, q, k)
        assert list(got["doc_id"]) == list(fresh["doc_id"])
        np.testing.assert_array_equal(got["score"], fresh["score"])
        assert list(got["doc_id"]) == list(want["doc_id"])
        np.testing.assert_allclose(got["score"], want["score"], rtol=1e-6)
        handles = [h for h, _ in reader.segments]
        assert not reader.refresh()
        assert len(reader.segments) == len(handles)
        assert all(a is b for a, (b, _) in zip(handles, reader.segments))
        return got

    def spy(handle):
        calls, read = [], handle._read_blocks
        handle._read_blocks = lambda terms: calls.append(terms) or read(terms)
        return calls

    before = check([(base, [])])
    base_handle = reader.segments[0][0]
    base_reads = spy(base_handle)
    top, other = (int(x) for x in before["doc_id"][:2])

    up1 = pd.DataFrame({"doc_id": [top], "content": ["zz_r value"]})
    inc.apply_changes(spark, root, _changes(spark, [
        (top, False, "zz_r value"), (other, True, None)]), seq=1, cfg=CFG)
    assert reader.refresh()
    assert reader.segments[0][0] is base_handle
    after1 = check([(base, [top, other]), (up1, [])])
    assert base_reads == []  # a refresh that adds a delta keeps its cache
    assert top not in set(after1["doc_id"]) and other not in set(
        after1["doc_id"])

    up2 = pd.DataFrame({"doc_id": [400, top],
                        "content": ["import def import zz_r",
                                    "def import def value"]})
    inc.apply_changes(spark, root, _changes(
        spark, list(zip(up2["doc_id"], [False] * 2, up2["content"]))),
        seq=2, cfg=CFG)
    assert reader.refresh()
    check([(base, [top, other, 400]), (up1, [top]), (up2, [])])

    assert inc.merge_deltas(spark, root, cfg=CFG) is not None
    assert reader.refresh()
    assert len(reader.segments) == 2
    assert reader.segments[0][0] is base_handle
    merged_reads = spy(reader.segments[1][0])
    after3 = check([(base, [top, other, 400]), (up2, [])])
    assert top in set(after3["doc_id"])
    assert len(merged_reads) == 1 and base_reads == []

    live = pd.concat([base[~base["doc_id"].isin([top, other])], up2],
                     ignore_index=True)
    inc.compact(spark, root, spark.createDataFrame(live), cfg=CFG)
    assert reader.refresh()
    assert len(reader.segments) == 1
    new_base = reader.segments[0][0]
    assert new_base is not base_handle and not new_base._term_cache
    check([(live, [])])
    assert base_reads == []
    assert pa.cpu_count() == threads
