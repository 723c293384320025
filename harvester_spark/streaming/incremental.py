"""Incremental index maintenance — the CDC loop of the reference.

The reference consumes a CouchDB ``_changes`` feed with a persisted
``last_seq`` watermark (harvester/solr_updater.py:875-962, checkpoint at
:776-791), upserting docs into Solr and deleting by ``harvest_id_s`` query
(:914-924); full rebuild = ``since=0``. This module is the Spark-native
equivalent:

- a **delta-index** layout: ``root/base`` plus ``root/delta_NNNNN`` index
  dirs and append-only ``root/tombstones/seq=NNNNNNNN`` segments
  (delete-by-query analogue, solr_updater.py:793-817). Each CDC batch
  writes ONLY its own tombstone segment — O(batch) per batch, not
  O(total deletes) — and each segment is an independent atomic commit, so
  a crash can never lose previously-committed tombstones (the swap-rename
  failure mode of a single rewritten table does not exist here);
- :func:`apply_changes` — one batch of ``(doc_id, deleted, content)`` change
  events → new delta index + tombstones + advanced ``last_seq`` checkpoint;
- :func:`open_root` — a :class:`SegmentedReader` over the root: one
  ``IndexHandle`` per active segment (``base`` plus the deltas named in
  ``segments.json``) and every committed tombstone segment loaded once
  with pyarrow. Each segment gets its exclusion array, the tombstones of
  later seqs. Opening runs no Spark job; :meth:`SegmentedReader.refresh`
  reopens only what changed (Lucene's ``DirectoryReader.openIfChanged``);
- :func:`query_topk_incremental` — queries the union of base+deltas minus
  tombstones. Stats convention matches Lucene/Solr: documents deleted since
  the last compaction still count in N/avgdl/df until :func:`compact` runs
  (exactly how Solr behaves between commits with deletes pending merge).
  Below bm25's one gate the whole query is ``bm25.driver_topk`` over the
  segments, with no Spark job; above it, one distributed query per
  segment;
- :func:`compact` — full rebuild from the live doc set; after compaction
  results are rank-identical to a from-scratch build.

A CDC batch within the driver budget (``tables.collect_small``, deletes
counted as docs) is probed and collected once — two Spark jobs: its
tombstone segment is written with pyarrow, its tallies are counted with
pyarrow, and its delta is built on the driver by
:func:`~harvester_spark.operators.index_build.build_index`'s driver
placement over the same table. A larger batch writes its tombstones as a
Spark job that also counts the tallies (``observe``) and builds its delta
with a normal ``build_index`` call. :func:`merge_deltas` writes through
the same build stages, its S1 packing the deltas' live postings instead
of content, and picks its placement from the deltas' recorded ``N`` and
``text_bytes``; a crashed merge resumes into the same dir.
"""

from __future__ import annotations

import json
from functools import partial
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvester_spark import tables
from harvester_spark.operators import bm25
from harvester_spark.operators.bm25 import tokenize_query
from harvester_spark.operators.index_build import (IndexConfig,
                                                   _build_collected,
                                                   _run_stages, build_index,
                                                   merge_stages)


def init_root(spark: SparkSession, docs: DataFrame, root: str | Path, *,
              content_col: str = "content",
              cfg: IndexConfig | None = None) -> None:
    """Full build into ``root/base`` (the ``since=0`` path)."""
    root = Path(root)
    build_index(spark, docs, root / "base", content_col=content_col, cfg=cfg)
    (root / "last_seq").write_text("0")


def last_seq(root: str | Path) -> int:
    p = Path(root) / "last_seq"
    return int(p.read_text()) if p.exists() else 0


def _read_segments(root: Path) -> list[str] | None:
    """Active delta-segment names from the atomic pointer file (None =
    pointer not yet written → fall back to directory glob)."""
    p = root / "segments.json"
    if not p.exists():
        return None
    return json.loads(p.read_text())


def _write_segments(root: Path, names: list[str]) -> None:
    """Atomic pointer swap (tmp + rename): readers see either the old or
    the new segment list, never a partial one. This is what lets a merge
    supersede N delta dirs in ONE commit point."""
    tmp = root / "segments.json.__tmp__"
    tmp.write_text(json.dumps(sorted(set(names))))
    tmp.rename(root / "segments.json")


def _delta_dirs(root: Path) -> list[Path]:
    names = _read_segments(root)
    if names is None:
        return sorted(d for d in root.glob("delta_*")
                      if tables.is_committed(d / "postings"))
    return [root / n for n in names
            if tables.is_committed(root / n / "postings")]


def _tombstone_segments(root: Path) -> list[tuple[Path, int]]:
    """Committed tombstone segment dirs → [(path, seq)]."""
    tdir = root / "tombstones"
    if not tdir.exists():
        return []
    out = []
    for d in sorted(tdir.glob("seq=*")):
        if tables.is_committed(d):
            out.append((d, int(d.name.split("=")[1])))
    return out


def _read_tombstones(seg: Path) -> np.ndarray:
    """One tombstone segment's doc_ids, sorted and unique, read with
    pyarrow (no job)."""
    return np.unique(tables.read_arrow(seg, columns=["doc_id"]).column(0)
                     .to_numpy().astype(np.int64, copy=False))


def apply_changes(spark: SparkSession, root: str | Path, changes: DataFrame,
                  seq: int, *, content_col: str = "content",
                  cfg: IndexConfig | None = None,
                  auto_compact_max_deltas: int | None = None) -> dict:
    """Apply one CDC batch. ``changes``: (doc_id, deleted bool, content).

    Upserts = tombstone the old version + index the new one in a delta
    (the reference's delete-then-add at solr_updater.py:914-947). Every
    changed id is tombstoned; a row whose ``deleted`` is null counts as a
    change, not a delete, and is not indexed.
    Idempotent per ``seq``: re-applying an already-recorded seq is a no-op
    (the at-least-once + idempotent-upsert contract of the reference feed).
    Cost is O(batch): the batch's tombstones land in their own append-only
    segment (``tombstones/seq=NNNNNNNN``) — previously committed segments
    are never touched, so there is no swap window where a crash could lose
    them. Segments merge away only at :func:`compact`.

    A batch within the driver budget (``tables.collect_small``) is probed
    and collected once: the tombstone segment, the tallies and the delta
    build (on the driver) all come from that one table, two Spark jobs in
    all. The probe counts every change row, deletes included, so a batch
    whose upserts alone would fit can still take the Spark form: the
    tombstone write carries the tallies, then :func:`build_index` places
    the delta build by its own probe.
    """
    root = Path(root)
    if seq <= last_seq(root):
        return {"seq": seq, "skipped": True}
    delta_dir = root / f"delta_{seq:08d}"
    tomb_dir = root / "tombstones" / f"seq={seq:08d}"

    batch = tables.collect_small(changes, "doc_id", content_col,
                                 extra=("deleted",))
    if batch is not None:
        tables.write_arrow(batch.select(["doc_id"]), tomb_dir)
        n_changes = batch.num_rows
        n_deletes = pc.sum(batch.column("deleted")).as_py() or 0
        # invert(null) is null, and filter drops null rows
        upserts = batch.filter(pc.invert(batch.column("deleted")))
        build = partial(_build_collected, spark,
                        upserts.select(["doc_id", "content"]), delta_dir,
                        cfg=cfg)
    else:
        # the reference's updated/deleted tallies
        # (solr_updater.py:952-962, couchdb_sync_db_by_collection.py:
        # 120-131) ride the tombstone write job via observe()
        from pyspark.sql import Observation
        obs = Observation()
        counted = changes.observe(
            obs, F.count(F.lit(1)).alias("n_changes"),
            F.sum(F.when(F.col("deleted"), 1).otherwise(0))
            .alias("n_deletes"))
        tables.write_table(
            counted.select(F.col("doc_id").cast("long").alias("doc_id")),
            tomb_dir)
        n_changes = int(obs.get["n_changes"] or 0)
        n_deletes = int(obs.get["n_deletes"] or 0)
        build = partial(build_index, spark,
                        changes.filter(~F.col("deleted"))
                        .select("doc_id", content_col), delta_dir,
                        content_col=content_col, cfg=cfg)
    if n_changes - n_deletes > 0:
        build()
        _write_segments(root, [d.name for d in _delta_dirs(root)]
                        + [delta_dir.name])
    # commit point: last_seq advance (a crash before this point re-applies
    # the batch; every stage above overwrites idempotently)
    (root / "last_seq").write_text(str(seq))
    compacted = False
    if auto_compact_max_deltas is not None:
        compacted = maybe_compact(spark, root,
                                  max_deltas=auto_compact_max_deltas,
                                  cfg=cfg)
    return {"seq": seq, "n_changes": n_changes, "n_deletes": n_deletes,
            "n_upserts": n_changes - n_deletes, "compacted": compacted}


def _stamp(seg: Path) -> tuple[int, int] | None:
    """Identity of a segment's committed postings: a rebuilt dir (the
    base after :func:`compact`) gets a new one."""
    try:
        st = (seg / "postings" / tables.SUCCESS_MARKER).stat()
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


class SegmentedReader:
    """A point-in-time view of an incremental root, opened with no Spark
    job: ``segments`` holds ``(IndexHandle, exclusion array)`` for ``base``
    and each active delta, where the exclusion array is the sorted union
    of the tombstones with a seq above the segment's — the docs upserted
    or deleted after it was written. Tombstone segments are read once,
    with pyarrow.

    :meth:`refresh` is Lucene's ``DirectoryReader.openIfChanged``: it
    reopens only when ``last_seq``, ``segments.json``, the committed
    tombstone segments or a segment's postings commit changed, and keeps
    the handles of unchanged segment dirs, and with them their term caches
    (Lucene's per-segment readers): a merged, compacted or reopened segment
    starts cold. The postings stamp catches a :func:`compact`, which
    rebuilds ``base`` without touching the rest."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.segments: list[tuple[bm25.IndexHandle, np.ndarray]] = []
        self._version: tuple | None = None
        self._handles: dict[tuple, bm25.IndexHandle] = {}
        self._tombs: dict[Path, tuple[int, np.ndarray]] = {}
        self.refresh()

    def refresh(self) -> bool:
        """Pick up the root's current state; True when anything changed."""
        root = self.root
        segs = [(root / "base", 0)] + [(d, _seq_of(d))
                                       for d in _delta_dirs(root)]
        stamps = [(d, seq, _stamp(d)) for d, seq in segs]
        stamps = [x for x in stamps if x[2] is not None]
        tomb_segs = _tombstone_segments(root)
        version = (last_seq(root), _read_segments(root),
                   tuple(tomb_segs), tuple(stamps))
        if version == self._version:
            return False
        self._tombs = {p: self._tombs.get(p) or (seq, _read_tombstones(p))
                       for p, seq in tomb_segs}
        handles = {(d, st): self._handles.get((d, st))
                   or bm25.IndexHandle(self.spark, d, cache=False)
                   for d, _, st in stamps}
        for key, h in self._handles.items():
            if key not in handles:
                h.unpersist()
        self._handles = handles
        self.segments = [(handles[(d, st)], self._exclusions(seq))
                         for d, seq, st in stamps]
        self._version = version
        return True

    def _exclusions(self, seq: int) -> np.ndarray:
        later = [ids for s, ids in self._tombs.values() if s > seq]
        if not later:
            return np.empty(0, np.int64)
        return np.unique(np.concatenate(later))

    def close(self) -> None:
        """Release the segments' open dictionary files."""
        for h in self._handles.values():
            h.unpersist()

    def topk(self, query: str, k: int, *, mode: str = "or") -> DataFrame:
        """:func:`query_topk_incremental` on this reader."""
        spark = self.spark
        got = bm25.driver_topk(self.segments, tokenize_query(query), k, mode)
        if got is not None:
            return bm25.scores_frame(spark, got[0], got[1])
        # prune=True is safe with exclusions: the plan's θ seed drops the
        # excluded docs before θ is set (bm25._plan_blocks)
        parts = [bm25.query_topk_index(spark, handle, query, k, mode=mode,
                                       exclude_ids=excl if excl.size
                                       else None)
                 for handle, excl in self.segments]
        allscores = parts[0]
        for p in parts[1:]:
            allscores = allscores.unionByName(p)
        return allscores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def open_root(spark: SparkSession, root: str | Path) -> SegmentedReader:
    """Open an incremental root for querying (no Spark job)."""
    return SegmentedReader(spark, root)


def query_topk_incremental(spark: SparkSession,
                           root: str | Path | SegmentedReader, query: str,
                           k: int, *, mode: str = "or") -> DataFrame:
    """Top-k over base + deltas, tombstones filtered per segment.

    ``root`` is a path (opened fresh, no job, closed after the query) or
    an open reader. Each segment is scored with its own stats (Lucene
    per-segment scoring convention); the newest version of a doc wins by
    construction because older versions are tombstoned at upsert time. A
    segment's exclusions are dropped INSIDE its scoring, before its top-k
    cut — a post-limit filter would silently lose live docs ranked below
    a tombstoned one inside the segment's top-k window.

    Where it runs: ``bm25.driver_topk`` over the reader's segments gates
    the whole query (Σ df of the present terms missing from their
    segment's term cache ≤ ``bm25.SMALL_QUERY_POSTINGS``, exclusions ≤
    ``bm25.EXCLUDE_CAP``); below it each segment is scored on the driver,
    the lists merge with one ``lexsort`` (score desc, doc_id asc), and the
    result is a local relation — no Spark job, collect included. Otherwise
    every segment runs ``query_topk_index`` with its exclusion array, and
    the per-segment results are unioned and sorted by Spark. An open
    reader keeps each segment's decoded terms across queries and
    :meth:`SegmentedReader.refresh`; a path starts cold.
    """
    if isinstance(root, SegmentedReader):
        return root.topk(query, k, mode=mode)
    reader = open_root(spark, root)
    try:
        return reader.topk(query, k, mode=mode)
    finally:
        reader.close()


def merge_deltas(spark: SparkSession, root: str | Path, *,
                 cfg: IndexConfig | None = None) -> Path | None:
    """Size-tiered delta merge: fold ALL current delta segments into one,
    WITHOUT document content (Lucene's segment merge, content-free). The
    merge is a build whose S1 source is the deltas' live postings
    (``index_build.merge_stages``): each delta's blocks are decoded, the
    ids tombstoned after it dropped, and the rest packed and written
    through the build's own stages.

    The merged segment's stats are recomputed from its live postings: N
    counts the distinct live docs that have postings (a zero-token doc
    drops out), avgdl their tokens; so querying it is rank-identical to a
    fresh index built over the same live documents. ``text_bytes`` is the
    inputs' sum (an upper bound: tombstoned docs still count). The merge
    runs on the driver when the deltas' recorded ``N`` and ``text_bytes``
    fit the driver budget (``tables.fits_driver``), distributed otherwise
    or when a delta lacks ``text_bytes``.

    Commit protocol: the merged dir is named from its input set,
    ``delta_<last seq>_m<first seq>``, and every stage in it is an atomic
    commit, so a re-run after a crash resumes at the first stage not
    committed. The single commit point is the atomic ``segments.json``
    swap that supersedes the old deltas; a crash before it leaves the old
    (still correct) segment list. Every other delta dir is removed only
    AFTER the swap — an orphan of an input set that changed after a crash
    included (single-writer assumed, like the reference's
    one-worker-per-collection queue, harvester/config.py:16-23).
    Returns the merged dir (None when <2 deltas)."""
    import shutil

    root = Path(root)
    deltas = _delta_dirs(root)
    if len(deltas) < 2:
        return None
    seqs = [_seq_of(d) for d in deltas]
    out = root / f"delta_{max(seqs):08d}_m{min(seqs):08d}"
    tombs = [(s, _read_tombstones(p)) for p, s in _tombstone_segments(root)]
    inputs = [(d / "postings", np.concatenate(
        [ids for s, ids in tombs if s > seq] + [np.empty(0, np.int64)]))
        for d, seq in zip(deltas, seqs)]

    # a delta without text_bytes — written before the stats recorded it —
    # sends the merge to the distributed side
    stats = [tables.read_meta(d / "stats") for d in deltas]
    text_bytes = (sum(m["text_bytes"] for m in stats)
                  if all("text_bytes" in m for m in stats) else None)
    n_docs = sum(m["N"] for m in stats)
    side = ("driver" if text_bytes is not None
            and tables.fits_driver(n_docs, text_bytes) else "distributed")
    cfg = cfg or IndexConfig()
    _run_stages(spark, out, cfg, out.name, False,
                {"side": side, "docs": n_docs, "text_bytes": text_bytes},
                merge_stages(spark, inputs, side, cfg, text_bytes))
    # commit point: supersede the old deltas in one pointer swap
    _write_segments(root, [out.name])
    for d in root.glob("delta_*"):
        if d != out:
            shutil.rmtree(d, ignore_errors=True)
    return out


def _seq_of(delta_dir: Path) -> int:
    return int(delta_dir.name.split("_")[1])


def maybe_compact(spark: SparkSession, root: str | Path, *,
                  max_deltas: int = 4,
                  cfg: IndexConfig | None = None) -> bool:
    """The compaction POLICY the reference leaves to Solr commits: when the
    delta count reaches ``max_deltas``, merge them (keeps per-query segment
    fan-out — and tombstone scan cost — bounded under a continuous CDC
    feed). Returns True when a merge ran."""
    if len(_delta_dirs(Path(root))) >= max_deltas:
        return merge_deltas(spark, root, cfg=cfg) is not None
    return False


def compact(spark: SparkSession, root: str | Path, live_docs: DataFrame, *,
            content_col: str = "content",
            cfg: IndexConfig | None = None) -> None:
    """Rebuild ``base`` from the live document set and clear deltas +
    tombstones (the reference's full re-sync, sync_couch_collection_to_solr,
    solr_updater.py:831-872). After this, queries are rank-identical to a
    fresh build."""
    import shutil
    root = Path(root)
    new_base = root / "base.__next__"
    if new_base.exists():
        shutil.rmtree(new_base)
    build_index(spark, live_docs, new_base, content_col=content_col, cfg=cfg)
    old = root / "base"
    if old.exists():
        shutil.rmtree(old)
    new_base.rename(old)
    for d in root.glob("delta_*"):
        shutil.rmtree(d)
    tomb = root / "tombstones"
    if tomb.exists():
        shutil.rmtree(tomb)
    seg = root / "segments.json"
    if seg.exists():
        seg.unlink()


# ---------------------------------------------------------------------------
# Structured Streaming: windowed event aggregation with watermark
# (SURVEY §2.10 — the reference's feed has no event-time windows; this is
# the training-pipeline-grade streaming operator over the events table)
# ---------------------------------------------------------------------------

def streaming_exact_dedup(docs_stream: DataFrame, *,
                          content_col: str = "content",
                          ts_col: str = "ts",
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: first occurrence of each content sha passes,
    replays within the watermark window are dropped, and state is EVICTED
    past the watermark (``dropDuplicatesWithinWatermark``) so state size is
    bounded by the window's arrival rate — unbounded ``dropDuplicates``
    state is the classic 100 TB streaming foot-gun. The streaming analogue
    of the exact-dedup operator (operators/dedup.exact_duplicates)."""
    return (docs_stream
            .withColumn("content_sha256", F.sha2(F.col(content_col), 256))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_sha256"]))


def progress_ticks(events_stream: DataFrame, *, key_col: str = "event_type",
                   base: int = 100, factor: int = 10,
                   cap: int = 10_000) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): emit a tick
    row whenever a key's cumulative record count crosses its next
    threshold — the reference's escalating progress-log cadence (every 100
    records, ×10 up to 10^4, then every 10^4;
    harvester/fetcher/controller.py:252,264-270), as exactly-once stream
    state instead of a fetch-loop counter."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "key string, total long, tick long"
    state_schema = "total long, next_tick long"

    def fn(key: tuple, pdfs: "Iterator[pd.DataFrame]",
           state: GroupState) -> "Iterator[pd.DataFrame]":
        import pandas as pd
        total, next_tick = state.get if state.exists else (0, base)
        for pdf in pdfs:
            total += len(pdf)
        rows = []
        while total >= next_tick:
            rows.append((key[0], total, next_tick))
            next_tick = (next_tick * factor if next_tick < cap
                         else next_tick + cap)
        state.update((total, next_tick))
        if rows:
            yield pd.DataFrame(rows, columns=["key", "total", "tick"])

    return (events_stream.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    GroupStateTimeout.NoTimeout))


def windowed_event_counts(events_stream: DataFrame, *,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """readStream-ready tumbling-window count/sum per event_type with
    late-data watermark. Works identically on a batch DataFrame (Spark
    unifies the API); tests drive it through an actual stream."""
    return (events_stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n", "sum_value"))


def stream_apply_changes(spark: SparkSession, root: str | Path,
                         changes_stream: DataFrame, *,
                         checkpoint_dir: str | Path,
                         content_col: str = "content",
                         cfg: "IndexConfig | None" = None,
                         auto_compact_max_deltas: int | None = None,
                         seq_base: int = 1,
                         trigger_available_now: bool = True):
    """Drive the CDC delta-index store from a STREAM of change rows
    (doc_id, deleted, content): Structured Streaming's end of the
    reference's long-poll ``_changes`` consumer (solr_updater.py:875-962).

    ``foreachBatch`` + :func:`apply_changes` with seq = seq_base +
    batch_id gives exactly-once index application on top of the sink's
    at-least-once replay: a micro-batch re-delivered after a crash hits
    the ``seq <= last_seq`` idempotency gate and no-ops, which IS the
    documented exactly-once-by-idempotent-sink pattern (the reference's
    own contract: an at-least-once feed + idempotent delete-then-add).
    Returns the started StreamingQuery (caller awaits/stops)."""
    cfg_ = cfg

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(spark, root, batch_df, seq_base + int(batch_id),
                      content_col=content_col, cfg=cfg_,
                      auto_compact_max_deltas=auto_compact_max_deltas)

    w = (changes_stream.writeStream
         .foreachBatch(apply_batch)
         .option("checkpointLocation", str(checkpoint_dir)))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
