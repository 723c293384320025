"""Inverted-index build: the Spark-native replacement for the reference's
fetch→map→``push_doc_to_solr`` loop (harvester/solr_updater.py:688-766),
where Solr's indexer did the actual posting-list construction.

Pipeline (each stage a materialized, resumable checkpoint — the analogue of
the reference's per-run ingest doc + ``last_seq`` watermark,
harvester/fetcher/controller.py:159-212, solr_updater.py:776-791):

  S1 packed      map-side posting packs: per (term, arrow-batch) varint
                 sub-lists — THE shuffle-volume optimization (see below);
                 one pass over content, no shuffle
  S2 stats       N, avgdl — derived from pack metadata, no second pass
  S3 dictionary  (term, df, cf, idf)        tiny agg over pack metadata
  S4 postings    term-sharded merge of packs → final delta+varint blocks
                 with block-max metadata; hot terms salted
  S5 term_ub     per-term score upper bound (max block_max_tfnorm)
  S6 dictseg     front-coded term dictionary (operators/dictseg.py), the
                 lookup every query starts with
  S7 lineage     per-partition build provenance (concurrent with S5→S6)

Why map-side packing (S3) instead of shuffling (doc_id, term, tf) rows:
a code corpus at 10^12 files produces ~10^14 posting rows; shuffling them
as rows costs ~40 B each (columns + shuffle framing) while the same posting
packed map-side costs ~4-6 B (varint gap + tf + dl). Pre-aggregation into
packs cuts the only unavoidable shuffle by ~7× AND removes the need to
materialize a row-form term-doc table at all. Measured on this sandbox the
row-shuffle saturated memory bandwidth at 4 cores; packs restore scaling.

Skew: pack merge groups by (term, salt) where hot terms (df above
threshold, detected from pack metadata — the heavy-hitter pass) spread
their packs across ``s(term) = ceil(df / salt_range_docs)`` salts by
pack partition id. Merged blocks of different salts may overlap in doc-id
range; scoring accumulates per doc_id so overlap is harmless, and tests
enforce decoded-content equality salted vs unsalted.

Vectorization: tokenization + TF via pyarrow kernels; pack/merge encode via
numpy (single varint stream per batch, sliced per pack/block). No per-row
Python anywhere.

INVARIANT: ``doc_id`` must be UNIQUE across the corpus (use
operators/docids.assign_doc_ids). Duplicate ids silently merge distinct
documents' postings: their BM25 contributions SUM in scoring, which both
inflates scores and breaks the block-max bound (a doc's summed score can
exceed every block's UB → pruning drops true top-k docs). Found the hard
way: a corpus produced by the pre-fix nondeterministic assign_doc_ids had
3% duplicated ids and pruned queries returned empty at 300k docs.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from harvester_spark import tables
from harvester_spark.operators.codec import (BLOCK_SIZE, varint_decode,
                                             varint_encode, varint_sizes)

K1 = 1.2
B = 0.75


@dataclass
class IndexConfig:
    """Knobs are functions of corpus stats, not magic constants (SURVEY §7d)."""

    k1: float = K1
    b: float = B
    block_size: int = BLOCK_SIZE
    # term is "hot" (merge salted) when its df exceeds this
    salt_df_threshold: int = 100_000
    # target postings per salt bucket for hot terms
    salt_range_docs: int = 1_000_000
    shuffle_partitions: int | None = None
    # postings merge runs as this many independently-committed shard
    # groups (hash(term) % N): a killed build resumes at the first
    # incomplete group, not the whole merge (north_rule term-shard resume).
    # 1 = single job (right for small builds; at 100 TB pick ~#executors)
    postings_shard_groups: int = 1
    # packing buffers input batches up to this many docs before encoding,
    # so pack granularity is per-PARTITION, not per-Arrow-batch: fewer,
    # denser packs → less binary-cell serde through shuffle + parquet.
    # Bounded: ~flush_docs × avgdl × 24 B peak per task.
    pack_flush_docs: int = 32_768
    # parquet codec for the INTERMEDIATE packed table (read once by the
    # merge, lives on fast scratch). Interleaved A/B at local[16]/300k
    # docs on shm: snappy 24.0k docs/s (79MB packed) > uncompressed 22.9k
    # (108MB) > lz4 21.5k — even on memory-backed storage the smaller
    # snappy file wins (page-cache + memory-bandwidth bound), so None
    # (session default = snappy) is the measured best.
    pack_compression: str | None = None


PACKED_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("part_id", IntegerType()),
    StructField("doc_count", IntegerType()),
    StructField("sum_tf", LongType()),
    StructField("max_tf", IntegerType()),
    StructField("doc_id_first", LongType()),
    # ONE binary cell per pack: varint gap stream (doc_count-1 values) ++
    # tf stream ++ dl stream; the two split offsets ride as fixed-width
    # ints. One cell instead of three: rare identifiers make millions of
    # single-posting packs, and per-cell Arrow/Parquet overhead (offsets,
    # page metadata, shuffle framing) was 3× what it needed to be.
    StructField("ids_len", IntegerType()),
    StructField("tfs_len", IntegerType()),
    StructField("payload", BinaryType()),
])

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("salt", IntegerType()),
    StructField("block_id", IntegerType()),
    StructField("doc_id_first", LongType()),
    StructField("doc_id_last", LongType()),
    StructField("doc_count", IntegerType()),
    StructField("max_tf", IntegerType()),
    StructField("block_max_tfnorm", DoubleType()),
    StructField("deltas", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("dls", BinaryType()),
    StructField("part_id", IntegerType()),
])


# --------------------------------------------------------------------------
# vectorized helpers
# --------------------------------------------------------------------------

def _slice_stream(values: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray, keep: np.ndarray | None = None
                  ) -> list[bytes]:
    """Encode ``values`` as ONE varint stream; return per-[start,end) byte
    slices. ``keep`` masks values excluded from the stream (their size is 0
    so offsets stay aligned)."""
    if keep is None:
        stream = varint_encode(values)
        nb = varint_sizes(values) if values.size else np.empty(0, np.int64)
    else:
        kept = values[keep]
        stream = varint_encode(kept)
        nb = np.zeros(values.size, dtype=np.int64)
        if kept.size:
            nb[keep] = varint_sizes(kept)
    cum = np.concatenate(([0], np.cumsum(nb)))
    return [stream[cum[s]:cum[e]] for s, e in zip(starts, ends)]


def _tfnorm(tf: np.ndarray, dl: np.ndarray, k1: float, b: float,
            avgdl: float) -> np.ndarray:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


# --------------------------------------------------------------------------
# S3: map-side posting packer (no shuffle; one pass over content)
# --------------------------------------------------------------------------

def pack_batch(pdf: pd.DataFrame, part_id: int) -> pd.DataFrame | None:
    """The packing kernel: one pandas batch of (doc_id, content) → pack
    rows (one per term present in the batch). Module-level so the no-Spark
    kernel microbenchmark (bench_kernel.py) drives the EXACT code Spark
    runs.

    All heavy work is integer-vectorized: tokens are dictionary-encoded to
    int32 codes immediately after the pyarrow regex split, so grouping and
    sorting never touch python-object strings (an object-dtype lexsort is
    memory-traffic-bound and was the kernel's dominant cost)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from harvester_spark.functions.tokenize import TOKEN_SPLIT_RE

    arr = pa.Array.from_pandas(pdf["content"].fillna(""))
    splits = pc.split_pattern_regex(pc.utf8_lower(arr), TOKEN_SPLIT_RE)
    flat = pc.list_flatten(splits)
    parent = pc.list_parent_indices(splits)
    mask = pc.not_equal(flat, "")
    flat = pc.filter(flat, mask)
    parent = pc.filter(parent, mask)
    if len(flat) == 0:
        return None

    denc = pc.dictionary_encode(flat)
    if isinstance(denc, pa.ChunkedArray):
        denc = denc.combine_chunks()
    if isinstance(parent, pa.ChunkedArray):
        parent = parent.combine_chunks()
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = denc.dictionary
    pos = parent.to_numpy(zero_copy_only=False).astype(np.int64)
    nrows = len(pdf)

    # tf per (term-code, doc-pos): sort the combined int key once
    key = codes * nrows + pos
    key.sort(kind="stable")
    new = np.ones(key.size, dtype=bool)
    new[1:] = key[1:] != key[:-1]
    starts0 = np.nonzero(new)[0]
    tf = np.diff(np.append(starts0, key.size)).astype(np.int64)
    ukey = key[starts0]
    ucode = ukey // nrows
    upos = ukey % nrows

    dl_by_pos = np.bincount(pos, minlength=nrows)
    doc_ids = pdf["doc_id"].to_numpy(np.int64)[upos]
    dl = dl_by_pos[upos].astype(np.int64)

    # pack order: (term-code, doc_id) — int lexsort over the reduced pairs
    order = np.lexsort((doc_ids, ucode))
    ucode, doc_ids, tf, dl = ucode[order], doc_ids[order], tf[order], dl[order]
    new_term = np.ones(ucode.size, dtype=bool)
    new_term[1:] = ucode[1:] != ucode[:-1]
    starts = np.nonzero(new_term)[0]
    ends = np.append(starts[1:], ucode.size)

    gaps = np.zeros(ucode.size, dtype=np.uint64)
    gaps[1:] = (doc_ids[1:] - doc_ids[:-1]).astype(np.uint64)
    terms = vocab.take(pa.array(ucode[starts], type=pa.int64())) \
                 .to_pandas().to_numpy()
    ids_b = _slice_stream(gaps, starts, ends, keep=~new_term)
    tfs_b = _slice_stream(tf.astype(np.uint64), starts, ends)
    dls_b = _slice_stream(dl.astype(np.uint64), starts, ends)
    return pd.DataFrame({
        "term": terms,
        "part_id": np.full(starts.size, part_id, dtype=np.int32),
        "doc_count": (ends - starts).astype(np.int32),
        "sum_tf": np.add.reduceat(tf, starts).astype(np.int64),
        "max_tf": np.maximum.reduceat(tf, starts).astype(np.int32),
        "doc_id_first": doc_ids[starts],
        "ids_len": np.fromiter((len(x) for x in ids_b), np.int32,
                               len(ids_b)),
        "tfs_len": np.fromiter((len(x) for x in tfs_b), np.int32,
                               len(tfs_b)),
        "payload": [b"".join(t) for t in zip(ids_b, tfs_b, dls_b)],
    })


def build_packs(docs: DataFrame, cfg: IndexConfig, *,
                id_col: str = "doc_id",
                content_col: str = "content") -> DataFrame:
    """docs → one pack row per (term, arrow batch): sorted doc ids +
    tfs + dls, varint-encoded, with per-pack metadata.

    Deliberately independent of global stats (avgdl): score-related
    metadata (block_max_tfnorm) is computed at merge time, so packing is
    the FIRST stage — one pass over content, no prior scan needed."""
    import pyarrow as pa

    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    flush_docs = cfg.pack_flush_docs

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pa.set_cpu_count(1)
        from pyspark import TaskContext
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        buf: list[pd.DataFrame] = []
        buffered = 0

        def flush() -> pd.DataFrame | None:
            pdf = buf[0] if len(buf) == 1 else pd.concat(buf,
                                                         ignore_index=True)
            return pack_batch(pdf, part_id)

        for pdf in batches:
            if not len(pdf):
                continue
            buf.append(pdf)
            buffered += len(pdf)
            if buffered >= flush_docs:
                out = flush()
                if out is not None:
                    yield out
                buf, buffered = [], 0
        if buf:
            out = flush()
            if out is not None:
                yield out

    return src.mapInPandas(pack, schema=PACKED_SCHEMA)


# --------------------------------------------------------------------------
# S5: term-sharded merge of packs → final blocks
# --------------------------------------------------------------------------

def _encode_blocks(pdf: pd.DataFrame, k1: float, b: float, avgdl: float,
                   block_size: int, part_id: int) -> pd.DataFrame:
    """Encode sorted (term, salt, doc_id, tf, dl) rows into block rows.
    Fully vectorized (one varint stream per field, sliced per block)."""
    n = len(pdf)
    term = pdf["term"].to_numpy()
    salt = pdf["salt"].to_numpy()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tf = pdf["tf"].to_numpy(dtype=np.int64)
    dl = pdf["dl"].to_numpy(dtype=np.int64)

    new_group = np.ones(n, dtype=bool)
    new_group[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    grp = np.cumsum(new_group) - 1
    grp_starts = np.nonzero(new_group)[0]
    pos = np.arange(n) - grp_starts[grp]
    new_block = pos % block_size == 0
    blk_starts = np.nonzero(new_block)[0]
    blk_ends = np.append(blk_starts[1:], n)

    tfnorm = _tfnorm(tf.astype(np.float64), dl.astype(np.float64),
                     k1, b, avgdl)
    blk_grp = grp[blk_starts]
    ng = np.ones(blk_starts.size, dtype=bool)
    ng[1:] = blk_grp[1:] != blk_grp[:-1]
    first_blk = np.maximum.accumulate(
        np.where(ng, np.arange(blk_starts.size), 0))

    gaps = np.zeros(n, dtype=np.uint64)
    gaps[1:] = (ids[1:] - ids[:-1]).astype(np.uint64)
    return pd.DataFrame({
        "term": term[blk_starts],
        "salt": salt[blk_starts].astype("int32"),
        "block_id": (np.arange(blk_starts.size) - first_blk).astype("int32"),
        "doc_id_first": ids[blk_starts],
        "doc_id_last": ids[blk_ends - 1],
        "doc_count": (blk_ends - blk_starts).astype("int32"),
        "max_tf": np.maximum.reduceat(tf, blk_starts).astype("int32"),
        "block_max_tfnorm": np.maximum.reduceat(tfnorm, blk_starts),
        "deltas": _slice_stream(gaps, blk_starts, blk_ends, keep=~new_block),
        "tfs": _slice_stream(tf.astype(np.uint64), blk_starts, blk_ends),
        "dls": _slice_stream(dl.astype(np.uint64), blk_starts, blk_ends),
        "part_id": np.full(blk_starts.size, part_id, dtype=np.int32),
    })


def _split_payload(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pack rows with one ``payload`` cell → the ids/tfs/dls views the
    decoder consumes. memoryview slices — no copies until the decoder's
    single join."""
    mv = [memoryview(p) for p in pdf["payload"]]
    il = pdf["ids_len"].to_numpy()
    tl = pdf["tfs_len"].to_numpy()
    return pdf.assign(
        ids=[m[:int(a)] for m, a in zip(mv, il)],
        tfs=[m[int(a):int(a) + int(b)] for m, a, b in zip(mv, il, tl)],
        dls=[m[int(a) + int(b):] for m, a, b in zip(mv, il, tl)])


def _decode_packs(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pack rows → (term, salt, doc_id, tf, dl) rows, sorted
    (term, salt, doc_id).

    Fully vectorized across packs: every pack's varint stream is joined and
    decoded in ONE call, then doc ids are reconstructed with a segmented
    cumulative sum. (A per-pack loop dies here: rare identifiers create
    millions of single-posting packs.)
    """
    counts = pdf["doc_count"].to_numpy(np.int64)
    firsts = pdf["doc_id_first"].to_numpy(np.int64)
    total = int(counts.sum())
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]

    gaps = varint_decode(b"".join(pdf["ids"])).astype(np.int64)
    vals = np.zeros(total, dtype=np.int64)
    is_start = np.zeros(total, dtype=bool)
    is_start[starts] = True
    vals[is_start] = firsts
    vals[~is_start] = gaps
    cum = np.cumsum(vals)
    doc_id = cum - np.repeat(cum[starts] - firsts, counts)

    tf = varint_decode(b"".join(pdf["tfs"])).astype(np.int64)
    dl = varint_decode(b"".join(pdf["dls"])).astype(np.int64)

    # rows arrive sorted by (term, salt, doc_id_first) → pack index order
    # is already the (term, salt) order; encode terms as codes for lexsort
    term_vals = pdf["term"].to_numpy()
    new_key = np.ones(len(pdf), dtype=bool)
    if len(pdf) > 1:
        salt_vals = pdf["salt"].to_numpy()
        new_key[1:] = ((term_vals[1:] != term_vals[:-1])
                       | (salt_vals[1:] != salt_vals[:-1]))
    key_code = np.cumsum(new_key) - 1
    row_key = np.repeat(key_code, counts)
    order = np.lexsort((doc_id, row_key))

    return pd.DataFrame({
        "term": np.repeat(term_vals, counts)[order],
        "salt": np.repeat(pdf["salt"].to_numpy(np.int32), counts)[order],
        "doc_id": doc_id[order],
        "tf": tf[order],
        "dl": dl[order],
    })


def _carry_merge(arranged: DataFrame, prep, k1: float, b: float,
                 avgdl: float, block_size: int) -> DataFrame:
    """Stream (term, salt)-sorted batches into block rows, carrying the
    trailing group across Arrow-batch boundaries so a group is always
    encoded whole. (Grouped-map applyInPandas would materialize one pandas
    frame per group — collapses under millions of single-pack terms.)
    ``prep`` maps a batch slice to sorted (term, salt, doc_id, tf, dl)."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_t = pdf["term"].iloc[-1]
            last_s = pdf["salt"].iloc[-1]
            tail = (pdf["term"] == last_t) & (pdf["salt"] == last_s)
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield _encode_blocks(prep(body), k1, b, avgdl,
                                     block_size, part_id)
        if carry is not None and len(carry):
            yield _encode_blocks(prep(carry.reset_index(drop=True)),
                                 k1, b, avgdl, block_size, part_id)

    return arranged.mapInPandas(merge, schema=POSTINGS_SCHEMA)


def merge_packs(packs: DataFrame, hot_salts: dict[str, int], avgdl: float,
                cfg: IndexConfig) -> DataFrame:
    """Shuffle packs by (term, salt) and merge into final posting blocks.

    ``hot_salts``: term → number of salt buckets (1 for normal terms).
    A pack's salt = part_id % s(term), so a hot term's merge work spreads
    across s tasks instead of one.
    """
    spark = packs.sparkSession
    hot_items = list(hot_salts.items())
    if hot_items:
        hot_df = F.broadcast(spark.createDataFrame(
            hot_items, "term string, n_salts int"))
        salted = (packs.join(hot_df, "term", "left")
                  .withColumn("salt",
                              F.when(F.col("n_salts").isNotNull(),
                                     F.pmod(F.col("part_id"),
                                            F.col("n_salts")))
                              .otherwise(F.lit(0)).cast("int"))
                  .drop("n_salts"))
    else:
        salted = packs.withColumn("salt", F.lit(0).cast("int"))

    num_parts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    arranged = (salted.repartition(num_parts, "term", "salt")
                .sortWithinPartitions("term", "salt", "doc_id_first"))
    return _carry_merge(arranged,
                        lambda body: _decode_packs(_split_payload(body)),
                        cfg.k1, cfg.b, avgdl, cfg.block_size)


ROWS_SCHEMA = ("term string, salt int, doc_id long, tf long, dl long")


def decode_postings(postings: DataFrame) -> DataFrame:
    """Posting blocks → raw (term, salt, doc_id, tf, dl) rows, fully
    vectorized (shared varint machinery with the pack decoder). The
    building block for segment merges: an index can be re-built from its
    own postings without touching document content."""
    sel = postings.select("term", "salt", "doc_count", "doc_id_first",
                          F.col("deltas").alias("ids"), "tfs", "dls")

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _decode_packs(pdf)

    return sel.mapInPandas(dec, schema=ROWS_SCHEMA)


def rows_to_blocks(rows: DataFrame, avgdl: float,
                   cfg: IndexConfig) -> DataFrame:
    """Raw posting rows → final compressed blocks (one (term, salt)
    shuffle + streaming encode). Salts are preserved, so hot-term spreading
    carries through segment merges."""
    spark = rows.sparkSession
    num_parts = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    arranged = (rows.repartition(num_parts, "term", "salt")
                .sortWithinPartitions("term", "salt", "doc_id"))
    return _carry_merge(arranged, lambda body: body, cfg.k1, cfg.b, avgdl,
                        cfg.block_size)


def build_index_from_rows(spark: SparkSession, rows: DataFrame,
                          index_dir: str | Path, *,
                          cfg: IndexConfig | None = None,
                          run_id: str = "merge0") -> None:
    """Materialize a full index directory (stats/dictionary/postings/
    term_ub/dictseg/lineage, same layout as :func:`build_index`) from raw
    posting rows — the segment-merge path: no document content needed.

    Stats note: N counts distinct posting-bearing docs; a zero-token doc
    (unqueryable either way) that was counted by its original segment's
    build drops out of the merged stats."""
    cfg = cfg or IndexConfig()
    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)

    rows = rows.persist()
    stats = rows.agg(
        F.count_distinct("doc_id").alias("n"),
        F.sum("tf").alias("total")).collect()[0]
    n_docs = int(stats["n"] or 0)
    total = int(stats["total"] or 0)
    avgdl = (total / n_docs) if n_docs else 0.0

    st = index_dir / "stats"
    st.mkdir(parents=True, exist_ok=True)
    (st / "_table_meta.json").write_text(json.dumps(
        {"N": n_docs, "avgdl": avgdl, "total_tokens": total,
         "k1": cfg.k1, "b": cfg.b}))
    (st / tables.SUCCESS_MARKER).touch()

    dic = (rows.groupBy("term")
           .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
           .withColumn("idf", F.log(
               F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
               / (F.col("df") + 0.5))))
    tables.write_table(dic, index_dir / "dictionary", sort_cols=["term"])

    meta = {"avgdl": avgdl, "N": n_docs, "k1": cfg.k1, "b": cfg.b,
            "block_size": cfg.block_size, "merged": True}
    tables.write_table(rows_to_blocks(rows, avgdl, cfg),
                       index_dir / "postings", sort_cols=["term"], meta=meta)
    rows.unpersist()

    # no resume here: the caller builds into a fresh directory
    write_index_tail(spark, index_dir, run_id,
                     lambda name, fn: fn(index_dir / name))


def write_index_tail(spark: SparkSession, index_dir: Path, run_id: str,
                     stage) -> None:
    """The stages every index directory ends with, all derived from its
    committed ``postings``: ``term_ub`` (exact per-term score upper bound,
    so queries prune without a per-query aggregation job), ``dictseg``
    (the front-coded term dictionary every query looks terms up in) and
    ``lineage`` (per-build-partition provenance).

    ``stage(name, fn)`` runs ``fn(index_dir / name)`` as one atomic commit
    (:func:`build_index` skips stages a resumed build already committed).
    term_ub → dictseg is a chain (the segment folds ``max_tfnorm``), and it
    runs CONCURRENTLY with lineage: all three are small metadata-sized jobs
    dominated by fixed per-job overhead, so Spark's scheduler interleaves
    them across the same executors."""
    from concurrent.futures import ThreadPoolExecutor

    from harvester_spark.operators.dictseg import write_index_segment

    def term_ub(out: Path) -> None:
        postings = tables.read_table(spark, index_dir / "postings")
        ub = postings.groupBy("term").agg(
            F.max("block_max_tfnorm").alias("max_tfnorm"),
            F.count("*").alias("n_blocks"))
        tables.write_table(ub, out, sort_cols=["term"])

    def lineage(out: Path) -> None:
        postings = tables.read_table(spark, index_dir / "postings")
        lin = (postings.groupBy("part_id")
               .agg(F.min("term").alias("term_min"),
                    F.max("term").alias("term_max"),
                    F.countDistinct("term").alias("terms"),
                    F.sum("doc_count").alias("postings"),
                    F.count("*").alias("blocks"),
                    F.sum(F.length("deltas") + F.length("tfs")
                          + F.length("dls")).alias("bytes_encoded"))
               .withColumn("run_id", F.lit(run_id))
               .withColumn("status", F.lit("complete")))
        tables.write_table(lin, out)

    def ub_then_seg() -> None:
        stage("term_ub", term_ub)
        stage("dictseg", lambda out: write_index_segment(spark, index_dir,
                                                         out))

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(ub_then_seg), ex.submit(stage, "lineage", lineage)]
        for f in futs:
            f.result()


# --------------------------------------------------------------------------
# Orchestration: resumable staged build with lineage
# --------------------------------------------------------------------------

@dataclass
class BuildReport:
    run_id: str
    stages: list[dict] = field(default_factory=list)
    n_docs: int = 0
    avgdl: float = 0.0

    def metric(self, stage: str, **kw) -> None:
        self.stages.append({"stage": stage, **kw})


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str | Path, *,
                id_col: str = "doc_id", content_col: str = "content",
                cfg: IndexConfig | None = None, run_id: str = "run0",
                force: bool = False) -> BuildReport:
    """Build (or resume) the full index under ``index_dir``.

    Every stage is an atomic parquet commit; a killed build restarts at the
    first incomplete stage (the generalization of the reference's
    ``last_seq`` resume, harvester/solr_updater.py:776-791). Per-stage
    wall-clock + row counts are emitted into the returned report and the
    ``lineage`` table (the SNS-report analogue, harvester/sns_message.py:29-41).
    """
    cfg = cfg or IndexConfig()
    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)
    report = BuildReport(run_id=run_id)

    def stage(name: str, fn) -> Path:
        out = index_dir / name
        if not force and tables.is_committed(out):
            report.metric(name, skipped=True)
            return out
        t0 = time.time()
        fn(out)
        report.metric(name, seconds=round(time.time() - t0, 3))
        return out

    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    # Input parallelism guard: a source packed into few files would
    # serialize S1/S3; spread it. At real scale the source has thousands of
    # splits and this is skipped.
    n_input = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    if src.rdd.getNumPartitions() < n_input:
        src = src.repartition(n_input, "doc_id")

    # S1 — packed postings (map-side; one pass over content; the resumable
    # bulk checkpoint). The SAME write job carries two observe() metrics —
    # N (count of source rows, zero-token docs included) and total tokens
    # (Σ pack.sum_tf) — so S2 needs NO jobs of its own on a fresh build.
    from pyspark.sql import Observation
    src_obs = Observation()
    pk_obs = Observation()

    def s1(out: Path) -> None:
        observed = src.observe(src_obs, F.count(F.lit(1)).alias("n_docs"))
        pk = build_packs(observed, cfg, content_col="content")
        pk = pk.observe(pk_obs, F.sum("sum_tf").alias("total_tokens"))
        tables.write_table(pk, out, compression=cfg.pack_compression)

    packed_was_committed = tables.is_committed(index_dir / "packed")
    pk_path = stage("packed", s1)
    packs = tables.read_table(spark, pk_path)
    if "payload" not in packs.columns:
        # resuming over a packed table committed by the pre-payload layout
        # would otherwise surface as a KeyError deep inside the merge UDF
        raise RuntimeError(
            f"packed stage at {pk_path} predates the single-payload pack "
            "layout (has ids/tfs/dls columns) — delete that directory to "
            "rebuild it under the current format")

    # S2 — global stats. Fresh build: free (observed during the S1 write).
    # Resumed build (S1 skipped → observations never fire): recompute with
    # the old two tiny jobs.
    def s2(out: Path) -> None:
        s1_ran = force or not packed_was_committed
        if s1_ran:
            n = src_obs.get["n_docs"]
            total = pk_obs.get["total_tokens"] or 0
        else:
            n = src.select("doc_id").count()
            total = packs.agg(F.sum("sum_tf")).collect()[0][0] or 0
        out.mkdir(parents=True, exist_ok=True)
        (out / "_table_meta.json").write_text(json.dumps(
            {"N": int(n), "avgdl": (float(total) / n) if n else 0.0,
             "total_tokens": int(total), "k1": cfg.k1, "b": cfg.b}))
        (out / tables.SUCCESS_MARKER).touch()
    st_path = stage("stats", s2)
    stats_meta = tables.read_meta(st_path)
    n_docs, avgdl = stats_meta["N"], stats_meta["avgdl"]
    report.n_docs, report.avgdl = n_docs, avgdl

    # S3 — dictionary from pack metadata (rows: |terms|×|partitions|, tiny
    # next to postings; partial agg absorbs the skew)
    def s4(out: Path) -> None:
        dic = (packs.groupBy("term")
               .agg(F.sum("doc_count").alias("df"),
                    F.sum("sum_tf").alias("cf"))
               .withColumn("idf", F.log(
                   F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                   / (F.col("df") + 0.5))))
        tables.write_table(dic, out, sort_cols=["term"])
    dic_path = stage("dictionary", s4)
    dictionary = tables.read_table(spark, dic_path)

    # S4 — postings (the one real shuffle — of PACKS, not posting rows).
    # With postings_shard_groups > 1 each term-shard group is its own
    # atomic commit: a killed merge resumes at the first incomplete group.
    def s5(out: Path) -> None:
        hot = (dictionary.filter(F.col("df") > cfg.salt_df_threshold)
               .select("term", "df").collect())
        hot_salts = {r["term"]: max(2, int(np.ceil(
            r["df"] / cfg.salt_range_docs))) for r in hot}
        meta = {"avgdl": avgdl, "N": n_docs, "k1": cfg.k1, "b": cfg.b,
                "block_size": cfg.block_size,
                "salt_df_threshold": cfg.salt_df_threshold,
                "salt_range_docs": cfg.salt_range_docs,
                "hot_terms": len(hot_salts),
                "shard_groups": cfg.postings_shard_groups}
        groups = cfg.postings_shard_groups
        if groups <= 1:
            tables.write_table(merge_packs(packs, hot_salts, avgdl, cfg),
                               out, sort_cols=["term"], meta=meta)
            return
        parts_dir = index_dir / "postings_parts"
        for g in range(groups):
            gdir = parts_dir / f"group={g}"
            if tables.is_committed(gdir):
                report.metric(f"postings.group{g}", skipped=True)
                continue
            t0 = time.time()
            gpacks = packs.filter(
                F.pmod(F.xxhash64("term"), F.lit(groups)) == g)
            tables.write_table(merge_packs(gpacks, hot_salts, avgdl, cfg),
                               gdir, sort_cols=["term"])
            report.metric(f"postings.group{g}",
                          seconds=round(time.time() - t0, 3))
        # final commit: union view of the groups under the postings dir
        union = spark.read.parquet(
            *[str(parts_dir / f"group={g}") for g in range(groups)])
        tables.write_table(union, out, sort_cols=["term"], meta=meta)
    stage("postings", s5)

    # S5-S7 — term_ub → dictseg, concurrently with lineage
    write_index_tail(spark, index_dir, run_id, stage)

    return report
