"""Inverted-index build: the Spark-native replacement for the reference's
fetch→map→``push_doc_to_solr`` loop (harvester/solr_updater.py:688-766),
where Solr's indexer did the actual posting-list construction.

Pipeline (each stage a materialized, resumable checkpoint — the analogue of
the reference's per-run ingest doc + ``last_seq`` watermark,
harvester/fetcher/controller.py:159-212, solr_updater.py:776-791):

  S1 packed      posting packs: per (term, pack set) varint sub-lists —
                 THE shuffle-volume optimization (see below); one pass
                 over content
  S2 stats       N, avgdl, text bytes — no second pass over content
  S3 dictionary  (term, df, cf, idf)        tiny agg over pack metadata
  S4 postings    term-grouped merge of packs → final delta+varint blocks
                 with block-max metadata
  S5 term_ub     per-term score upper bound (max block_max_tfnorm)
  S6 dictseg     front-coded term dictionary (operators/dictseg.py), the
                 lookup every query starts with
  S7 lineage     per-partition build provenance

Two placements of one kernel chain (``pack_batch`` → ``_encode_blocks``),
picked by input size against the driver budget the dedup ops share
(``tables.collect_small``):

- **driver** (≤ 262,144 docs and 32 MB of text): the input is collected
  once, the chain runs once over it as a single pack set, and every stage
  is written with pyarrow through the same atomic commits — no Spark job
  after the probe and the collect. A CDC delta or a fixture-sized corpus
  builds in a fraction of a second instead of paying each distributed
  stage's fixed cost. The idf uses an fdlibm port (:func:`fdlibm_log`) so
  the dictionary equals the distributed one bit for bit.
- **distributed**: S1 packs map-side inside ``mapInPandas`` tasks, S4 is a
  shuffle of packs by (term, salt) and a streaming merge; hot terms are
  salted and the merge can be split into resumable shard groups.

The tail (S5-S7) runs on the driver with pyarrow up to
``dictseg.DRIVER_MAX_TERMS`` terms and as Spark jobs above, for either
placement. A segment merge (:func:`merge_stages`) is a build whose S1
source is the live postings of other index dirs instead of document
content — decoded, dead ids dropped, packed by the same pack encoder —
so it writes through these same stages, resume included.

Why packing (S1) instead of shuffling (doc_id, term, tf) rows: a code
corpus at 10^12 files produces ~10^14 posting rows; shuffling them as rows
costs ~40 B each (columns + shuffle framing) while the same posting packed
map-side costs ~4-6 B (varint gap + tf + dl). Pre-aggregation into packs
cuts the only unavoidable shuffle by ~7× AND removes the need to
materialize a row-form term-doc table at all. Measured on this sandbox the
row-shuffle saturated memory bandwidth at 4 cores; packs restore scaling.

Skew (distributed side): pack merge groups by (term, salt) where hot terms
(df above threshold, detected from pack metadata — the heavy-hitter pass)
spread their packs across ``s(term) = ceil(df / salt_range_docs)`` salts by
pack partition id. Merged blocks of different salts may overlap in doc-id
range; scoring accumulates per doc_id so overlap is harmless, and tests
enforce decoded-content equality salted vs unsalted.

Vectorization: tokenization + TF via pyarrow kernels; pack/merge encode via
numpy (single varint stream per batch, sliced per pack/block), on either
placement. The only Python loops run once per pack or block (byte
slicing), never once per posting.

INVARIANT: ``doc_id`` must be UNIQUE across the corpus (use
operators/docids.assign_doc_ids). Duplicate ids silently merge distinct
documents' postings: their BM25 contributions SUM in scoring, which both
inflates scores and breaks the block-max bound (a doc's summed score can
exceed every block's UB → pruning drops true top-k docs). Found the hard
way: a corpus produced by the pre-fix nondeterministic assign_doc_ids had
3% duplicated ids and pruned queries returned empty at 300k docs.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from harvester_spark import tables
from harvester_spark.operators.codec import (BLOCK_SIZE, decode_blocks,
                                             varint_decode, varint_encode,
                                             varint_sizes)

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
    # ONE binary cell per pack: varint gaps (doc_count-1 values) ++ tfs ++
    # dls; varints delimit themselves, so doc_count alone splits it. One
    # cell instead of three: rare identifiers make millions of
    # single-posting packs, and per-cell Arrow/Parquet overhead (offsets,
    # page metadata, shuffle framing) was 3× what it needed to be.
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

DICTIONARY_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("df", LongType()),
    StructField("cf", LongType()),
    StructField("idf", DoubleType()),
])


def _arrow(pdf: pd.DataFrame | None, schema: StructType):
    """A kernel's pandas output as a ``pa.Table`` of the Spark stage's
    schema (None → empty), so driver-written stages read back exactly like
    Spark-written ones."""
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(schema)
    if pdf is None or not len(pdf):
        return sch.empty_table()
    return pa.Table.from_pandas(pdf[sch.names], schema=sch,
                                preserve_index=False)


# --------------------------------------------------------------------------
# vectorized helpers
# --------------------------------------------------------------------------

def _slice_stream(values: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray) -> list[bytes]:
    """Encode ``values`` as ONE varint stream; return per-[start,end) byte
    slices."""
    nb = varint_sizes(values)
    stream = varint_encode(values, nb)
    cum = np.concatenate(([0], np.cumsum(nb))).tolist()
    return [stream[cum[s]:cum[e]] for s, e in zip(starts.tolist(),
                                                 ends.tolist())]


def _task_partition() -> int:
    """The running Spark task's partition id (-1 outside a task)."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx else -1


def _tfnorm(tf: np.ndarray, dl: np.ndarray, k1: float, b: float,
            avgdl: float) -> np.ndarray:
    """BM25 tf normalization, the one copy (numpy arrays or Spark Columns);
    its parenthesization keeps block-max UB ≥ decoded score bit-exact."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


_LN2_HI, _LN2_LO = 6.93147180369123816490e-01, 1.90821492927058770002e-10
_LG1, _LG2, _LG3, _LG4, _LG5, _LG6, _LG7 = (
    6.666666666666735130e-01, 3.999999999940941908e-01,
    2.857142874366239149e-01, 2.222219843214978396e-01,
    1.818357216161805012e-01, 1.531383769920937332e-01,
    1.479819860511658591e-01)


def fdlibm_log(x: np.ndarray) -> np.ndarray:
    """Natural log of positive finite doubles, bit-identical to fdlibm's
    ``__ieee754_log`` — which is what ``StrictMath.log``, and so Spark's
    ``F.log``, computes. ``np.log`` is not fdlibm and differs by an ulp on
    a few percent of arguments, which would move BM25 scores between the
    two build placements. A line-for-line vectorization of e_log.c: every
    branch is evaluated and the C control flow picks per element."""
    x = np.array(x, dtype=np.float64)
    k = np.zeros(x.shape, np.int64)
    sub = x < 2.2250738585072014e-308                  # subnormal: scale up
    x[sub] *= 1.80143985094819840000e+16
    k[sub] -= 54
    bits = x.view(np.int64)
    hx = bits >> 32
    k += (hx >> 20) - 1023
    hx &= 0x000fffff
    i = (hx + 0x95f64) & 0x100000
    x = (((hx | (i ^ 0x3ff00000)) << 32) | (bits & 0xffffffff)).view(
        np.float64)                                    # normalize x or x/2
    k += i >> 20
    f = x - 1.0
    dk = k.astype(np.float64)
    k0 = k == 0
    # |f| < 2**-20
    r = f * f * (0.5 - 0.33333333333333333 * f)
    tiny = np.where(f == 0.0, np.where(k0, 0.0, dk * _LN2_HI + dk * _LN2_LO),
                    np.where(k0, f - r, dk * _LN2_HI - ((r - dk * _LN2_LO)
                                                        - f)))
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    r = t2 + t1
    hfsq = 0.5 * f * f
    upper = np.where(k0, f - (hfsq - s * (hfsq + r)),
                     dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO))
                                     - f))
    lower = np.where(k0, f - s * (f - r),
                     dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f))
    main = np.where(((hx - 0x6147a) | (0x6b851 - hx)) > 0, upper, lower)
    return np.where((0x000fffff & (2 + hx)) < 3, tiny, main)


def idf(df: np.ndarray, n: int) -> np.ndarray:
    """BM25 idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``, bit-identical to
    the distributed dictionary's ``F.log`` expression (same operation
    order, fdlibm log)."""
    df = np.asarray(df, dtype=np.float64)
    return fdlibm_log(1.0 + ((float(n) - df) + 0.5) / (df + 0.5))


# --------------------------------------------------------------------------
# S1: posting packers (documents or an index's live postings; no shuffle)
# --------------------------------------------------------------------------

def pack_batch(pdf: pd.DataFrame, part_id: int) -> pd.DataFrame | None:
    """The packing kernel: one pandas batch of (doc_id, content) → pack
    rows (one per term present in the batch): :func:`_tokenize` then
    :func:`_encode_packs`. Module-level so the no-Spark kernel
    microbenchmark (bench_kernel.py) drives the EXACT code Spark runs."""
    rows = _tokenize(pdf)
    return None if rows is None else _encode_packs(*rows, part_id)


def _tokenize(pdf: pd.DataFrame):
    """(doc_id, content) batch → ``(code, doc_id, tf, dl, vocab)``: one row
    per (term, doc), sorted by (term code, doc_id); ``vocab`` maps a code
    to its term. None when the batch holds no token.

    All heavy work is integer-vectorized: tokens are dictionary-encoded to
    int32 codes immediately after the pyarrow regex split, so grouping and
    sorting never touch python-object strings (an object-dtype lexsort is
    memory-traffic-bound and was the kernel's dominant cost)."""
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
    return (ucode[order], doc_ids[order], tf[order], dl[order],
            denc.dictionary)


def _encode_packs(code: np.ndarray, doc_id: np.ndarray, tf: np.ndarray,
                  dl: np.ndarray, vocab, part_id: int) -> pd.DataFrame:
    """The pack encoder: postings sorted by (term code, doc_id) → one pack
    row per code, its term ``vocab[code]`` (a pyarrow array). A pack of
    ``c`` postings holds ``3c - 1`` varints — its ``c - 1`` doc-id gaps,
    ``c`` tfs, ``c`` dls — laid out in ONE stream for all packs and sliced
    once per pack."""
    new_term = np.ones(code.size, dtype=bool)
    new_term[1:] = code[1:] != code[:-1]
    starts = np.nonzero(new_term)[0]
    c = np.diff(np.append(starts, code.size))
    p0 = np.cumsum(3 * c - 1) - (3 * c - 1)       # a pack's first value
    at = np.arange(code.size) - np.repeat(starts - p0, c)
    cc = np.repeat(c, c)
    vals = np.empty(3 * code.size - starts.size, dtype=np.uint64)
    vals[at[1:][~new_term[1:]] - 1] = np.diff(doc_id)[~new_term[1:]]
    vals[at + cc - 1] = tf
    vals[at + 2 * cc - 1] = dl
    nb = varint_sizes(vals)
    stream = varint_encode(vals, nb)
    cum = np.concatenate(([0], np.cumsum(nb)))
    return pd.DataFrame({
        "term": vocab.take(pa.array(code[starts], type=pa.int64()))
                     .to_pandas().to_numpy(),
        "part_id": np.full(starts.size, part_id, dtype=np.int32),
        "doc_count": c.astype(np.int32),
        "sum_tf": np.add.reduceat(tf, starts).astype(np.int64),
        "max_tf": np.maximum.reduceat(tf, starts).astype(np.int32),
        "doc_id_first": doc_id[starts],
        "payload": [stream[a:b] for a, b in zip(
            cum[p0].tolist(), cum[p0 + 3 * c - 1].tolist())],
    })


def _live_packs(blocks: pa.Table, dead: np.ndarray, part_id: int):
    """The merge's S1 kernel: an index's posting blocks → the pack table
    of their postings whose ids are not in ``dead``, one pack per (term,
    salt) (a salt's blocks hold one sorted id list), through the build's
    pack encoder."""
    blocks = blocks.sort_by([("term", "ascending"), ("salt", "ascending"),
                             ("doc_id_first", "ascending")])
    counts = blocks.column("doc_count").to_numpy().astype(np.int64)
    doc_id, tf, dl = decode_blocks(
        blocks.column("doc_id_first").to_numpy(), counts,
        blocks.column("deltas"), blocks.column("tfs"), blocks.column("dls"))
    term = blocks.column("term").to_numpy()
    salt = blocks.column("salt").to_numpy()
    new = np.ones(term.size, dtype=bool)
    new[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    code = np.repeat(np.cumsum(new) - 1, counts)
    live = ~np.isin(doc_id, dead)
    if not live.any():
        return _arrow(None, PACKED_SCHEMA)
    return _arrow(_encode_packs(code[live], doc_id[live], tf[live], dl[live],
                                pa.array(term[new]), part_id), PACKED_SCHEMA)


def build_packs(src: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(doc_id, content) rows → one pack row per (term, flushed batch):
    sorted doc ids + tfs + dls, varint-encoded, with per-pack metadata.

    Deliberately independent of global stats (avgdl): score-related
    metadata (block_max_tfnorm) is computed at merge time, so packing is
    the FIRST stage — one pass over content, no prior scan needed."""
    flush_docs = cfg.pack_flush_docs

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pa.set_cpu_count(1)
        part_id = _task_partition()
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
# S4: term-sharded merge of packs → final blocks
# --------------------------------------------------------------------------

def _encode_blocks(pdf: pd.DataFrame, k1: float, b: float, avgdl: float,
                   block_size: int, part_id: int,
                   postings: tuple | None = None) -> pd.DataFrame:
    """Pack rows sorted by (term, salt, doc_id_first) → block rows: each
    (term, salt) group's postings (``postings`` when already decoded by
    :func:`_pack_postings`) sorted by doc id and cut every ``block_size``.
    Groups are found on the packs, so no per-posting string is built or
    compared; one varint stream per field, sliced per block."""
    counts = pdf["doc_count"].to_numpy(np.int64)
    ids, tf, dl = _pack_postings(pdf) if postings is None else postings
    term = pdf["term"].to_numpy()
    salt = pdf["salt"].to_numpy(np.int32)
    first = np.ones(term.size, dtype=bool)      # a group's first pack
    first[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    grp = np.repeat(np.cumsum(first) - 1, counts)
    order = np.lexsort((ids, grp))
    grp, ids, tf, dl = grp[order], ids[order], tf[order], dl[order]

    n = ids.size
    new_group = np.ones(n, dtype=bool)
    new_group[1:] = grp[1:] != grp[:-1]
    pos = np.arange(n) - np.nonzero(new_group)[0][grp]
    new_block = pos % block_size == 0
    blk_starts = np.nonzero(new_block)[0]
    blk_ends = np.append(blk_starts[1:], n)
    blk_grp = grp[blk_starts]
    tfnorm = _tfnorm(tf.astype(np.float64), dl.astype(np.float64),
                     k1, b, avgdl)
    # a block's gaps: every posting's but its first
    gaps = np.diff(ids)[~new_block[1:]]
    k = np.arange(blk_starts.size)
    return pd.DataFrame({
        "term": term[first][blk_grp],
        "salt": salt[first][blk_grp],
        "block_id": (pos[blk_starts] // block_size).astype(np.int32),
        "doc_id_first": ids[blk_starts],
        "doc_id_last": ids[blk_ends - 1],
        "doc_count": (blk_ends - blk_starts).astype("int32"),
        "max_tf": np.maximum.reduceat(tf, blk_starts).astype("int32"),
        "block_max_tfnorm": np.maximum.reduceat(tfnorm, blk_starts),
        "deltas": _slice_stream(gaps, blk_starts - k, blk_ends - k - 1),
        "tfs": _slice_stream(tf.astype(np.uint64), blk_starts, blk_ends),
        "dls": _slice_stream(dl.astype(np.uint64), blk_starts, blk_ends),
        "part_id": np.full(blk_starts.size, part_id, dtype=np.int32),
    })


def _pack_postings(pdf: pd.DataFrame):
    """Pack rows → ``(doc_id, tf, dl)`` per posting, in pack order: every
    payload decodes as ONE varint stream, split by the layout
    :func:`_encode_packs` writes (no per-pack loop)."""
    c = pdf["doc_count"].to_numpy(np.int64)
    firsts = pdf["doc_id_first"].to_numpy(np.int64)
    vals = varint_decode(b"".join(pdf["payload"])).astype(np.int64)
    starts = np.cumsum(c) - c
    at = np.arange(int(c.sum())) - np.repeat(starts - (np.cumsum(3 * c - 1)
                                                       - (3 * c - 1)), c)
    cc = np.repeat(c, c)
    ids = vals[np.maximum(at - 1, 0)]    # a posting's gap precedes its slot
    ids[starts] = firsts
    cum = np.cumsum(ids)
    return (cum - np.repeat(cum[starts] - firsts, c), vals[at + cc - 1],
            vals[at + 2 * cc - 1])


def merge_packs(packs: DataFrame, hot_salts: dict[str, int], avgdl: float,
                cfg: IndexConfig) -> DataFrame:
    """Shuffle packs by (term, salt) and merge into final posting blocks.

    ``hot_salts``: term → number of salt buckets (1 for normal terms).
    A pack's salt = part_id % s(term), so a hot term's merge work spreads
    across s tasks instead of one.
    """
    spark = packs.sparkSession
    if hot_salts:
        hot_df = F.broadcast(tables.local_frame(
            spark, pa.table({"term": list(hot_salts),
                             "n_salts": list(hot_salts.values())}),
            "term string, n_salts int"))
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

    # Stream the sorted pack batches into block rows, carrying the trailing
    # (term, salt) group across Arrow-batch boundaries so a group is always
    # encoded whole. (Grouped-map applyInPandas would materialize one
    # pandas frame per group — collapses under millions of single-pack
    # terms.)
    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        part_id = _task_partition()
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            tail = ((pdf["term"] == pdf["term"].iloc[-1])
                    & (pdf["salt"] == pdf["salt"].iloc[-1]))
            carry = pdf[tail].reset_index(drop=True)
            if not tail.all():
                yield _encode_blocks(pdf[~tail], cfg.k1, cfg.b, avgdl,
                                     cfg.block_size, part_id)
        if carry is not None:
            yield _encode_blocks(carry, cfg.k1, cfg.b, avgdl,
                                 cfg.block_size, part_id)

    return arranged.mapInPandas(merge, schema=POSTINGS_SCHEMA)


def _stats(stage, report: "BuildReport", cfg: IndexConfig, counts):
    """S2: commit the ``stats`` stage (a meta-only table) from
    ``counts()`` = (N, total tokens, text bytes), unless committed; returns
    the committed (N, avgdl). ``text_bytes`` is the content size the driver
    budget compares against when deltas merge (absent when unknown)."""
    def s2(out: Path) -> None:
        n_docs, total, text_bytes = counts()
        meta = {"N": int(n_docs), "avgdl": float(total) / n_docs if n_docs
                else 0.0, "total_tokens": int(total)}
        if text_bytes is not None:
            meta["text_bytes"] = int(text_bytes)
        out.mkdir(parents=True, exist_ok=True)
        (out / "_table_meta.json").write_text(json.dumps(
            {**meta, "k1": cfg.k1, "b": cfg.b}))
        (out / tables.SUCCESS_MARKER).touch()
    meta = tables.read_meta(stage("stats", s2))
    report.n_docs, report.avgdl = meta["N"], meta["avgdl"]
    return meta["N"], meta["avgdl"]


def _postings_meta(n_docs: int, avgdl: float, cfg: IndexConfig,
                   hot_terms: int, shard_groups: int) -> dict:
    return {"avgdl": avgdl, "N": n_docs, "k1": cfg.k1, "b": cfg.b,
            "block_size": cfg.block_size,
            "salt_df_threshold": cfg.salt_df_threshold,
            "salt_range_docs": cfg.salt_range_docs, "hot_terms": hot_terms,
            "shard_groups": shard_groups}


def write_index_tail(spark: SparkSession, index_dir: Path, run_id: str,
                     stage) -> None:
    """The stages every index directory ends with, all derived from its
    committed ``postings``: ``term_ub`` (exact per-term score upper bound,
    so queries prune without a per-query aggregation job), ``dictseg``
    (the front-coded term dictionary every query looks terms up in) and
    ``lineage`` (per-build-partition provenance).

    ``stage(name, fn)`` runs ``fn(index_dir / name)`` as one atomic commit
    (:func:`build_index` skips stages a resumed build already committed).
    Up to ``dictseg.DRIVER_MAX_TERMS`` terms — the switch the segment
    writer itself uses — all three are computed on the driver with pyarrow
    over the committed postings' columns, with no Spark job, whichever
    placement wrote the postings. Above it term_ub → dictseg is a chain
    of Spark jobs (the segment folds ``max_tfnorm``) that runs
    CONCURRENTLY with lineage: small metadata-sized jobs dominated by
    fixed per-job overhead, which Spark's scheduler interleaves across the
    same executors."""
    from concurrent.futures import ThreadPoolExecutor

    from harvester_spark.operators.dictseg import (DRIVER_MAX_TERMS,
                                                   write_index_segment)

    def segment(out: Path) -> None:
        write_index_segment(spark, index_dir, out)

    if tables.num_rows(index_dir / "dictionary") <= DRIVER_MAX_TERMS:
        _driver_tail(index_dir, run_id, stage, segment)
        return

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
        stage("dictseg", segment)

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(ub_then_seg), ex.submit(stage, "lineage", lineage)]
        for f in futs:
            f.result()


def _driver_tail(index_dir: Path, run_id: str, stage, segment) -> None:
    """:func:`write_index_tail`'s pyarrow side: the same three stages and
    columns as its Spark aggregations."""
    import pyarrow.compute as pc

    @functools.cache
    def postings():
        return tables.read_arrow(
            index_dir / "postings",
            columns=["term", "part_id", "doc_count", "block_max_tfnorm",
                     "deltas", "tfs", "dls"])

    def group(tbl, key: str, **aggs):
        """Spark-style ``groupBy(key).agg(name=...)``: key first, then
        one column per ``name=(column, function)``."""
        g = tbl.group_by(key).aggregate(list(aggs.values()))
        return pa.table([g[key]] + [g[f"{c}_{fn}" if c else fn]
                                    for c, fn in aggs.values()],
                        names=[key, *aggs])

    def term_ub(out: Path) -> None:
        tables.write_arrow(group(postings(), "term",
                                 max_tfnorm=("block_max_tfnorm", "max"),
                                 n_blocks=([], "count_all")),
                           out, sort_cols=["term"])

    def lineage(out: Path) -> None:
        p = postings()
        nbytes = pc.add(pc.add(pc.binary_length(p["deltas"]),
                               pc.binary_length(p["tfs"])),
                        pc.binary_length(p["dls"]))
        lin = group(p.append_column("nb", nbytes), "part_id",
                    term_min=("term", "min"), term_max=("term", "max"),
                    terms=("term", "count_distinct"),
                    postings=("doc_count", "sum"), blocks=([], "count_all"),
                    bytes_encoded=("nb", "sum"))
        n = lin.num_rows
        tables.write_arrow(
            lin.append_column("run_id", pa.array([run_id] * n, pa.string()))
               .append_column("status", pa.array(["complete"] * n,
                                                 pa.string())), out)

    stage("term_ub", term_ub)
    stage("dictseg", segment)
    stage("lineage", lineage)


# --------------------------------------------------------------------------
# Orchestration: resumable staged build with lineage
# --------------------------------------------------------------------------

@dataclass
class BuildReport:
    run_id: str
    stages: list[dict] = field(default_factory=list)
    n_docs: int = 0
    avgdl: float = 0.0
    # the placement the build took: {"side": "driver" | "distributed",
    # "docs", "text_bytes" (what the probe saw: lower bounds when over
    # budget), "max_docs", "max_bytes" (the budget it compared against)}
    placement: dict = field(default_factory=dict)

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

    Inputs within the driver budget (``tables.collect_small``) are
    collected once and built on the driver; larger ones run the
    distributed stages. Both write the same stages."""
    probed: dict = {}
    small = tables.collect_small(docs, id_col, content_col, probed=probed)
    if small is not None:
        return _build_collected(spark, small, index_dir, cfg=cfg,
                                run_id=run_id, force=force)
    cfg = cfg or IndexConfig()
    return _run_stages(
        spark, index_dir, cfg, run_id, force, {"side": "distributed", **probed},
        functools.partial(_distributed_stages, spark,
                          *_doc_packs(spark, docs, cfg, id_col, content_col)))


def _build_collected(spark: SparkSession, tbl, index_dir: str | Path, *,
                     cfg: IndexConfig | None = None, run_id: str = "run0",
                     force: bool = False) -> BuildReport:
    """:func:`build_index`'s driver placement over an already-collected
    ``(doc_id int64, content)`` table, with no Spark job; the report's
    placement holds what the probe would have seen."""
    import pyarrow.compute as pc

    text_bytes = pc.sum(pc.binary_length(tbl.column("content"))).as_py() or 0

    return _run_stages(
        spark, index_dir, cfg, run_id, force,
        {"side": "driver", "docs": tbl.num_rows, "text_bytes": text_bytes},
        functools.partial(_driver_stages, lambda: _arrow(
            pack_batch(tbl.to_pandas(), 0) if tbl.num_rows else None,
            PACKED_SCHEMA), lambda _: (tbl.num_rows, text_bytes)))


_BLOCK_COLS = ["term", "salt", "doc_id_first", "doc_count", "deltas", "tfs",
               "dls"]


def merge_stages(spark: SparkSession, inputs: list[tuple[Path, np.ndarray]],
                 side: str, cfg: IndexConfig, text_bytes: int | None):
    """S1-S4 of a segment merge for :func:`_run_stages`: a build whose S1
    source is the live postings of other index dirs instead of document
    content. ``inputs`` holds ``(postings dir, dead doc ids)`` pairs; S1
    packs each dir's live postings with :func:`_live_packs`, and from S2 on
    ``side`` ("driver" or "distributed") runs the build's own stages.

    S2 counts N as the distinct live docs that have postings (a zero-token
    doc drops out), total tokens as Σ ``sum_tf`` and records ``text_bytes``
    (the inputs' sum) as given."""
    if side == "driver":
        def packs():
            return pa.concat_tables([
                _live_packs(tables.read_arrow(path, _BLOCK_COLS), dead, 0)
                for path, dead in inputs])

        return functools.partial(_driver_stages, packs, lambda postings: (
            np.unique(postings()[0]).size, text_bytes))

    def live_packs(dead, batches):
        part_id = _task_partition()
        for batch in batches:
            yield from _live_packs(pa.Table.from_batches([batch]), dead,
                                   part_id).to_batches()

    def write_packs(out: Path) -> None:
        frames = [tables.read_table(spark, path).select(*_BLOCK_COLS)
                  .mapInArrow(functools.partial(live_packs, dead),
                              PACKED_SCHEMA) for path, dead in inputs]
        tables.write_table(functools.reduce(DataFrame.unionByName, frames),
                           out, compression=cfg.pack_compression)

    def postings(batches):
        for pdf in batches:
            doc_id, tf, _ = _pack_postings(pdf)
            yield pd.DataFrame({"doc_id": doc_id, "tf": tf})

    def counts(packs: DataFrame):
        n, total = (packs.mapInPandas(postings, "doc_id long, tf long")
                    .agg(F.count_distinct("doc_id"), F.sum("tf")).first())
        return n, total or 0, text_bytes

    return functools.partial(_distributed_stages, spark, write_packs, counts)


def _run_stages(spark: SparkSession, index_dir: str | Path,
                cfg: IndexConfig | None, run_id: str, force: bool,
                placement: dict, stages) -> BuildReport:
    """The body of a build after its placement is known:
    ``stages(index_dir, cfg, stage, report)`` writes S1-S4, then the
    shared tail S5-S7."""
    import pyarrow.parquet as pq

    cfg = cfg or IndexConfig()
    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)
    report = BuildReport(run_id=run_id, placement={
        **placement, "max_docs": tables.DRIVER_MAX_DOCS,
        "max_bytes": tables.DRIVER_MAX_BYTES})

    def stage(name: str, fn) -> Path:
        out = index_dir / name
        if not force and tables.is_committed(out):
            report.metric(name, skipped=True)
            return out
        t0 = time.time()
        fn(out)
        report.metric(name, seconds=round(time.time() - t0, 3))
        return out

    pk_path = index_dir / "packed"
    if (not force and tables.is_committed(pk_path) and "payload" not in
            pq.read_schema(tables.parquet_files(pk_path)[0]).names):
        # resuming over a packed table committed by the pre-payload layout
        # would otherwise surface as a KeyError deep inside the merge
        raise RuntimeError(
            f"packed stage at {pk_path} predates the single-payload pack "
            "layout (has ids/tfs/dls columns) — delete that directory to "
            "rebuild it under the current format")

    stages(index_dir, cfg, stage, report)
    # S5-S7 — term_ub → dictseg, and lineage
    write_index_tail(spark, index_dir, run_id, stage)
    return report


_PACK_ORDER = [("term", "ascending"), ("doc_id_first", "ascending")]


def _driver_stages(make_packs, counts, index_dir: Path, cfg: IndexConfig,
                   stage, report: BuildReport) -> None:
    """S1-S4 on the driver: ``make_packs()`` gives S1's pack table (one
    pack set, part_id 0) and ``counts(postings)`` S2's (N, text bytes),
    where ``postings()`` decodes the packs (:func:`_pack_postings`, run at
    most once); the kernel the distributed merge wraps (``_encode_blocks``)
    runs once over the whole input, and every stage is written with
    pyarrow. No salting: it only spreads merge work
    across tasks, and there is one."""
    import pyarrow.compute as pc

    held = {}

    def s1(out: Path) -> None:
        held["packs"] = make_packs().sort_by(_PACK_ORDER)
        tables.write_arrow(held["packs"], out)
    stage("packed", s1)
    # a resumed build reads back the committed packs, which may hold several
    # packs per term (a distributed S1): every consumer below folds them
    packs = held.get("packs")
    if packs is None:
        packs = tables.read_arrow(index_dir / "packed").sort_by(_PACK_ORDER)

    pk = functools.cache(lambda: packs.to_pandas().assign(salt=np.int32(0)))
    postings = functools.cache(lambda: _pack_postings(pk()))

    def s2():
        n_docs, text_bytes = counts(postings)
        return n_docs, pc.sum(packs.column("sum_tf")).as_py() or 0, text_bytes
    n_docs, avgdl = _stats(stage, report, cfg, s2)

    # S3 — df = Σ doc_count, cf = Σ sum_tf per term of the term-sorted
    # packs; idf by the fdlibm port, bit-equal to the Spark stage
    def s3(out: Path) -> None:
        terms = packs.column("term").to_numpy(zero_copy_only=False)
        new = np.ones(terms.size, dtype=bool)
        new[1:] = terms[1:] != terms[:-1]
        starts = np.flatnonzero(new)
        df = np.add.reduceat(packs.column("doc_count").to_numpy()
                             .astype(np.int64), starts)
        tables.write_arrow(_arrow(pd.DataFrame({
            "term": terms[starts], "df": df,
            "cf": np.add.reduceat(packs.column("sum_tf").to_numpy(), starts),
            "idf": idf(df, n_docs)}), DICTIONARY_SCHEMA), out)
    stage("dictionary", s3)

    def s4(out: Path) -> None:
        blocks = (_encode_blocks(pk(), cfg.k1, cfg.b, avgdl, cfg.block_size,
                                 0, postings()) if packs.num_rows else None)
        tables.write_arrow(_arrow(blocks, POSTINGS_SCHEMA), out,
                           meta=_postings_meta(n_docs, avgdl, cfg, 0, 1))
    stage("postings", s4)


def _doc_packs(spark: SparkSession, docs: DataFrame, cfg: IndexConfig,
               id_col: str, content_col: str):
    """S1 and S2 of a distributed build from documents:
    ``write_packs(out)`` packs them map-side in one pass over the content
    (the resumable bulk checkpoint), and ``counts(packs)`` gives S2's
    (N, total tokens, text bytes)."""
    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    # Input parallelism guard: a source packed into few files would
    # serialize S1/S3; spread it. At real scale the source has thousands of
    # splits and this is skipped.
    n_input = cfg.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    if src.rdd.getNumPartitions() < n_input:
        src = src.repartition(n_input, "doc_id")
    text_bytes = F.sum(F.coalesce(F.octet_length("content"), F.lit(0)))

    # The S1 write job carries observe() metrics — N (count of source rows,
    # zero-token docs included), text bytes and total tokens (Σ
    # pack.sum_tf) — so S2 needs NO jobs of its own on a fresh build.
    from pyspark.sql import Observation
    src_obs = Observation()
    pk_obs = Observation()
    wrote = []

    def write_packs(out: Path) -> None:
        observed = src.observe(src_obs, F.count(F.lit(1)).alias("n_docs"),
                               text_bytes.alias("text_bytes"))
        pk = build_packs(observed, cfg)
        pk = pk.observe(pk_obs, F.sum("sum_tf").alias("total_tokens"))
        tables.write_table(pk, out, compression=cfg.pack_compression)
        wrote.append(out)

    def counts(packs: DataFrame):
        if wrote:
            return (src_obs.get["n_docs"], pk_obs.get["total_tokens"] or 0,
                    src_obs.get["text_bytes"] or 0)
        # resumed build (S1 skipped → observations never fire): two tiny jobs
        n, nb = src.agg(F.count(F.lit(1)), text_bytes).collect()[0]
        return n, packs.agg(F.sum("sum_tf")).collect()[0][0] or 0, nb or 0

    return write_packs, counts


def _distributed_stages(spark: SparkSession, write_packs, counts,
                        index_dir: Path, cfg: IndexConfig, stage,
                        report: BuildReport) -> None:
    """S1-S4 as Spark jobs: ``write_packs(out)`` commits S1's packs and
    ``counts(packs)`` gives S2's (N, total tokens, text bytes); then a pack
    shuffle by (term, salt) and a streaming merge — the only placement an
    input above the driver budget can take."""
    pk_path = stage("packed", write_packs)
    packs = tables.read_table(spark, pk_path)

    n_docs, avgdl = _stats(stage, report, cfg, lambda: counts(packs))

    # S3 — dictionary from pack metadata (rows: |terms|×|partitions|, tiny
    # next to postings; partial agg absorbs the skew)
    def s3(out: Path) -> None:
        dic = (packs.groupBy("term")
               .agg(F.sum("doc_count").alias("df"),
                    F.sum("sum_tf").alias("cf"))
               .withColumn("idf", F.log(
                   F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                   / (F.col("df") + 0.5))))
        tables.write_table(dic, out, sort_cols=["term"])
    dic_path = stage("dictionary", s3)
    dictionary = tables.read_table(spark, dic_path)

    # S4 — postings (the one real shuffle — of PACKS, not posting rows).
    # With postings_shard_groups > 1 each term-shard group is its own
    # atomic commit: a killed merge resumes at the first incomplete group.
    def s4(out: Path) -> None:
        hot = (dictionary.filter(F.col("df") > cfg.salt_df_threshold)
               .select("term", "df").collect())
        hot_salts = {r["term"]: max(2, int(np.ceil(
            r["df"] / cfg.salt_range_docs))) for r in hot}
        meta = _postings_meta(n_docs, avgdl, cfg, len(hot_salts),
                              cfg.postings_shard_groups)
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
    stage("postings", s4)
