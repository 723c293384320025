"""BM25 top-k retrieval — the query half the reference delegates to Solr.

The reference issues ranked/cursored Solr queries (harvester/fetcher/
solr_fetcher.py:38-60, harvester/solr_updater.py:916) and delete-by-query
(solr_updater.py:793-817). This module re-implements the ranked-retrieval
role natively:

- :func:`query_topk_dataframe` — index-free scorer from pure DataFrame
  built-ins (tokenize → filter-to-query-terms → tf/df aggregates → score →
  TakeOrderedAndProject). 100% SQL-expressible, used as the driver-oracle
  path and for ad-hoc queries without a prebuilt index.
- :func:`query_topk_index` / :meth:`IndexHandle.topk_local` — the index.
  Both, and the incremental reader, answer on the driver through ONE
  zero-job function, :func:`driver_topk`: per segment the handle's term
  LRU, whose misses come from one pyarrow read of their blocks →
  ``codec.decode_blocks`` → :func:`_block_parts` (idf ·
  ``index_build._tfnorm``), then :func:`_topk`, then one merge. One gate,
  :data:`SMALL_QUERY_POSTINGS`, counts the postings the driver would
  read (uncached ones). The scale path plans on the driver with no job
  (:func:`_plan_blocks`: the query terms' block metadata, one bound
  kernel :func:`_block_bounds` for OR and AND, θ from a decoded seed;
  safe: provably never drops a true top-k doc), then decodes once in
  Spark: parquet pushdown on ``term`` → the kept blocks through the same
  decode and score per Arrow batch on executors → per-doc accumulation
  → global top-k.

Scoring (fixed, matches the numpy oracle bit-for-bit in float64):
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))          [Lucene-style]
  s(d, q) = Σ_{t ∈ unique(q)} idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
  ties    → doc_id asc (the reference's deterministic cursor order,
            solr_fetcher.py:41 ``sort=id asc``)
"""

from __future__ import annotations

import itertools
import threading
from collections import OrderedDict, deque
from functools import cached_property
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

from harvester_spark import tables
from harvester_spark.functions.tokenize import tokenize_pandas
from harvester_spark.operators.codec import decode_blocks
from harvester_spark.operators.index_build import POSTINGS_SCHEMA, _tfnorm

# per-query projections the scorers cache: each session keeps its newest
# few and unpersists older ones (a released query still answers — it
# recomputes), so a serving session's cache does not grow per query
_QUERY_CACHE_KEEP = 4
_QUERY_CACHE_LOCK = threading.Lock()


def _cache_per_query(df: DataFrame) -> DataFrame:
    """``df`` persisted MEMORY_ONLY in its session's ring of the newest
    ``_QUERY_CACHE_KEEP`` per-query caches (the ring hangs off the session
    object, so it dies with the session)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_ONLY)
    with _QUERY_CACHE_LOCK:
        ring = df.sparkSession.__dict__.setdefault(
            "_harvester_query_cache", deque())
        ring.append(df)
        old = [ring.popleft() for _ in range(len(ring) - _QUERY_CACHE_KEEP)]
    for o in old:
        o.unpersist()
    return df


SCORE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("score", DoubleType()),
])


def tokenize_query(query: str) -> list[str]:
    """Unique query terms, order-preserving (same analyzer as documents)."""
    toks = tokenize_pandas(pd.Series([query])).iloc[0]
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(t)
    return list(seen)


# --------------------------------------------------------------------------
# Path A: index-free, pure built-ins (SQL-expressible / oracle-checkable)
# --------------------------------------------------------------------------

# above this many query terms the per-term regexp_count projection gets
# wide and the token-array form wins back; interactive/oracle queries are
# single digits of terms
_SCORES_MAX_TF_COLS = 32


def bm25_scores(docs: DataFrame, query: str, *, id_col: str = "doc_id",
                content_col: str = "content", mode: str = "or",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """All matching docs with exact BM25 scores (no limit) — the building
    block for :func:`query_topk_dataframe` and for driver-oracle entries
    that re-rank on rounded scores for cross-engine determinism.

    Plan shape (guide §2.4 "remove shuffles outright"): ONE narrow
    projection computes dl and per-term tf via ``regexp_count`` (a token
    is a maximal ``[a-z0-9_]+`` run, so ``(?<![a-z0-9_])term(?![a-z0-9_])``
    occurrences ≡ matched-token count — no token arrays, no explode), ONE
    broadcast aggregation derives N/avgdl/df for every term together, and
    the score is a flat projection over the cached tf columns. The old
    shape (tokenize → HOF match filter → explode → two groupBys → join)
    paid the array-building tokenizer plus three exchanges; measured at
    sf1.0 the tf projection pass is ~0.2 s vs ~2.4 s (numbers in
    OPTIMIZATION_r06.md). Score equality: a term with tf=0 contributes
    exactly 0.0 (the tfnorm numerator is ``tf * (k1+1)``), so the fixed
    term-order sum equals the old matched-terms-only aggregation."""
    terms = tokenize_query(query)
    spark = docs.sparkSession
    if not terms:
        return tables.empty_frame(spark, SCORE_SCHEMA)
    if len(terms) > _SCORES_MAX_TF_COLS:
        return _bm25_scores_tokens(docs, terms, id_col=id_col,
                                   content_col=content_col, mode=mode,
                                   k1=k1, b=b)

    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    lc = F.lower(F.col("content"))
    tf_cols = [
        F.regexp_count(
            lc, F.lit(rf"(?<![a-z0-9_])\Q{t}\E(?![a-z0-9_])"))
        .cast("double").alias(f"__tf{i}")
        for i, t in enumerate(terms)]
    proj = _cache_per_query(src.select(
        "doc_id", F.regexp_count(lc, F.lit(r"[a-z0-9_]+"))
        .cast("double").alias("dl"), *tf_cols))
    # global stats straight to the driver (one tiny row) instead of a
    # broadcast-exchange crossJoin: idf/avgdl become plan literals that
    # Catalyst constant-folds with the SAME JVM double ops (F.log over
    # literal doubles), so scores are bit-identical while the query drops
    # from three jobs (stats broadcast + dfreq broadcast + final) to two
    row = proj.agg(
        F.count("*").alias("N"), F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("double")).alias(f"__df{i}")
          for i in range(len(terms))]).collect()[0]
    if not row["N"] or row["avgdl"] is None:
        # empty corpus, or every content NULL (all tf null → no doc can
        # ever pass the nt filter) — same empty result the lazy form gave
        return tables.empty_frame(spark, SCORE_SCHEMA)
    n_lit = F.lit(row["N"])
    avgdl_lit = F.lit(float(row["avgdl"]))
    parts = []
    hits = []
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}")
        dfc = F.lit(float(row[f"__df{i}"]))
        idf = F.log(F.lit(1.0) + (n_lit - dfc + 0.5) / (dfc + 0.5))
        parts.append(idf * _tfnorm(tf, F.col("dl"), k1, b, avgdl_lit))
    # nt counts terms present in the doc (== the old per-doc row count)
    for i in range(len(terms)):
        hits.append((F.col(f"__tf{i}") > 0).cast("int"))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    nt = hits[0]
    for h in hits[1:]:
        nt = nt + h
    agg = proj.select("doc_id", score.alias("score"), nt.alias("nt"))
    if mode == "and":
        agg = agg.filter(F.col("nt") == len(terms))
    else:
        agg = agg.filter(F.col("nt") >= 1)
    return agg.select("doc_id", "score")


def _bm25_scores_tokens(docs: DataFrame, terms: list[str], *, id_col: str,
                        content_col: str, mode: str,
                        k1: float, b: float) -> DataFrame:
    """Token-array scorer (the pre-r6 shape) — fallback for very wide
    queries where one regexp_count column per term stops being a win."""
    from harvester_spark.functions.tokenize import tokens_bundle

    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))

    def match(toks):
        return F.struct(
            F.size(toks).alias("dl"),
            F.filter(toks, lambda t: t.isin(terms)).alias("matched"))

    tok0 = _cache_per_query(
        src.select("doc_id", tokens_bundle("content", match)))
    stats = tok0.agg(F.count("*").alias("N"),
                     F.avg("dl").alias("avgdl"))
    tok = (tok0.filter(F.size("matched") > 0)
           .select("doc_id", "dl", F.explode("matched").alias("term")))
    tf = tok.groupBy("doc_id", "term", "dl").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf", F.log(F.lit(1.0)
                                       + (F.col("N") - F.col("df") + 0.5)
                                       / (F.col("df") + 0.5)))
              .withColumn("part", F.col("idf") * _tfnorm(
                  F.col("tf"), F.col("dl"), k1, b, F.col("avgdl"))))
    agg = scored.groupBy("doc_id").agg(F.sum("part").alias("score"),
                                       F.count("*").alias("nt"))
    if mode == "and":
        agg = agg.filter(F.col("nt") == len(terms))
    return agg.select("doc_id", "score")


def query_topk_dataframe(docs: DataFrame, query: str, k: int, *,
                         id_col: str = "doc_id", content_col: str = "content",
                         mode: str = "or", k1: float = 1.2,
                         b: float = 0.75) -> DataFrame:
    """Top-k BM25 over a raw documents DataFrame, no prebuilt index.

    Whole plan is Catalyst-visible: the term filter lands right above the
    scan, the tf/df aggregations get map-side partial agg, the final top-k
    plans as TakeOrderedAndProject. Returns (doc_id, score)."""
    scores = bm25_scores(docs, query, id_col=id_col, content_col=content_col,
                         mode=mode, k1=k1, b=b)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# --------------------------------------------------------------------------
# Path B: prebuilt compressed index + block-max pruning
# --------------------------------------------------------------------------

# the posting-block columns the query kernel decodes
_BLOCK_COLS = ["term", "doc_id_first", "doc_count", "deltas", "tfs", "dls"]


def _block_parts(blocks, idf_by_term: dict[str, float], k1: float, b: float,
                 avgdl: float
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Arrow posting blocks → ``(doc_id, part, postings per term, blocks
    per term)``, the parts ``idf · _tfnorm`` (the encoder's expression, so
    ``part ≤ idf · block_max_tfnorm`` holds bit-exactly) grouped by term
    in the key order of ``idf_by_term`` — query-term order on every
    caller, so a doc's parts always sum in one order."""
    terms = list(idf_by_term)
    rank = np.asarray(pc.index_in(blocks["term"],
                                  value_set=pa.array(terms, pa.string())))
    order = np.argsort(rank, kind="stable")
    blocks, rank = blocks.take(order), rank[order]
    counts = np.asarray(blocks["doc_count"], dtype=np.int64)
    ids, tf, dl = decode_blocks(*(blocks[c] for c in _BLOCK_COLS[1:]))
    idf = np.repeat(np.array([idf_by_term[t] for t in terms])[rank], counts)
    parts = idf * _tfnorm(tf.astype(np.float64), dl.astype(np.float64),
                          k1, b, avgdl)
    sizes = np.bincount(rank, weights=counts, minlength=len(terms))
    return (ids, parts, sizes.astype(np.int64),
            np.bincount(rank, minlength=len(terms)))


def _topk(ids: np.ndarray, parts: np.ndarray, n_required: int,
          exclude: np.ndarray | None, k: int
          ) -> tuple[np.ndarray, np.ndarray]:
    """The one top-k scorer: each doc's parts summed in array order, docs
    with fewer than ``n_required`` parts (AND mode: one per query term) or
    in ``exclude`` dropped, then the ``k`` best as ``(doc ids, scores)``,
    score desc, doc_id asc."""
    uniq, inv = np.unique(ids, return_inverse=True)
    scores = np.bincount(inv, weights=parts, minlength=uniq.size)
    keep = np.bincount(inv, minlength=uniq.size) >= n_required
    if exclude is not None and exclude.size:
        keep &= ~np.isin(uniq, exclude)
    uniq, scores = uniq[keep], scores[keep]
    order = np.lexsort((uniq, -scores))[:k]
    return uniq[order], scores[order]


class IndexHandle:
    """An opened index (no Spark job): metadata, the dictionary segment
    every term lookup reads, and the postings. Re-using a handle across
    queries keeps its term cache and cached postings — the engine's
    equivalent of Solr keeping its searcher open (the reference re-queries
    one long-lived Solr, harvester/fetcher/solr_fetcher.py:14)."""

    def __init__(self, spark: SparkSession, index_dir: str | Path,
                 cache: bool = True):
        from harvester_spark.operators.dictseg import DictSegment, is_committed

        self.spark = spark
        self.index_dir = Path(index_dir)
        self.meta = tables.read_meta(self.index_dir / "postings")
        seg_dir = self.index_dir / "dictseg"
        if not is_committed(seg_dir):
            raise FileNotFoundError(
                f"index {self.index_dir} has no committed 'dictseg' stage; "
                "re-run build_index on it to resume the build")
        # term lookup: µs per term at any vocabulary size, driver memory =
        # block leaders only, no Spark job
        self.dict_segment = DictSegment(seg_dir)
        self._cache_postings = cache
        self._term_cache: OrderedDict[str, tuple] = OrderedDict()
        self._term_cache_entries = 0

    @cached_property
    def postings(self) -> DataFrame:
        """The postings DataFrame of the pruned path, opened on first use
        with the known schema, so opening runs no schema-inference job
        (caching is a working-set decision left to the deployment)."""
        postings = (self.spark.read.schema(POSTINGS_SCHEMA)
                    .parquet(str(self.index_dir / "postings")))
        return postings.cache() if self._cache_postings else postings

    def lookup(self, terms: list[str]) -> dict[str, dict]:
        """term → {df, idf, max_tfnorm} for the present query terms."""
        return self.dict_segment.lookup(terms)

    def unpersist(self) -> None:
        if "postings" in self.__dict__:
            self.postings.unpersist()
        self.dict_segment.close()  # parts reopen lazily on the next lookup

    def _read_postings(self, columns: list[str], filters) -> pa.Table:
        """``columns`` of the postings rows passing the pyarrow
        ``filters``: ONE pyarrow scan, no Spark job."""
        return pq.read_table(tables.parquet_files(self.index_dir / "postings"),
                             columns=columns, filters=filters,
                             partitioning=None)

    def _read_blocks(self, terms: list[str]) -> pa.Table:
        """``terms``' posting blocks, payload included."""
        return self._read_postings(_BLOCK_COLS, [("term", "in", terms)])

    # -- interactive serving path ------------------------------------------
    # The reference serves queries from a long-lived Solr at ~ms latency;
    # Spark's job model floors any distributed query at ~100s of ms. For
    # interactive use, a query node reads the (compressed) postings of the
    # query's missed terms once, keeps them decoded, and scores in-process.

    # resident decoded-postings budget for the serving cache: 16 B/entry
    # (doc id + score part), so 8M entries ≈ 128 MB — a serving node's
    # hot working set, NOT unbounded lifetime growth (r4 verdict #4: a
    # long-lived node querying a wide vocabulary accumulated GBs).
    # Override per-handle by assigning the attribute.
    term_cache_max_entries: int = 8_000_000

    def _term_parts(self, terms: list[str], info: dict[str, dict]
                    ) -> tuple[np.ndarray, np.ndarray, int]:
        """``(doc_id, part)`` of ``terms`` concatenated in their order, and
        their block count: hits from the LRU cache, all misses from one
        read, then cached."""
        cache = self._term_cache
        got = {t: cache[t] for t in terms if t in cache}
        for t in got:
            cache.move_to_end(t)
        missed = [t for t in terms if t not in got]
        if missed:
            k1, b, avgdl = self.meta["k1"], self.meta["b"], self.meta["avgdl"]
            ids, parts, sizes, n_blocks = _block_parts(
                self._read_blocks(missed),
                {t: info[t]["idf"] for t in missed}, k1, b, avgdl)
            bounds = np.cumsum(sizes)[:-1]
            for t, entry in zip(missed, zip(np.split(ids, bounds),
                                            np.split(parts, bounds),
                                            n_blocks.tolist())):
                got[t] = cache[t] = entry
                # charge a small constant floor per cached term: rare
                # terms decode to a handful of postings but still cost an
                # OrderedDict slot + two array objects, so a workload
                # probing many distinct rare terms must still trigger
                # eviction (the accounting floor mirrors the real overhead)
                self._term_cache_entries += max(len(entry[0]), 64)
                # entries-bounded LRU (dictseg block-cache pattern): evict
                # the coldest term, but never the one just decoded — a
                # single term wider than the whole budget still gets served
                while (self._term_cache_entries > self.term_cache_max_entries
                       and len(cache) > 1):
                    _, old = cache.popitem(last=False)
                    self._term_cache_entries -= max(len(old[0]), 64)
        return (np.concatenate([got[t][0] for t in terms]),
                np.concatenate([got[t][1] for t in terms]),
                sum(got[t][2] for t in terms))

    def topk_local(self, query: str, k: int, *, mode: str = "or",
                   local_postings_cap: int | None = None) -> pd.DataFrame:
        """ms-latency top-k on the driver, no Spark job: :func:`driver_topk`
        on this handle, the chain and term cache :func:`query_topk_index`
        uses (same ids, bit-equal scores), as a pandas frame. A
        pathological term's postings (~GBs at 10^12 docs) must NOT be read
        on the driver: when the postings the driver would read exceed
        ``local_postings_cap`` (default :data:`SMALL_QUERY_POSTINGS`; df
        from the segment lookup — free), the query is AUTO-ROUTED to the
        distributed block-max path instead."""
        got = driver_topk([(self, None)], tokenize_query(query), k, mode,
                          local_postings_cap)
        if got is None:
            return query_topk_index(
                self.spark, self, query, k, mode=mode,
                small_query_postings=local_postings_cap).toPandas()
        return pd.DataFrame({"doc_id": got[0], "score": got[1]})


def open_index(spark: SparkSession, index_dir: str | Path,
               cache: bool = True) -> IndexHandle:
    return IndexHandle(spark, index_dir, cache=cache)


_EPS = 1.0 - 1e-12  # slack for ub-vs-decoded float comparisons

# the block metadata the pruning plan reads: no payload column
_META_COLS = ["term", "salt", "block_id", "doc_id_first", "doc_id_last",
              "block_max_tfnorm"]


def _block_bounds(rank: np.ndarray, ub: np.ndarray, first: np.ndarray,
                  last: np.ndarray, n_terms: int, mode: str
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one bound kernel of both modes, over blocks sorted by ``rank``
    (their term's query position). The doc-id axis is cut at every block
    boundary; an elementary interval's total is Σ over the terms, in query
    order, of the largest ``ub`` among the term's blocks covering it — 0
    for a term with none, −∞ in AND mode (no doc there has every term) —
    with a block's own term counted at the block's own ``ub`` (a doc has
    one posting per term; a salted term's blocks overlap). Every posting
    block of a doc covers the doc's interval and each part is ≤ its
    block's ``ub`` bit-exactly, so a block's bound, its best total inside
    its span, is ≥ the score of every doc with a posting in it. Returns
    ``(bound per block, cells, edges)``: block ``i`` spans the intervals
    ``cells[edges[i]:edges[i + 1]]``."""
    cuts = np.unique(np.concatenate([first, last + 1]))
    lo = np.searchsorted(cuts, first)
    n = np.searchsorted(cuts, last + 1) - lo
    edges = np.concatenate([[0], np.cumsum(n)])
    cells = np.arange(edges[-1]) - np.repeat(edges[:-1] - lo, n)
    cell_ub = np.repeat(ub, n)
    runs = list(itertools.pairwise(
        edges[np.searchsorted(rank, np.arange(n_terms + 1))]))

    def cover(t: int) -> np.ndarray:
        c = np.full(cuts.size - 1, -np.inf if mode == "and" else 0.0)
        np.maximum.at(c, cells[slice(*runs[t])], cell_ub[slice(*runs[t])])
        return c

    # summed term by term in query order, never as a prefix sum of ±ub
    # events, whose cancellation could round a total below a doc's score
    total, overlapping = np.zeros(cuts.size - 1), []
    for t, (a, z) in enumerate(runs):
        if np.bincount(cells[a:z]).max(initial=0) > 1:
            overlapping.append((t, total.copy()))
        total += cover(t)
    cell_total = total[cells]
    for t, prefix in overlapping:  # the same sum, slot t at the block's ub
        run = slice(*runs[t])
        part = prefix[cells[run]] + cell_ub[run]
        for s in range(t + 1, n_terms):
            part += cover(s)[cells[run]]
        cell_total[run] = part
    return np.maximum.reduceat(cell_total, edges[:-1]), cells, edges


def _plan_blocks(handle: IndexHandle, idf_by_term: dict[str, float],
                 k: int, mode: str, exclude: np.ndarray | None
                 ) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """The pruned path's plan, on the driver with no Spark job: the query
    terms' block metadata (one pyarrow read, no payload column), each
    block's :func:`_block_bounds` bound and the kept mask, ``bound ≥ θ``
    under the ``_EPS`` slack. θ is the k-th best score, among docs not in
    ``exclude``, of a seed decoded on the driver (one filtered pyarrow
    read): OR, the top-``ub`` blocks (partial sums); AND, every block
    overlapping the best-bound blocks of the term with the fewest blocks
    (docs with a part per term: exact scores). A seed score never exceeds its doc's true score,
    so θ ≤ the true k-th best and a dropped block holds no top-k doc. With
    fewer than ``k`` seed docs θ = 0, which drops only the AND blocks
    where no doc has every term. Returns ``(metadata, bound, kept)``,
    sorted by term in query order."""
    terms = list(idf_by_term)
    meta = handle._read_postings(_META_COLS, [("term", "in", terms)])
    rank = np.asarray(pc.index_in(meta["term"],
                                  value_set=pa.array(terms, pa.string())))
    order = np.argsort(rank, kind="stable")
    meta, rank = meta.take(order), rank[order]
    ub = (np.array(list(idf_by_term.values()))[rank]
          * np.asarray(meta["block_max_tfnorm"]))
    bound, cells, edges = _block_bounds(
        rank, ub, np.asarray(meta["doc_id_first"]),
        np.asarray(meta["doc_id_last"]), len(terms), mode)
    bs = handle.meta.get("block_size", 128)
    seed = np.zeros(rank.size, bool)
    if mode == "or":
        n_seed = max(32, 16 * k // bs + 2)
        seed[np.argsort(-ub, kind="stable")[:n_seed]] = True
    else:
        rare = np.flatnonzero(rank == np.bincount(rank).argmin())
        best = np.argsort(-bound[rare], kind="stable")
        seed[rare[best[:max(1 + 4 * k // bs, rare.size // 10)]]] = True
        # every block sharing an interval with a chosen rare block
        hit = np.zeros(cells.max() + 1, bool)
        hit[cells[np.repeat(seed, np.diff(edges))]] = True
        seed = np.logical_or.reduceat(hit[cells], edges[:-1])
    keys = (meta.filter(pa.array(seed)).group_by(["term", "salt"])
            .aggregate([("block_id", "list")]).to_pydict())
    blocks = handle._read_postings(_BLOCK_COLS, [
        [("term", "=", t), ("salt", "=", s), ("block_id", "in", ids)]
        for t, s, ids in zip(keys["term"], keys["salt"],
                             keys["block_id_list"])])
    k1, b, avgdl = (handle.meta[c] for c in ("k1", "b", "avgdl"))
    ids, parts, *_ = _block_parts(blocks, idf_by_term, k1, b, avgdl)
    _, top = _topk(ids, parts, len(terms) if mode == "and" else 1, exclude,
                   k)
    theta = float(top[k - 1]) if top.size >= k else 0.0
    return meta, bound, bound >= theta * _EPS - 1e-300


def _decode_agg(blocks: DataFrame, idf_by_term: dict[str, float],
                k1: float, b: float, avgdl: float,
                kept: pa.Table | None = None) -> DataFrame:
    """Decode posting blocks → per-doc partial sums: (doc_id, score, nt),
    each Arrow batch through the driver's kernel (:func:`_block_parts`),
    only the blocks whose ``(term, salt, block_id)`` is in ``kept`` when
    it is given. The keys ship with the function and match in the Python
    worker: a broadcast semi-join with a local relation costs a Spark job
    of its own. nt counts decoded blocks per doc; a doc has exactly one
    block per matched term, so nt == n_terms ⟺ the doc has every query
    term and each of its postings was decoded."""
    keys = ["term", "salt", "block_id"]

    def decode(batches: Iterator[pa.RecordBatch]
               ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if kept is not None:
                batch = pa.Table.from_batches([batch]).join(
                    kept, keys, join_type="left semi")
            ids, parts, *_ = _block_parts(batch, idf_by_term, k1, b, avgdl)
            yield pa.record_batch({"doc_id": ids, "score": parts})

    cols = _BLOCK_COLS if kept is None else _BLOCK_COLS + keys[1:]
    return (blocks.select(*cols)
            .mapInArrow(decode, SCORE_SCHEMA)
            .groupBy("doc_id").agg(F.sum("score").alias("score"),
                                   F.count("*").alias("nt")))


# driver budget of an exclusion set: tombstone sets are O(recent
# deletes) — tiny next to the corpus — so the cap is only a safety rail
EXCLUDE_CAP = 2_000_000

# the one driver-placement gate: a query whose driver would read at most
# this many postings (Σ df of its present terms missing from the term
# cache) scores on the driver with no Spark job. A driver budget: 2M
# postings ≈ 32 MB decoded, 0.1–1.3 s of numpy up to 3.2 M postings and
# +213 MB peak RSS at 3 M, where the pruned path spends 4–13 s in 9–21
# sequential micro-jobs (seed/θ/probe/decode collects) on the same queries
SMALL_QUERY_POSTINGS = 2_000_000


def query_terms(handle: IndexHandle, terms: list[str], mode: str
                ) -> tuple[dict[str, float], dict[str, dict]]:
    """``(idf by present term, lookup info)`` of a query on one index,
    keyed in query-term order — the order the driver scorer sums in. The
    idf map is empty when no doc of the index can match."""
    info = handle.lookup(terms)
    present = [t for t in terms if t in info]
    if mode == "and" and len(present) < len(terms):
        present = []
    return {t: info[t]["idf"] for t in present}, info


def driver_topk(segments: list, terms: list[str], k: int, mode: str,
                max_postings: int | None = None
                ) -> tuple[np.ndarray, np.ndarray, int] | None:
    """The one driver query, over ``segments``: ``(IndexHandle,
    exclusions)`` pairs. Per segment :func:`query_terms` → the handle's
    term-cached :meth:`IndexHandle._term_parts` → :func:`_topk`, the
    segment's exclusions dropped before the cut; one ``lexsort`` (score
    desc, doc_id asc) merges the segments' lists. Returns ``(doc ids,
    scores, blocks of the present terms, read or cached)`` with no Spark
    job, or ``None``, reading no block, when the postings the driver would
    read (Σ df of the present terms not in their segment's term cache)
    exceed ``max_postings`` (default :data:`SMALL_QUERY_POSTINGS`) or an
    exclusion array exceeds :data:`EXCLUDE_CAP`. Exclusions are an int64
    array, ``None``, or a callable returning one, called only once the
    postings pass."""
    if max_postings is None:
        max_postings = SMALL_QUERY_POSTINGS
    work = []
    for handle, excl in segments:
        idf_by_term, info = query_terms(handle, terms, mode)
        if idf_by_term:
            work.append((handle, info, list(idf_by_term), excl))
    if sum(int(info[t]["df"]) for h, info, present, _ in work
           for t in present if t not in h._term_cache) > max_postings:
        return None
    work = [(h, info, present, excl() if callable(excl) else excl)
            for h, info, present, excl in work]
    if any(e is not None and e.size > EXCLUDE_CAP for *_, e in work):
        return None
    ids, scores, n_blocks = [np.empty(0, np.int64)], [np.empty(0)], 0
    for handle, info, present, excl in work:
        seg_ids, parts, seg_blocks = handle._term_parts(present, info)
        top = _topk(seg_ids, parts, len(present) if mode == "and" else 1,
                    excl, k)
        ids.append(top[0])
        scores.append(top[1])
        n_blocks += seg_blocks
    ids, scores = np.concatenate(ids), np.concatenate(scores)
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order], n_blocks


def scores_frame(spark: SparkSession, ids: np.ndarray,
                 scores: np.ndarray) -> DataFrame:
    """``(doc_id, score)`` arrays as a local relation: ``.collect()``
    launches no Spark job, but ``.toPandas()`` of the same relation
    launches one."""
    return tables.local_frame(
        spark, pa.table({"doc_id": ids, "score": scores}), SCORE_SCHEMA)


def query_topk_index(spark: SparkSession,
                     index_dir: str | Path | IndexHandle, query: str,
                     k: int, *, mode: str = "or", prune: bool = True,
                     small_query_postings: int | None = None,
                     exclude_ids: DataFrame | np.ndarray | None = None,
                     metrics_out: dict | None = None) -> DataFrame:
    """Top-k BM25 over the prebuilt index with block-max pruning.

    Queries whose driver would read ≤ ``small_query_postings`` postings
    (default :data:`SMALL_QUERY_POSTINGS`; postings already in the
    handle's term cache cost nothing) run :func:`driver_topk` instead —
    zero jobs, the handle's term cache read and filled — and return a
    local relation (:func:`scores_frame`: zero jobs read with
    ``.collect()``, one job read with ``.toPandas()``).

    Above it, the pruned path plans on the driver and decodes once in
    Spark. :func:`_plan_blocks` reads the query terms' block metadata and
    a θ seed with pyarrow (no job), bounds every block with
    :func:`_block_bounds` and keeps the blocks whose bound reaches θ, a
    lower bound on the true k-th best score (rank-identity guaranteed:
    a dropped block holds no doc that can make the top k, and every doc
    that can keeps all its blocks, so its score is exact). One Spark
    chain then decodes the kept blocks (:func:`_decode_agg`, which
    matches their ``(term, salt, block_id)`` keys), keeps the docs with
    every term (AND), drops ``exclude_ids`` and cuts the top k.
    ``prune=False`` is the same chain over every block, the exhaustive
    reference; it also runs when the plan's metadata rows (Σ ⌈df /
    block_size⌉) would exceed :data:`SMALL_QUERY_POSTINGS`, or an
    exclusion set exceeds :data:`EXCLUDE_CAP`.

    ``exclude_ids`` — doc ids dropped before the top-k cut, as a DataFrame
    with a ``doc_id`` column (collected only when the driver needs it) or
    as an int64 array already on the driver (which saves its collect
    job). ``metrics_out`` (optional dict) receives ``blocks_total``,
    ``blocks_scored`` and ``block_skip_ratio`` from the plan (or from the
    driver's read), with no Spark job.
    """
    # ad-hoc (path) calls: no postings caching
    handle = (index_dir if isinstance(index_dir, IndexHandle)
              else IndexHandle(spark, index_dir, cache=False))
    terms = tokenize_query(query)
    if not terms:
        return tables.empty_frame(spark, SCORE_SCHEMA)

    # exclusion set (tombstones) on the driver, collected lazily AT MOST
    # once unless it came as an array: the small-query path and the plan's
    # θ seed need it driver-side so that θ is the k-th best score among
    # docs that can actually be returned (seeding from an excluded doc
    # could overshoot and prune live top-k blocks). At most EXCLUDE_CAP + 1
    # ids are collected: more than the cap means it is too large for the
    # driver
    _exc: list = [] if isinstance(exclude_ids, DataFrame) else [exclude_ids]

    def exclude_set() -> np.ndarray | None:
        if not _exc:
            _exc.append(exclude_ids.select(F.col("doc_id").cast("long"))
                        .limit(EXCLUDE_CAP + 1).toArrow().column(0)
                        .to_numpy())
        return _exc[0]

    got = driver_topk([(handle, exclude_set)], terms, k, mode,
                      small_query_postings)
    if got is not None:
        ids, scores, n_blocks = got
        if metrics_out is not None and n_blocks:  # every block is scored
            metrics_out.update(blocks_total=n_blocks, blocks_scored=n_blocks,
                               block_skip_ratio=0.0)
        return scores_frame(spark, ids, scores)
    idf_by_term, info = query_terms(handle, terms, mode)
    if not idf_by_term:
        return tables.empty_frame(spark, SCORE_SCHEMA)
    present = list(idf_by_term)
    # the plan holds one driver row per block: the gate's budget bounds it
    bs = handle.meta.get("block_size", 128)
    prune = prune and (sum(-(-int(info[t]["df"]) // bs) for t in present)
                       <= SMALL_QUERY_POSTINGS)
    if prune and exclude_ids is not None:
        prune = exclude_set().size <= EXCLUDE_CAP
        if prune:  # on the driver now: anti-join it as a local relation
            exclude_ids = exclude_set()
    if isinstance(exclude_ids, np.ndarray):
        exclude_ids = tables.local_frame(
            spark, pa.table({"doc_id": exclude_ids}), "doc_id long")

    postings = handle.postings.filter(F.col("term").isin(present))
    n_blocks = n_kept = 0
    kept_keys = None
    if prune:
        blocks, _, kept = _plan_blocks(handle, idf_by_term, k, mode,
                                       exclude_set())
        n_blocks, n_kept = kept.size, int(kept.sum())
        if n_kept == 0:  # AND: no doc has every term
            return tables.empty_frame(spark, SCORE_SCHEMA)
        if n_kept < n_blocks:
            kept_keys = (blocks.select(["term", "salt", "block_id"])
                         .filter(pa.array(kept)))
    elif metrics_out is not None:  # every block is scored
        n_blocks = n_kept = handle._read_postings(
            ["term"], [("term", "in", present)]).num_rows
    if metrics_out is not None:
        metrics_out.update(blocks_total=n_blocks, blocks_scored=n_kept,
                           block_skip_ratio=round(1.0 - n_kept / n_blocks,
                                                  4))

    meta = handle.meta
    agg = _decode_agg(postings, idf_by_term, meta["k1"], meta["b"],
                      meta["avgdl"], kept_keys)
    if mode == "and":
        agg = agg.filter(F.col("nt") == len(present))
    if exclude_ids is not None:
        # excluded BEFORE the top-k cut: a post-limit filter would lose
        # live docs ranked behind an excluded one inside the k window
        agg = agg.join(F.broadcast(exclude_ids.select("doc_id")),
                       "doc_id", "left_anti")
    return (agg.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))
