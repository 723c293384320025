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
  read (uncached ones). The scale path: parquet pushdown on ``term`` →
  block-max upper-bound pruning (safe: provably never drops a true top-k
  doc) → the same decode and score per Arrow batch on executors →
  per-doc accumulation → global top-k.

Scoring (fixed, matches the numpy oracle bit-for-bit in float64):
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))          [Lucene-style]
  s(d, q) = Σ_{t ∈ unique(q)} idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
  ties    → doc_id asc (the reference's deterministic cursor order,
            solr_fetcher.py:41 ``sort=id asc``)
"""

from __future__ import annotations

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

    def _read_blocks(self, terms: list[str]) -> pa.Table:
        """``terms``' posting blocks: ONE pyarrow scan, no Spark job."""
        return pq.read_table(tables.parquet_files(self.index_dir / "postings"),
                             columns=_BLOCK_COLS,
                             filters=[("term", "in", terms)],
                             partitioning=None)

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


def _localized_other_ub(blocks: DataFrame, range_docs: int) -> DataFrame:
    """Range-localized complement bounds: for every (term, doc-range)
    cell, ``other_ub`` = Σ over OTHER query terms of their max block UB
    within that range. Sharper than the global Σ maxUB because a term's
    high-tf blocks cluster in doc-id ranges (and a term ABSENT from a
    range contributes zero there). Pure plan fragment — no driver
    collect; Catalyst folds it into the query job."""
    W = range_docs
    rng = blocks.select(
        "term",
        F.explode(F.sequence((F.col("doc_id_first") / W).cast("long"),
                             (F.col("doc_id_last") / W).cast("long")))
        .alias("rid"),
        "ub")
    per_tr = rng.groupBy("term", "rid").agg(F.max("ub").alias("mx"))
    per_r = per_tr.groupBy("rid").agg(F.sum("mx").alias("tot"))
    return (per_tr.join(per_r, "rid")
            .select("term", "rid",
                    (F.col("tot") - F.col("mx")).alias("other_ub")))


def _theta_filter_localized(blocks: DataFrame, present: list[str],
                            per_term: dict[str, float], theta: float,
                            range_docs: int,
                            bound_blocks: DataFrame | None = None
                            ) -> DataFrame:
    """Keep only blocks whose localized upper bound can reach θ.

    Safety: for a doc d inside block b of term t, score(d) ≤ ub_t(b) +
    Σ_{s≠t} maxUB_s(range(d)); d's range lies within [rid_first,
    rid_last] of b. Blocks spanning ≤2 ranges use greatest(other at
    rid_first, other at rid_last) — exact; wider-spanning blocks fall
    back to the GLOBAL complement sum (safe, never sharper than truth).
    A (term, range) pair missing from the localized table means no other
    term has any block there → other_ub = 0.

    ``bound_blocks``: the block set the complement bounds are computed
    over. When θ refinement split off an already-decoded probe slice,
    pass the FULL pre-split set here — a doc's probe contributions are
    real score mass; bounding the complement from the rest-only slice
    would under-count it and prune unsafely."""
    W = range_docs
    # ONE collect of the (term, rid, other_ub) table, then two LOCAL
    # relations for the rid_first/rid_last probes: referencing the lazy
    # `other` plan from both broadcasts re-computed its two-aggregation
    # subtree twice (two broadcast-build jobs scanning the postings cache);
    # a local relation broadcast builds driver-side with zero scan jobs.
    # Size class is unchanged — this exact table was already broadcast.
    other = tables.local_frame(
        blocks.sparkSession,
        _localized_other_ub(bound_blocks if bound_blocks is not None
                            else blocks, W).toArrow(),
        "term string, rid bigint, other_ub double")
    total_ub = sum(per_term.values())
    global_other = F.create_map(*[x for t in present for x in
                                  (F.lit(t), F.lit(total_ub - per_term[t]))])
    o1 = other.select(F.col("term").alias("t1"), F.col("rid").alias("r1"),
                      F.col("other_ub").alias("ob1"))
    o2 = other.select(F.col("term").alias("t2"), F.col("rid").alias("r2"),
                      F.col("other_ub").alias("ob2"))
    rid_first = (F.col("doc_id_first") / W).cast("long")
    rid_last = (F.col("doc_id_last") / W).cast("long")
    joined = (blocks
              .withColumn("__rf", rid_first).withColumn("__rl", rid_last)
              .join(F.broadcast(o1), (F.col("term") == F.col("t1"))
                    & (F.col("__rf") == F.col("r1")), "left")
              .join(F.broadcast(o2), (F.col("term") == F.col("t2"))
                    & (F.col("__rl") == F.col("r2")), "left"))
    local = F.greatest(F.coalesce(F.col("ob1"), F.lit(0.0)),
                       F.coalesce(F.col("ob2"), F.lit(0.0)))
    eff_other = F.when(F.col("__rl") - F.col("__rf") <= 1, local) \
                 .otherwise(global_other[F.col("term")])
    return (joined.filter(F.col("ub") + eff_other
                          >= F.lit(theta) * _EPS - 1e-300)
            .drop("__rf", "__rl", "t1", "r1", "ob1", "t2", "r2", "ob2"))


def _and_range_prune(spark: SparkSession, blocks: DataFrame, rarest: str,
                     rng_pdf: pd.DataFrame, present: list[str],
                     idf_by_term: dict[str, float], k: int,
                     k1: float, b: float, avgdl: float,
                     exclude: np.ndarray | None = None,
                     probe_frac: float = 0.0,
                     seed_block_cap: int = 4096
                     ) -> tuple[DataFrame, DataFrame] | None:
    """Conjunctive θ-pruning over the rarest term's block ranges.

    For each rare block range R = [lo, hi]: every intersection doc d with
    its rare posting in R has score(d) ≤ ub_rare(R) + Σ_{s≠rare}
    maxUB_s(s-blocks overlapping R) — d's s-block contains d ∈ R so it
    overlaps R. θ = the k-th best FULL intersection score decoded from a
    seed window over the best-bound ranges, a lower bound on the true
    k-th best; ranges whose bound < θ drop with all their blocks.

    θ refinement (``probe_frac`` > 0): the seed window widens from ~1
    range to the top fraction of ranges — a doc in a seed range has
    every posting block overlapping that range, so decoded seed scores
    with one block per present term (nunique == n_terms) are EXACT, and
    a wider window finds a tighter k-th best. The decode stays
    driver-side (a few hundred block rows), capped at
    ``seed_block_cap`` collected blocks — truncation only shrinks the
    candidate pool, never invalidates θ. (A distributed probe was
    measured and rejected: narrow ranges overlap so many other-term
    blocks that the probe decoded ~half the postings before pruning.)

    Returns (pruned rare blocks, surviving ranges) or None when θ cannot
    be established (seed found < k intersection docs — fall back to the
    plain range semi-join, still exact)."""
    n_rng = len(rng_pdf)
    if n_rng == 0:
        return None
    lo = rng_pdf["doc_id_first"].to_numpy(np.int64)
    hi = rng_pdf["doc_id_last"].to_numpy(np.int64)
    ranges = tables.local_frame(
        spark, pa.table({"lo": lo, "hi": hi, "ridx": np.arange(n_rng)}),
        "lo long, hi long, ridx int")

    # per-range complement sums: max UB per (range, other term) from ONE
    # shuffle, the final per-range sum finished driver-side over the
    # already-collected (ranges × terms)-bounded rows — the second
    # groupBy bought a whole extra exchange + AQE stage for a sum the
    # driver does in microseconds
    others_meta = (blocks.filter(F.col("term") != rarest)
                   .select("term", "doc_id_first", "doc_id_last", "ub"))
    per_rt = (others_meta.join(
        F.broadcast(ranges),
        (F.col("doc_id_last") >= F.col("lo"))
        & (F.col("doc_id_first") <= F.col("hi")))
        .groupBy("ridx", "term").agg(F.max("ub").alias("mx"))
        .toPandas())
    other_sum = np.bincount(per_rt["ridx"].to_numpy(np.int64),
                            weights=per_rt["mx"].to_numpy(np.float64),
                            minlength=n_rng)
    bound = rng_pdf["ub"].to_numpy() + other_sum

    # seed window: decode ALL terms' blocks overlapping the best-bound
    # ranges, driver-side; refinement widens the window to probe_frac
    n_seed = min(n_rng, max(1, (4 * k) // 128 + 1,
                            int(probe_frac * n_rng)))
    top = np.argsort(-bound)[:n_seed]
    seed_ranges = tables.local_frame(
        spark, pa.table({"slo": lo[top], "shi": hi[top]}),
        "slo long, shi long")
    seed = (blocks.join(
        F.broadcast(seed_ranges),
        (F.col("doc_id_last") >= F.col("slo"))
        & (F.col("doc_id_first") <= F.col("shi")), "left_semi")
        # deterministic cap: keep the highest-UB blocks (TakeOrdered, not
        # an arbitrary first-seen prefix) so θ is reproducible run-to-run
        .orderBy(F.col("ub").desc(), "term", "doc_id_first")
        .limit(seed_block_cap)
        .select(*_BLOCK_COLS)
        .toArrow())
    # a doc has one block per term, so its part count is its term count;
    # θ must be the k-th best among docs that can actually be RETURNED:
    # seeding θ from an excluded doc would overshoot the true k-th live
    # score and prune blocks holding live top-k docs
    ids, parts, *_ = _block_parts(seed, idf_by_term, k1, b, avgdl)
    _, inter = _topk(ids, parts, len(present), exclude, k)
    if inter.size < k:
        return None
    theta = float(inter[k - 1])

    keep_mask = bound >= theta * _EPS - 1e-300
    if keep_mask.all():
        return None  # nothing pruned: skip the extra semi-join plumbing
    kept = tables.local_frame(
        spark, pa.table({"lo": lo[keep_mask], "hi": hi[keep_mask]}),
        "lo long, hi long")
    rare_kept = blocks.filter(F.col("term") == rarest).join(
        F.broadcast(kept),
        (F.col("doc_id_first") == F.col("lo"))
        & (F.col("doc_id_last") == F.col("hi")), "left_semi")
    return rare_kept, kept


def _decode_agg(blocks: DataFrame, idf_by_term: dict[str, float],
                k1: float, b: float, avgdl: float) -> DataFrame:
    """Decode posting blocks → per-doc partial sums: (doc_id, score, nt),
    each Arrow batch through the driver's kernel (:func:`_block_parts`).
    nt counts decoded blocks per doc; a doc has exactly one block per
    matched term, so nt == n_terms ⟺ every posting of the doc was in the
    decoded set ⟺ its score is EXACT (the probe-θ safety argument)."""
    def decode(batches: Iterator[pa.RecordBatch]
               ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, parts, *_ = _block_parts(batch, idf_by_term, k1, b, avgdl)
            yield pa.record_batch({"doc_id": ids, "score": parts})

    return (blocks.select(*_BLOCK_COLS)
            .mapInArrow(decode, SCORE_SCHEMA)
            .groupBy("doc_id").agg(F.sum("score").alias("score"),
                                   F.count("*").alias("nt")))


def _refine_theta_or(blocks: DataFrame, theta: float, k: int,
                     probe_frac: float, idf_by_term: dict[str, float],
                     k1: float, b: float, avgdl: float,
                     exclude_ids: DataFrame | None,
                     metrics_out: dict | None
                     ) -> tuple[float, DataFrame, DataFrame | None]:
    """Decode-time θ refinement (OR mode): decode the top-UB slice of
    blocks FIRST, refine θ to the k-th best partial per-doc sum, and hand
    the remaining blocks a tighter prune bound.

    Safety: every partial sum ≤ the doc's true score, so the k-th best
    partial is ≤ the true k-th best — always a valid θ. The probe's
    decoded contributions are cached and reused in the final aggregation
    (pre_agg), so nothing is decoded twice.
    Returns (θ, remaining blocks, pre-aggregated probe contributions)."""
    cut = blocks.approxQuantile("ub", [1.0 - probe_frac], 0.01)
    if not cut or cut[0] is None:
        return theta, blocks, None
    probe = blocks.filter(F.col("ub") >= cut[0])
    rest = blocks.filter(F.col("ub") < cut[0])
    # cached: the final aggregation reuses the probe's decoded blocks
    probe_agg = _cache_per_query(_decode_agg(probe, idf_by_term, k1, b,
                                             avgdl))
    cand = probe_agg
    if exclude_ids is not None:
        cand = cand.join(F.broadcast(exclude_ids.select("doc_id")),
                         "doc_id", "left_anti")
    rows = cand.orderBy(F.desc("score")).limit(k).collect()
    if metrics_out is not None:
        metrics_out["blocks_probe"] = probe.count()
    if len(rows) >= k:
        theta = max(theta, float(rows[-1]["score"]))
    return theta, rest, probe_agg


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
                     prune_min_postings: int = 50_000,
                     range_docs: int = 1 << 20,
                     small_query_postings: int | None = None,
                     refine_theta: bool = True,
                     probe_frac: float = 0.10,
                     refine_min_postings: int = 262_144,
                     exclude_ids: DataFrame | np.ndarray | None = None,
                     metrics_out: dict | None = None) -> DataFrame:
    """Top-k BM25 over the prebuilt index with block-max pruning.

    Safety of the pruning (rank-identity guaranteed): θ is the k-th best
    achievable score from a decoded seed — a lower bound on the true k-th
    best. A block is pruned only when ``UB(block) + complement-UB < θ``
    (complement bounds range-localized via :func:`_theta_filter_localized`);
    any document with a posting in that block has true score < θ, so it
    cannot be in the true top-k, and (contrapositive) no true top-k
    document ever loses a block, so surviving scores are exact.

    AND mode combines three exact prunes: (1) every intersection doc lies
    inside the RAREST term's posting-block ranges, so other terms' blocks
    missing all rare ranges drop; (2) θ from a probe window (full
    intersection scores over the best rare ranges); (3) a rare range
    whose ub_rare + Σ_{s≠rare} localized maxUB_s < θ drops WITH its other-
    term blocks.

    Decode-time θ refinement (``refine_theta``, queries above
    ``refine_min_postings``): the top-UB ``probe_frac`` of blocks (OR) /
    rare ranges (AND) are decoded FIRST; the k-th best per-doc partial
    sum (OR — partials are lower bounds) or exact intersection score
    (AND — probe docs are fully covered, certified by block count) is a
    valid θ, tighter than the driver-seed θ, so late blocks prune
    against it. Probe contributions are cached and reused in the final
    aggregation — nothing decodes twice.

    Queries whose driver would read ≤ ``small_query_postings`` postings
    (default :data:`SMALL_QUERY_POSTINGS`; postings already in the
    handle's term cache cost nothing) run :func:`driver_topk` instead —
    zero jobs, the handle's term cache read and filled — and return a
    local relation (:func:`scores_frame`: zero jobs read with
    ``.collect()``, one job read with ``.toPandas()``). ``exclude_ids`` — doc ids dropped before the top-k
    cut, as a DataFrame with a ``doc_id`` column (collected only after the
    postings pass the gate) or as an int64 array already on the driver
    (which saves its collect job).
    ``metrics_out`` (optional dict) receives block-skip accounting (count
    jobs on the pruned path).
    """
    # ad-hoc (path) calls: no postings caching
    handle = (index_dir if isinstance(index_dir, IndexHandle)
              else IndexHandle(spark, index_dir, cache=False))
    terms = tokenize_query(query)
    meta = handle.meta
    k1, b, avgdl = meta["k1"], meta["b"], meta["avgdl"]

    if not terms:
        return tables.empty_frame(spark, SCORE_SCHEMA)

    # exclusion set (tombstones) on the driver, collected lazily AT MOST
    # once unless it came as an array: the small-query and θ-seed paths
    # need it driver-side so that θ is the k-th best score among docs that
    # can actually be returned (seeding from an excluded doc could
    # overshoot and prune live top-k blocks). At most EXCLUDE_CAP + 1 ids
    # are collected: more than the cap means it is too large for the driver
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
    total_postings = sum(info[t]["df"] for t in present)
    if isinstance(exclude_ids, np.ndarray):
        exclude_ids = tables.local_frame(
            spark, pa.table({"doc_id": exclude_ids}), "doc_id long")

    postings = (handle.postings
                .filter(F.col("term").isin(present)))  # pushed to scan
    idf_map = F.create_map(*[x for t in present
                             for x in (F.lit(t), F.lit(idf_by_term[t]))])
    blocks = postings.withColumn("ub", idf_map[F.col("term")]
                                 * F.col("block_max_tfnorm"))
    if exclude_ids is not None and prune:
        # pruning with exclusions is safe only when the θ seed can be
        # cleaned of excluded docs driver-side; otherwise exactness wins
        prune = exclude_set().size <= EXCLUDE_CAP
    if metrics_out is not None:
        metrics_out["blocks_total"] = blocks.count()

    # pruning pays off only when there is real volume to skip
    pre_agg: DataFrame | None = None  # cached probe contributions (refine)
    if (prune and mode == "and" and len(present) > 1
            and total_postings > prune_min_postings):
        rarest = min(present, key=lambda t: info[t]["df"])
        rare_blocks = blocks.filter(F.col("term") == rarest)
        # (2)+(3): θ-based rare-RANGE pruning, driver-side over the rare
        # block metadata (small: df_rare/block_size rows)
        max_rare_ranges = 50_000
        n_rare_blocks = info[rarest]["df"] // meta.get("block_size", 128) + 1
        kept = None
        if n_rare_blocks <= max_rare_ranges:
            rng_pdf = (rare_blocks
                       .select("doc_id_first", "doc_id_last", "ub")
                       .toPandas())
            refine = (refine_theta
                      and total_postings >= refine_min_postings)
            kept = _and_range_prune(spark, blocks, rarest, rng_pdf, present,
                                    idf_by_term, k, k1, b, avgdl,
                                    exclude=exclude_set(),
                                    probe_frac=probe_frac if refine else 0.0)
        if kept is not None:
            rare_blocks, ranges = kept
        else:
            ranges = (rare_blocks
                      .select(F.col("doc_id_first").alias("lo"),
                              F.col("doc_id_last").alias("hi")))
        # (1) range semi-join: other terms' blocks must overlap a
        # surviving rare range
        others = blocks.filter(F.col("term") != rarest).join(
            F.broadcast(ranges),
            (F.col("doc_id_last") >= F.col("lo"))
            & (F.col("doc_id_first") <= F.col("hi")),
            "left_semi")
        blocks = rare_blocks.unionByName(others)
    if prune and mode == "or" and total_postings > prune_min_postings:
        # exact per-term global UB from the segment's term_ub fold
        per_term = {t: idf_by_term[t] * info[t]["max_tfnorm"]
                    for t in present}
        # θ: k-th best partial score from the top-UB blocks (driver decode
        # of a handful of rows)
        # r4 sweep (BENCH.md): seed_n = max(8, 4k/bs) left θ short of the
        # pruning ceiling (or:import skip 0.9668 vs 0.9958 achievable); a
        # 4× seed reaches the ceiling — the true top-k live in the top ~30
        # UB blocks here — while 8×/16× add nothing. Driver cost is
        # decoding ~4k postings: negligible against one pruned block.
        seed_n = max(32, (16 * k) // max(meta.get("block_size", 128), 1) + 2)
        seed = (blocks.orderBy(F.desc("ub")).limit(seed_n)
                .select(*_BLOCK_COLS).toArrow())
        ids, parts, *_ = _block_parts(seed, idf_by_term, k1, b, avgdl)
        _, seed_scores = _topk(ids, parts, 1, exclude_set(), k)
        if seed_scores.size >= k:
            theta = float(seed_scores[k - 1])
            all_blocks = blocks

            def theta_filter(blks: DataFrame, th: float) -> DataFrame:
                if len(present) > 1:
                    return _theta_filter_localized(
                        blks, present, per_term, th, range_docs,
                        bound_blocks=all_blocks)
                return blks.filter(F.col("ub") >= F.lit(th) * _EPS - 1e-300)

            # cheap seed θ filter first; refinement then probes only the
            # SURVIVORS' top-UB slice (probing pre-filter blocks decodes
            # work the seed θ would have skipped for free)
            blocks = theta_filter(blocks, theta)
            if refine_theta and total_postings >= refine_min_postings:
                new_theta, rest, pre_agg = _refine_theta_or(
                    blocks, theta, k, probe_frac, idf_by_term, k1, b,
                    avgdl, exclude_ids, metrics_out)
                if pre_agg is not None and new_theta > theta:
                    blocks = theta_filter(rest, new_theta)
                elif pre_agg is not None:
                    blocks = rest  # probe decoded; rest already filtered
    if metrics_out is not None:
        metrics_out["blocks_scored"] = (blocks.count()
                                        + metrics_out.get("blocks_probe", 0))
        tot = metrics_out["blocks_total"]
        metrics_out["block_skip_ratio"] = round(
            1.0 - metrics_out["blocks_scored"] / tot, 4) if tot else 0.0

    agg = _decode_agg(blocks, idf_by_term, k1, b, avgdl)
    if pre_agg is not None:
        agg = (agg.unionByName(pre_agg)
               .groupBy("doc_id").agg(F.sum("score").alias("score"),
                                      F.sum("nt").alias("nt")))
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

