"""Deduplication operators for large-scale corpus curation.

The reference dedups at two levels: exact value dedup inside records
(harvester/post_processing/dedupe_sourceresource.py:4-17) and md5-based
image dedup against a cache (harvester/image_harvest.py:201-257). These
generalize here to corpus-scale document dedup, all DataFrame-first:

- exact:         sha256 group-by (one shuffle, partial-agg friendly)
- MinHash + LSH: shingle → 64 permuted min-hashes → banded bucket join.
  Signatures come from a map-only numpy kernel (``mapInArrow`` over
  dedup_kernels.py: pyarrow tokenize, bit-exact numpy XXH64 of the
  shingles, the 64 permutations as vectorized reductions) — one row per
  doc, no explode and no groupBy. The JVM aggregation form
  (``use_kernel=False``) stays as the reference the kernel is
  equality-tested against.
- SimHash:       64-bit sign-sum fingerprint from the same kernel family;
  the md5-token oracle form (``hash_expr=md5_hash64_expr``) stays JVM-side
  so DuckDB can replicate it.
- Small corpora: both LSH pair ops collect the corpus once and run the
  same kernels on the driver (``_collect_small_docs`` budgets); larger
  corpora run the distributed DAG.
- n-gram Jaccard: exact set overlap via array_intersect (verification of
  LSH candidates, or small probe sets).

Scale notes: every op is a single keyed shuffle with map-side partial
aggregation; LSH candidate-pair explosion is bounded by bucket size, and
pathological buckets (boilerplate shingles) are capped with a bucket-size
limit, the same spirit as the index build's hot-term salting.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvester_spark.functions.tokenize import tokens_expr

# Small-corpus driver fast path (minhash_lsh_pairs / simhash_near_pairs):
# below these budgets the whole corpus is collected once and the pairs are
# computed by the SAME vectorized kernels on the driver — two tiny jobs
# instead of the ~10-14 AQE micro-jobs of the distributed DAG, whose fixed
# per-stage costs dominate wall time at sub-GB corpus sizes (measured in
# OPTIMIZATION_r06.md; same pattern as bm25's small_query_postings path).
# The byte cap sits at the MEASURED crossover, not a memory limit: the
# local kernels cost ~0.2-0.35 s/MB single-core while the distributed DAG
# pays ~5-8 s of fixed stage/scheduling overhead before its parallelism
# helps (numbers in OPTIMIZATION_r06.md), so ≤32 MB of text is where the
# driver path wins outright — and it is drift-immune (2 jobs, no
# stragglers). Production clusters can raise/lower or disable (≤0) via
# env. Above the caps the distributed path runs unchanged, which is the
# only path a 100 TB corpus can ever take — the probe job reads at most
# cap+1 rows before falling back.
_DRIVER_PAIRS_MAX_DOCS = int(os.environ.get(
    "SPARK_GRAFT_DEDUP_DRIVER_DOCS", "262144"))
_DRIVER_PAIRS_MAX_BYTES = int(os.environ.get(
    "SPARK_GRAFT_DEDUP_DRIVER_BYTES", str(32 << 20)))


def _collect_small_docs(docs: DataFrame, content_col: str, id_col: str):
    """(ids int64 ndarray, texts pa.Array, n_docs) when the corpus fits
    the driver budgets, else None. One bounded probe job (reads ≤ cap+1
    rows) + one collect."""
    cap = _DRIVER_PAIRS_MAX_DOCS
    if cap <= 0:
        return None
    # limit().collect() executes as an INCREMENTAL take (executeTake: one
    # partition, then 4x more per round) — a 100 TB corpus finds its
    # cap+1-th row after a handful of partitions and falls through; a
    # limit().agg() form would instead run a LocalLimit task in EVERY
    # partition. Only byte lengths travel, not content.
    lens = (docs.select(F.coalesce(F.octet_length(F.col(content_col)),
                                   F.lit(0)).alias("nb"))
            .limit(cap + 1).collect())
    if len(lens) > cap or sum(r["nb"] for r in lens) > _DRIVER_PAIRS_MAX_BYTES:
        return None
    tbl = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content")).toArrow()
    ids = tbl.column("doc_id").to_numpy(
        zero_copy_only=False).astype(np.int64)
    # keep the column CHUNKED (one chunk per collected batch): pyarrow
    # compute parallelizes across chunks, so the driver-path tokenizer
    # runs on the raised thread pool instead of one core
    texts = tbl.column("content")
    return ids, texts, int(ids.size)


def _pairs_drop_warning(metrics: dict, max_bucket: int, what: str) -> None:
    import warnings

    if metrics["dropped_buckets"]:
        warnings.warn(
            f"{what}: max_bucket={max_bucket} dropped "
            f"{metrics['dropped_buckets']} bucket(s) covering "
            f"{metrics['dropped_doc_entries']} doc entries — recall is "
            f"reduced; pass with_metrics=True for full accounting or "
            f"raise max_bucket", RuntimeWarning)

# deterministic permutation parameters (seeded; public Carter-Wegman form
# h_i(x) = (a_i * x + b_i) mod p over the xxhash64 shingle hash).
# p = 2^31 - 1 keeps every product under 2^62 — ANSI-mode (Spark 4 default)
# overflow-safe without try_multiply.
MERSENNE_P = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=num_hashes, dtype=np.int64).tolist()
    b = rng.integers(0, MERSENNE_P, size=num_hashes, dtype=np.int64).tolist()
    return a, b


def _sha_projection(docs: DataFrame, content_col: str,
                    id_col: str) -> DataFrame:
    """(doc_id, content_sha256) — the shared input of both exact-dedup
    shapes."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(content_col), 256).alias("content_sha256"))


def exact_duplicates(docs: DataFrame, *, content_col: str = "content",
                     id_col: str = "doc_id",
                     sample_cap: int = 1000) -> DataFrame:
    """Groups of byte-identical documents: (content_sha256, n_dups, keep_id,
    doc_ids, sample_truncated). ``keep_id`` = min doc id (first-wins, like
    the reference's order-preserving dedupe, dedupe_sourceresource.py:10-16).

    ``doc_ids`` is a CAPPED sample (first ``sample_cap`` members by id) —
    an unbounded collect_list is a single multi-GB array cell for a
    boilerplate file duplicated 10^7× at corpus scale, OOMing that reducer.
    The cap is enforced BEFORE aggregation (row_number window over the same
    shuffle key, so no extra exchange), keeping the agg buffer itself
    bounded; ``sample_truncated`` flags capped groups. Full membership is
    available row-per-member (bounded row size, any row count) via
    :func:`exact_duplicate_members`."""
    from pyspark.sql import Window

    w = Window.partitionBy("content_sha256").orderBy("doc_id")
    return (_sha_projection(docs, content_col, id_col)
            .withColumn("rn", F.row_number().over(w))
            .groupBy("content_sha256")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_id"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("rn") <= sample_cap, F.col("doc_id"))))
                 .alias("doc_ids"))
            .filter(F.col("n_dups") > 1)
            .withColumn("sample_truncated",
                        F.col("n_dups") > F.lit(sample_cap)))


def exact_duplicate_members(docs: DataFrame, *, content_col: str = "content",
                            id_col: str = "doc_id") -> DataFrame:
    """Full dedup membership, one row per duplicated document:
    (content_sha256, doc_id, keep_id, n_dups). The scale-safe companion to
    :func:`exact_duplicates` — row SIZE is bounded regardless of group
    size, so a 10^7-member boilerplate group is 10^7 small rows instead of
    one giant array cell. Keep/drop pairs are ``doc_id != keep_id`` rows;
    one shuffle (window over the sha key)."""
    from pyspark.sql import Window

    w = Window.partitionBy("content_sha256")
    return (_sha_projection(docs, content_col, id_col)
            .withColumn("keep_id", F.min("doc_id").over(w))
            .withColumn("n_dups", F.count("*").over(w))
            .filter(F.col("n_dups") > 1))


def shingles_from_tokens(toks, n: int = 3):
    """Shingles from an ALREADY-MATERIALIZED token-array column (or a
    lambda-bound variable). Docs with 1..n-1 tokens get one short shingle
    (their whole text); zero-token docs get an EMPTY array — a synthetic
    empty shingle would make every empty/punctuation-only doc a
    jaccard=1.0 near-dup of every other one.

    Construction is a ``zip_with`` fold over n SHIFTED SLICES of the token
    array (positions j..j+L over slice j) rather than a per-position
    ``slice(toks, i+1, n)`` inside ``transform``: the per-position slice
    allocates an n-element sub-array for every shingle position, and the
    whole corpus pass measured 5× slower for it (1.37 s vs 0.28 s at
    sf1.0; OPTIMIZATION_r06.md). Output arrays are identical — same
    strings, same position order, same ``array_distinct`` first-occurrence
    semantics (asserted in tests/test_dedup.py)."""
    sz = F.size(toks)
    L = sz - (n - 1)  # number of full-n shingle positions when sz >= n
    chain = F.slice(toks, 1, L)
    for j in range(2, n + 1):
        chain = F.zip_with(chain, F.slice(toks, j, L),
                           lambda acc, t: F.concat(acc, F.lit(" "), t))
    return F.when(sz == 0, F.array().cast("array<string>")) \
            .when(sz < n, F.array(F.concat_ws(" ", toks))) \
            .otherwise(F.array_distinct(chain))


def shingles_expr(content_col: str, n: int = 3):
    """n-gram token shingles straight from a content column.

    The tokenizer output is BOUND ONCE via a one-element ``transform``
    lambda: referencing the raw ``tokens_expr`` tree inside the per-shingle
    lambda would re-run the regex split for EVERY position (O(len²) per
    doc — measured 15s just to count 260k shingles at sf0.1; 1.5s with the
    binding). A lambda variable is evaluated once in any physical plan, so
    this doesn't depend on Catalyst subexpression elimination."""
    return F.transform(F.array(tokens_expr(content_col)),
                       lambda t: shingles_from_tokens(t, n))[0]


def _minhash_signatures_kernel(docs: DataFrame, *, content_col: str,
                               id_col: str, num_hashes: int,
                               shingle_n: int, seed: int,
                               with_sha: bool) -> DataFrame:
    """Map-only signature table via the vectorized kernel
    (operators/dedup_kernels.py): per-doc signatures are computed inside
    each partition (pyarrow tokenize + bit-exact numpy xxhash64 + numpy
    min-reduction), so there is NO explode, NO 64-agg hash aggregation
    and NO groupBy exchange — the downstream sees one row per doc
    straight off the scan. Values are identical to the JVM aggregation
    (equality-tested in tests/test_dedup.py)."""
    from harvester_spark.operators.dedup_kernels import minhash_sig_batches

    a, b = _perm_params(num_hashes, seed)
    a_np = np.asarray(a, dtype=np.int64)
    b_np = np.asarray(b, dtype=np.int64)
    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    schema = ("doc_id long, " + ("csha string, " if with_sha else "")
              + "sig array<long>")

    def run(batches):
        import pyarrow as pa
        pa.set_cpu_count(1)
        yield from minhash_sig_batches(batches, a=a_np, b=b_np,
                                       shingle_n=shingle_n,
                                       with_sha=with_sha)

    return src.mapInArrow(run, schema)


def minhash_signatures(docs: DataFrame, *, content_col: str = "content",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_n: int = 3, seed: int = 42,
                       carry_exprs: dict | None = None,
                       use_kernel: bool = True) -> DataFrame:
    """(doc_id, sig array<long>) — 64 permuted min-hashes, all JVM-side.

    One explode + one groupBy; the 64 permutations are 64 aggregate
    expressions over the same shuffled rows (map-side partial min), so
    the shuffle volume is the shingle count, not shingles × permutations.
    The permutation uses ``%`` (one modulo) instead of ``pmod`` (two):
    ``h ≥ 0`` and ``a_i, b_i ≥ 0`` make the dividend non-negative, where
    the two are identical — same signature values, half the modulo work
    in the hottest per-row expression.

    ``carry_exprs``: optional per-doc constant columns (name → Column over
    the docs row) to ride the SAME aggregation via ``first()`` — e.g. the
    rep-collapse content sha. Per-doc constants partial-aggregate map-side
    to one row per doc, so carrying them here is one column in the
    existing shuffle instead of a separate scan + join (guide §2.4).

    A zero-shuffle per-row form (bound shingle-hash array + 64 array_min
    HOF passes) was A/B'd interleaved at sf0.1 and LOST (best 2.57 s vs
    2.30 s full-pipeline): higher-order functions run interpreted per
    element, and 64 passes × ~200 shingles of interpreted pmod/multiply
    costs more than shuffling the shingle rows into whole-stage-codegen'd
    min aggregates — the shuffle was partial-aggregated map-side anyway.
    (r6: a numpy mapInArrow kernel — NOT an interpreted HOF pass — now
    beats both; ``use_kernel=False`` keeps this JVM aggregation form,
    which the kernel is equality-tested against.)
    """
    if use_kernel and carry_exprs is None:
        return _minhash_signatures_kernel(
            docs, content_col=content_col, id_col=id_col,
            num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
            with_sha=False)
    a, b = _perm_params(num_hashes, seed)
    carry = carry_exprs or {}
    sh = (docs.select(F.col(id_col).alias("doc_id"),
                      *[e.alias(n) for n, e in carry.items()],
                      F.explode(shingles_expr(content_col, shingle_n)).alias("sh"))
          .withColumn("h", F.pmod(F.xxhash64("sh"), F.lit(MERSENNE_P))))
    aggs = [F.min((F.col("h") * F.lit(a[i]) + F.lit(b[i]))
                  % F.lit(MERSENNE_P)).alias(f"h{i}")
            for i in range(num_hashes)]
    sig = sh.groupBy("doc_id").agg(
        *[F.first(n).alias(n) for n in carry], *aggs)
    return sig.select("doc_id", *carry,
                      F.array(*[f"h{i}" for i in range(num_hashes)])
                      .alias("sig"))


def _capped_bucket_agg(rows: DataFrame, key_cols: list[str], order_col: str,
                       collect_expr, collect_alias: str,
                       max_bucket: int) -> DataFrame:
    """Bucket aggregation whose collect_list buffer is bounded BEFORE the
    aggregation ever materializes it.

    A plain ``groupBy(key).agg(collect_list(...))`` builds the full member
    array in the agg buffer even when a downstream ``sz <= max_bucket``
    filter discards it — a 10^7-member boilerplate bucket is sixteen
    ~GB array cells on one reducer before the guard runs (r4 verdict #1).
    Same fix as :func:`exact_duplicates`: ``row_number()`` over the bucket
    key (same shuffle partitioning — no extra exchange) caps what
    ``collect_list`` ever sees at ``max_bucket + 1`` entries (the +1 keeps
    an over-cap witness in the array itself), while ``sz`` stays the EXACT
    count over all rows so the drop metrics are uncapped."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (rows.withColumn("__rn", F.row_number().over(w))
            .groupBy(*key_cols)
            .agg(F.sort_array(F.collect_list(
                     F.when(F.col("__rn") <= max_bucket + 1, collect_expr)))
                 .alias(collect_alias),
                 F.count("*").alias("sz")))


def _bucket_drop_metrics(buckets_sized: DataFrame, max_bucket: int,
                         key_cols: list[str]) -> DataFrame:
    """One-row accounting of buckets dropped by the ``max_bucket`` guard.

    No silent recall loss: every LSH path that caps bucket size can hand
    the caller (dropped_buckets, dropped_doc_entries, max_dropped_size) so
    "deduped" is never silently "mostly not deduped"."""
    return (buckets_sized.filter(F.col("sz") > max_bucket)
            .agg(F.count("*").alias("dropped_buckets"),
                 F.coalesce(F.sum("sz"), F.lit(0)).cast("long")
                 .alias("dropped_doc_entries"),
                 F.coalesce(F.max("sz"), F.lit(0)).cast("long")
                 .alias("max_dropped_size")))


# how long a drop-watcher polls for its plan's first action before
# concluding the plan was abandoned and releasing the thread
_WATCH_TIMEOUT_S = 1800.0


def _watch_bucket_drops(sized: DataFrame, max_bucket: int,
                        what: str) -> DataFrame:
    """Attach a drop counter to the bucket table and warn (from a daemon
    watcher) if the ``max_bucket`` guard actually discarded buckets.

    Used on the ``with_metrics=False`` path so recall loss is NEVER silent.
    The ``observe`` node rides the candidate plan for free (no extra job)
    and the watcher blocks on the first action over that lineage. Spark 4.1
    loses CollectMetrics values when the observed plan shares a cached
    subtree (the row comes back empty), so callers persist ``sized`` and
    the watcher falls back to the one-row aggregation over the warm cache
    — off the caller's critical path either way.

    The watcher POLLS (it never parks on a blocking ``obs.get``): the JVM
    Observation's ``future().isCompleted()`` is the DEFINED completion
    signal — False until the first action over the observed plan
    finishes, True after (verified empirically, including that it
    completes even when the cached-subtree bug delivers an empty metrics
    row). A caller that never executes the plan therefore releases the
    thread at ``_WATCH_TIMEOUT_S`` instead of leaking one parked daemon
    per abandoned candidate plan (r4 ADVICE); plans first executed AFTER
    the deadline lose only the warning — ``with_metrics=True`` remains
    the accounting path. The persisted cache entry is
    MEMORY_ONLY-evictable, so an abandoned plan's footprint under
    pressure is zero."""
    import threading
    import time
    import warnings

    from pyspark.sql import Observation

    obs = Observation()
    observed = sized.observe(
        obs,
        F.coalesce(F.sum((F.col("sz") > max_bucket).cast("long")),
                   F.lit(0)).alias("dropped_buckets"),
        F.coalesce(F.sum(F.when(F.col("sz") > max_bucket, F.col("sz"))
                         .otherwise(F.lit(0))), F.lit(0))
        .alias("dropped_doc_entries"))

    def _watch() -> None:
        deadline = time.monotonic() + _WATCH_TIMEOUT_S
        while True:
            try:
                done = bool(obs._jo.future().isCompleted())
            except Exception:
                done = False  # py4j hiccup: treat as not-ready, repoll
            if done:
                break
            if time.monotonic() >= deadline:
                return  # abandoned plan: release the thread
            time.sleep(0.25)
        m = None
        try:
            m = obs.get  # action already done: returns immediately
        except Exception:
            pass  # lost metrics row — fall back below
        if m is None or "dropped_buckets" not in m:
            # Spark 4.1 cached-subtree bug: the CollectMetrics row can
            # come back empty when the observed plan shares a persisted
            # subtree — aggregate over the now-warm cache instead
            try:
                m = (sized.filter(F.col("sz") > max_bucket)
                     .agg(F.count("*").alias("dropped_buckets"),
                          F.coalesce(F.sum("sz"), F.lit(0))
                          .alias("dropped_doc_entries"))
                     .collect()[0].asDict())
            except Exception:
                return
        if m.get("dropped_buckets"):
            warnings.warn(
                f"{what}: max_bucket={max_bucket} dropped "
                f"{m['dropped_buckets']} bucket(s) covering "
                f"{m['dropped_doc_entries']} doc entries — recall is "
                f"reduced; pass with_metrics=True for full accounting or "
                f"raise max_bucket", RuntimeWarning)

    threading.Thread(target=_watch, daemon=True,
                     name=f"{what}-bucket-drop-watch").start()
    return observed


def _check_max_bucket(max_bucket: int) -> None:
    """A bucket cap below 1 drops every bucket; the driver and distributed
    paths would then disagree on what they report as dropped."""
    if max_bucket < 1:
        raise ValueError(f"max_bucket={max_bucket} must be >= 1")


def minhash_lsh_pairs(docs: DataFrame, *, content_col: str = "content",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3, seed: int = 42,
                      max_bucket: int = 1000,
                      jaccard_threshold: float | None = None,
                      with_metrics: bool = False):
    """Candidate near-duplicate pairs via banded MinHash LSH.

    bands=16 × rows=4 over 64 hashes → collision prob ≈ 1-(1-j^4)^16.
    Buckets larger than ``max_bucket`` are dropped (boilerplate guard —
    they would generate O(bucket²) pairs; at 100 TB that is the difference
    between a job and an explosion) but NOT silently: pass
    ``with_metrics=True`` to also receive a one-row DataFrame counting
    dropped buckets/doc-entries. If ``jaccard_threshold`` is set the
    candidates are exactly verified with true shingle-set Jaccard.

    BYTE-IDENTICAL documents collapse to one representative (min doc_id)
    BEFORE banding, mirroring :func:`simhash_near_pairs`' star collapse:
    identical content ⇒ identical signature ⇒ the whole group lands in all
    ``bands`` buckets, so a boilerplate file duplicated 10^7× would
    otherwise put sixteen 10^7-member groups on one reducer AND emit
    O(m²) pairs. The collapse rides the signature table (sha2 attached by
    a small doc_id join — no extra corpus-wide shuffle): members emit
    (rep, member) "star" pairs with jaccard EXACTLY 1.0 (byte identity),
    banding then runs over representatives only, so pathological groups
    cost O(m) and cross-group edges attach to the representative.
    Consequence for callers: the pair list is COMPONENT-complete, not
    edge-complete — feed it :func:`connected_components` /
    :func:`dedup_keep_decisions`, whose output is unchanged by the
    collapse (any cross-cluster edge exists for all members iff it exists
    for the representative, since members are byte-identical).
    Returns (doc_a, doc_b [, jaccard]) with doc_a < doc_b
    [, metrics DataFrame with dropped_buckets, dropped_doc_entries,
    max_dropped_size, identical_content_groups,
    identical_content_extra_docs].
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    _check_max_bucket(max_bucket)
    rows_per_band = num_hashes // bands
    # small-corpus driver fast path: identical pairs/metrics from the same
    # kernels with two tiny jobs (see _collect_small_docs; equality-tested
    # against the distributed DAG in tests/test_dedup.py)
    small = _collect_small_docs(docs, content_col, id_col)
    if small is not None:
        return _minhash_pairs_driver(
            docs.sparkSession, small, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, seed=seed, max_bucket=max_bucket,
            jaccard_threshold=jaccard_threshold, with_metrics=with_metrics)
    # rep-collapse on byte identity: the content sha rides the signature
    # KERNEL (hashlib sha256 hex == Spark sha2 hex over the same UTF-8
    # bytes) — one map pass emits (doc_id, csha, sig) per doc with no
    # explode, no 64-agg aggregation and no groupBy exchange at all
    # (dedup_kernels.py; values equality-tested against the JVM form).
    # Zero-token docs have no signature row, so they drop out of stars
    # AND banding here exactly as they always dropped out of banding
    # (empty shingle set).
    sig = _minhash_signatures_kernel(
        docs, content_col=content_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
        with_sha=True)
    ann = (sig.withColumn("rep",
                          F.min("doc_id").over(Window.partitionBy("csha")))
           .persist(StorageLevel.MEMORY_ONLY))
    star_pairs = (ann.filter(F.col("doc_id") != F.col("rep"))
                  .select(F.col("rep").alias("doc_a"),
                          F.col("doc_id").alias("doc_b")))
    reps_sig = ann.filter(F.col("doc_id") == F.col("rep")) \
                  .select("doc_id", "sig")
    band_arr = F.array(*[
        F.xxhash64(F.concat_ws(",", *[
            F.col("sig")[i * rows_per_band + r].cast("string")
            for r in range(rows_per_band)]))
        for i in range(bands)])
    banded = (reps_sig.select("doc_id", F.posexplode(band_arr)
                              .alias("band", "band_hash")))
    sized = _capped_bucket_agg(banded, ["band", "band_hash"], "doc_id",
                               F.col("doc_id"), "ids", max_bucket)
    # metrics/watcher and pairs both read the bucket table; without this
    # cache a caller evaluating both re-runs shingling + banding twice.
    # MEMORY_ONLY throughout this module: per-call cache entries have no
    # unpersist hook, so they must be evictable under LRU pressure rather
    # than accumulating on disk across calls
    sized = sized.persist(StorageLevel.MEMORY_ONLY)
    if not with_metrics:
        sized = _watch_bucket_drops(sized, max_bucket, "minhash_lsh_pairs")
    metrics = _bucket_drop_metrics(sized, max_bucket, ["band", "band_hash"])
    if with_metrics:
        ident = (ann.filter(F.col("doc_id") != F.col("rep"))
                 .agg(F.count_distinct("csha").cast("long")
                      .alias("identical_content_groups"),
                      F.count("*").cast("long")
                      .alias("identical_content_extra_docs")))
        metrics = metrics.crossJoin(ident)
    buckets = sized.filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
    # pair generation within bucket: explode × explode with a < b
    pairs = (buckets
             .select(F.explode("ids").alias("doc_a"), F.col("ids"))
             .select("doc_a", F.explode("ids").alias("doc_b"))
             .filter(F.col("doc_a") < F.col("doc_b"))
             .distinct())
    if jaccard_threshold is not None:
        # the candidate DAG (signatures → bands → buckets) feeds three
        # consumers below; without a cache Spark recomputes it per consumer
        pairs = pairs.persist(StorageLevel.MEMORY_ONLY)
        # compute shingles only for docs that appear in candidate pairs —
        # the candidate set is tiny next to the corpus, so a semi-join
        # before the (expensive) shingle expression saves a full pass.
        # ONE scan of the cached pairs (explode both sides), and no
        # distinct: the broadcast left_semi join dedups for free, so the
        # old union + distinct exchange bought nothing (guide §2.4)
        cand_ids = pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("cid"))
        docs_cand = docs.join(F.broadcast(cand_ids),
                              docs[id_col] == cand_ids["cid"], "left_semi")
        sh = docs_cand.select(F.col(id_col).alias("doc_id"),
                              shingles_expr(content_col, shingle_n).alias("shs"))
        sh = sh.persist(StorageLevel.MEMORY_ONLY)
        pairs = (pairs
                 .join(sh.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("shs", "shs_a"), "doc_a")
                 .join(sh.withColumnRenamed("doc_id", "doc_b")
                       .withColumnRenamed("shs", "shs_b"), "doc_b")
                 .withColumn("jaccard",
                             F.size(F.array_intersect("shs_a", "shs_b"))
                             / F.size(F.array_union("shs_a", "shs_b")))
                 .filter(F.col("jaccard") >= jaccard_threshold)
                 .select("doc_a", "doc_b", "jaccard"))
        # star members are byte-identical to their rep: jaccard is exactly
        # 1.0 by definition — no verification pass needed
        pairs = pairs.unionByName(
            star_pairs.withColumn("jaccard", F.lit(1.0)))
    else:
        pairs = pairs.unionByName(star_pairs)
    if with_metrics:
        return pairs, metrics
    return pairs


def _pairs_df(spark, rows: list, schema: str):
    """Pair rows → DataFrame via pandas/Arrow (row-of-tuples conversion
    measured ~1 s for 10^4-pair outputs; the Arrow path is ~ms)."""
    import pandas as pd

    names = [f.split()[0] for f in schema.split(",")]
    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema)


_PAIR_METRIC_COLS = ("dropped_buckets", "dropped_doc_entries",
                     "max_dropped_size")


def _metrics_df(spark, metrics: dict, ident_cols: tuple | None):
    cols = list(_PAIR_METRIC_COLS) + (list(ident_cols) if ident_cols else [])
    schema = ", ".join(f"{c} long" for c in cols)
    return spark.createDataFrame(
        [tuple(int(metrics[c]) for c in cols)], schema)


def _minhash_pairs_driver(spark, small, *, num_hashes: int, bands: int,
                          shingle_n: int, seed: int, max_bucket: int,
                          jaccard_threshold: float | None,
                          with_metrics: bool):
    """Driver-side evaluation of minhash_lsh_pairs for small corpora —
    same pairs, same metrics, two jobs (kernels in dedup_kernels.py)."""
    from harvester_spark.operators.dedup_kernels import (_driver_pa_pool,
                                                          minhash_pairs_local)

    ids, texts, _n = small
    a, b = _perm_params(num_hashes, seed)
    with _driver_pa_pool():
        res = minhash_pairs_local(
            ids, texts, a=np.asarray(a, dtype=np.int64),
            b=np.asarray(b, dtype=np.int64), bands=bands,
            shingle_n=shingle_n, max_bucket=max_bucket,
            jaccard_threshold=jaccard_threshold)
    schema = ("doc_a long, doc_b long"
              + (", jaccard double" if jaccard_threshold is not None
                 else ""))
    pairs = _pairs_df(spark, res["pairs"], schema)
    if with_metrics:
        return pairs, _metrics_df(
            spark, res["metrics"],
            ("identical_content_groups", "identical_content_extra_docs"))
    _pairs_drop_warning(res["metrics"], max_bucket, "minhash_lsh_pairs")
    return pairs


def _simhash_pairs_driver(spark, small, *, max_hamming: int, chunks: int,
                          max_bucket: int, with_metrics: bool):
    """Driver-side evaluation of simhash_near_pairs (default xxhash64
    engine) — same pairs, same metrics, two jobs."""
    from harvester_spark.operators.dedup_kernels import (_driver_pa_pool,
                                                          simhash_pairs_local)

    ids, texts, _n = small
    with _driver_pa_pool():
        res = simhash_pairs_local(ids, texts, max_hamming=max_hamming,
                                  chunks=chunks, max_bucket=max_bucket)
    pairs = _pairs_df(spark, res["pairs"],
                      "doc_a long, doc_b long, hamming int")
    if with_metrics:
        return pairs, _metrics_df(
            spark, res["metrics"],
            ("identical_fp_groups", "identical_fp_extra_docs"))
    _pairs_drop_warning(res["metrics"], max_bucket, "simhash_near_pairs")
    return pairs


def md5_hash64_expr(c) -> "F.Column":
    """64-bit token hash from the md5 hex prefix — bit-identical to what
    DuckDB computes with ``('0x' || substr(md5(t), 1|9, 8))::BIGINT``, so
    simhash fingerprints built on it are oracle-checkable. Production
    keeps xxhash64 (one JVM op vs md5 + two conv); this exists for
    cross-engine verification entries."""
    hi = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash(docs: DataFrame, *, content_col: str = "content",
            id_col: str = "doc_id", bits: int = 64,
            hash_expr=F.xxhash64) -> DataFrame:
    """(doc_id, simhash long) — sign-sum fingerprint, JVM-side.

    ``hash_expr``: Column -> Column token hash (default xxhash64; pass
    :func:`md5_hash64_expr` for DuckDB-replicable fingerprints).

    ONE shuffle: each token OCCURRENCE votes ±1 — identical to the
    textbook ±tf per distinct term (Σ_occurrences ±1 = Σ_terms ±tf), so
    the per-(doc, term) tf pre-aggregation the old form shuffled through
    is pure overhead. A/B'd interleaved at sf0.1: 1.64 s vs 1.82 s best,
    fingerprints bit-identical; at corpus scale this removes a full
    (doc, term, tf) exchange.

    The per-bit vote is aggregated as a plain ONES count + one shared
    occurrence count instead of 64 ``when(bit==1, 1, -1)`` branches:
    Σ±1 = 2·ones − n, so ``bit set ⟺ Σ±1 > 0 ⟺ 2·ones > n`` — exact
    integer equivalence, and the map-side aggregation drops a compare +
    branch per (occurrence × bit) — the dominant per-row cost of the
    fingerprint stage (guide §1.2 "per-task work").

    r6: with the DEFAULT ``hash_expr`` (xxhash64) the fingerprints come
    from a map-only numpy kernel instead — same tokenizer kernels as the
    index build, bit-exact numpy xxhash64, per-doc bit votes reduced in
    numpy — which removes the token explode AND the groupBy exchange
    (one output row per doc straight off the scan). Fingerprint values
    are identical (equality-tested); a custom ``hash_expr`` (e.g. the
    oracle's md5 form) keeps this JVM aggregation."""
    if hash_expr is F.xxhash64:
        from harvester_spark.operators.dedup_kernels import simhash_batches

        src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                          F.col(content_col).alias("content"))

        def run(batches):
            import pyarrow as pa
            pa.set_cpu_count(1)
            yield from simhash_batches(batches, bits=bits)

        return src.mapInArrow(run, "doc_id long, simhash long")
    tok = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokens_expr(content_col)).alias("t"))
           .withColumn("h", hash_expr(F.col("t"))))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)))
        .alias(f"b{i}")
        for i in range(bits)]
    agg = tok.groupBy("doc_id").agg(F.count("*").alias("n_occ"), *bit_sums)
    # shiftleft wraps at bit 63 (sign bit) without tripping ANSI overflow;
    # the addends occupy disjoint bits so the sum is exactly the bitwise OR
    fp = agg.select("doc_id", sum(
        (F.when(F.col(f"b{i}") * 2 > F.col("n_occ"),
                F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
         for i in range(bits)), start=F.lit(0).cast("long"))
        .alias("simhash"))
    return fp


def _simhash_chunk_plan(max_hamming: int, n_docs: int,
                        target_bucket: int) -> int:
    """Pick the chunk count C for Manku-style blocking.

    64 bits split into C chunks; any fingerprint pair with hamming ≤ k
    differs in ≤ k chunks, so it agrees on SOME (C-k)-chunk subset — we
    block on every subset (C choose k tables, 100% candidate recall). The
    block key carries ~64·(C-k)/C bits; pick the smallest C whose keyspace
    keeps the AVERAGE bucket under target_bucket with 4× headroom — this is
    what makes the scheme corpus-size-aware: a fixed 16-bit chunk key caps
    the keyspace at 65,536 buckets and silently drops everything at
    ≫10^8 docs (Manku, Jain & Das Sarma, WWW'07 §3)."""
    from math import comb

    k = max_hamming
    c = k + 1  # one-chunk key: the minimum legal split
    while True:
        key_bits = sum((64 // c + (1 if i < 64 % c else 0))
                       for i in range(c - k))
        enough = ((1 << min(key_bits, 62))
                  >= 4 * max(n_docs, 1) // max(target_bucket, 1))
        # growing C costs comb(C, k) tables (each an exploded copy of the
        # fingerprints) — stop at 64 tables / 16 chunks even if the
        # keyspace heuristic still wants more
        if enough or comb(c + 1, k) > 64 or c >= 16:
            return c
        c += 1


def simhash_near_pairs(docs: DataFrame, *, content_col: str = "content",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       chunks: int | None = None, n_docs: int | None = None,
                       target_bucket: int = 512,
                       max_bucket: int = 4096,
                       with_metrics: bool = False,
                       hash_expr=F.xxhash64):
    """Near-dup pairs by SimHash, Manku-style multi-table blocking.

    64 fingerprint bits split into C chunks; one blocking table per
    (C-k)-chunk subset, keyed on those chunks' concatenated bits. Pigeonhole
    is exact: hamming ≤ k ⇒ the ≤k differing bits occupy ≤k chunks ⇒ some
    table's key chunks are all equal ⇒ the pair shares a bucket. Candidates
    are verified with exact popcount, so recall is 100% up to the
    ``max_bucket`` guard — whose drops are REPORTED via ``with_metrics``,
    never silent. C auto-scales with corpus size (``n_docs``; counted if
    not given) so key keyspace ≫ n_docs/target_bucket — the fix for fixed
    16-bit chunks collapsing at ≫10^8 docs.

    Candidate-pair volume is bounded, not just bucket size: IDENTICAL
    fingerprints collapse to one representative (min doc_id) BEFORE
    blocking, emitting m-1 hamming-0 "star" pairs per m-doc cluster
    instead of m(m-1)/2 — exact boilerplate (the pathological key
    collision in practice) costs O(m), and the near-dup graph's
    CONNECTED COMPONENTS are unchanged: any cross-cluster edge exists for
    all members iff it exists for the representative. Blocking then runs
    over DISTINCT fingerprints only, so one bucket emits at most
    ``max_bucket``²/2 candidates (max_bucket=4096 → ≤8.4M rows before the
    exact-hamming filter). Consequence for callers: the pair list is
    component-complete, not edge-complete — member↔member edges of
    identical-fingerprint clusters are represented via their star.
    Returns (doc_a, doc_b, hamming) [, metrics: dropped_buckets,
    dropped_doc_entries, max_dropped_size, identical_fp_groups,
    identical_fp_extra_docs].
    """
    import itertools

    _check_max_bucket(max_bucket)
    k = max_hamming
    # small-corpus driver fast path (default engine only — the md5 oracle
    # form stays JVM so DuckDB parity is byte-for-byte the same exprs):
    # identical pairs/metrics from the same kernels with two tiny jobs
    if hash_expr is F.xxhash64:
        small = _collect_small_docs(docs, content_col, id_col)
        if small is not None:
            if n_docs is None:
                n_docs = small[2]
            c = (chunks if chunks is not None
                 else _simhash_chunk_plan(k, n_docs, target_bucket))
            if c <= k:
                raise ValueError(
                    f"chunks={c} must exceed max_hamming={k}")
            return _simhash_pairs_driver(
                docs.sparkSession, small, max_hamming=k, chunks=c,
                max_bucket=max_bucket, with_metrics=with_metrics)
    if chunks is None:
        if n_docs is None:
            n_docs = docs.count()
        chunks = _simhash_chunk_plan(k, n_docs, target_bucket)
    if chunks <= k:
        raise ValueError(f"chunks={chunks} must exceed max_hamming={k}")

    fp = simhash(docs, content_col=content_col, id_col=id_col,
                 hash_expr=hash_expr)
    # rep-collapse in ONE shuffle: window-min over the fingerprint key
    # annotates every row with its representative — no groupBy + join
    # round-trip. The annotated table feeds the star pairs, the blocking
    # tables, and the metrics; MEMORY_ONLY persist (16 B/doc) — per-call
    # cache entries have no unpersist hook, so they must stay EVICTABLE
    # (worst case: recompute tokenize+agg) instead of pinning disk.
    from pyspark import StorageLevel
    from pyspark.sql import Window
    w = Window.partitionBy("simhash")
    fp2 = (fp.withColumn("rep", F.min("doc_id").over(w))
           .persist(StorageLevel.MEMORY_ONLY))
    zero_pairs = (fp2.filter(F.col("doc_id") != F.col("rep"))
                  .select(F.col("rep").alias("doc_a"),
                          F.col("doc_id").alias("doc_b"),
                          F.lit(0).cast("int").alias("hamming")))

    sizes = [64 // chunks + (1 if i < 64 % chunks else 0)
             for i in range(chunks)]
    offs = [sum(sizes[:i]) for i in range(chunks)]

    def chunk_val(i):
        return (F.shiftrightunsigned(F.col("simhash"), offs[i])
                .bitwiseAND(F.lit((1 << sizes[i]) - 1)))

    key_structs = []
    for ci, combo in enumerate(itertools.combinations(range(chunks),
                                                      chunks - k)):
        acc = F.lit(0).cast("long")
        shift = 0
        for c in combo:
            acc = acc + F.shiftleft(chunk_val(c), shift)
            shift += sizes[c]  # ≤ 64 - k·(64//C) ≤ 56 bits total: no overflow
        key_structs.append(F.struct(F.lit(ci).alias("ci"), acc.alias("cv")))

    reps_fp = (fp2.filter(F.col("doc_id") == F.col("rep"))
               .select("doc_id", "simhash"))
    keyed = (reps_fp.select("doc_id", "simhash",
                            F.explode(F.array(*key_structs)).alias("kc"))
             .select("doc_id", "simhash", F.col("kc.ci").alias("ci"),
                     F.col("kc.cv").alias("cv")))
    sized = _capped_bucket_agg(keyed, ["ci", "cv"], "doc_id",
                               F.struct("doc_id", "simhash"), "xs",
                               max_bucket)
    # metrics/watcher + cand both read the bucket table — cache it so the
    # blocking aggregation runs once for both consumers
    sized = sized.persist(StorageLevel.MEMORY_ONLY)
    if not with_metrics:
        # no metrics requested: still never drop silently — observe counter
        # + warning if the guard fires (the default tightened from 100_000
        # to 4096 in round 3; callers relying on the old recall must raise
        # max_bucket)
        sized = _watch_bucket_drops(sized, max_bucket, "simhash_near_pairs")
    metrics = _bucket_drop_metrics(sized, max_bucket, ["ci", "cv"])
    if with_metrics:
        dup_rows = fp2.filter(F.col("doc_id") != F.col("rep"))
        ident = dup_rows.agg(
            F.count_distinct("simhash").cast("long")
            .alias("identical_fp_groups"),
            F.count("*").cast("long").alias("identical_fp_extra_docs"))
        metrics = metrics.crossJoin(ident)
    cand = (sized
            .filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
            .select(F.explode("xs").alias("a"), F.col("xs"))
            .select("a", F.explode("xs").alias("b"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col("a.simhash").bitwiseXOR(
                        F.col("b.simhash"))).alias("hamming"))
            # hamming BEFORE distinct: the filter is a function of the row,
            # so filter∘distinct ≡ distinct∘filter — but filtering first
            # shrinks the dedup exchange to the surviving pairs only
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
            .unionByName(zero_pairs))
    if with_metrics:
        return cand, metrics
    return cand


def connected_components(pairs: DataFrame, *, max_iter: int = 25,
                         a_col: str = "doc_a", b_col: str = "doc_b"
                         ) -> DataFrame:
    """(doc_id, component) for every doc appearing in ``pairs``;
    component = MIN doc_id reachable through the pair graph — the
    transitive closure that turns near-dup PAIRS into dedup DECISIONS
    (the reason simhash_near_pairs may emit star edges: components are
    what callers actually consume).

    Min-label propagation: each round, every node adopts the smallest
    component id among itself and its neighbours — one join + one
    aggregation per round, converging in O(graph diameter) rounds.
    After LSH/SimHash blocking, components are star-/cluster-shaped
    (diameter ≤ ~4), so this is 3-5 rounds at any corpus size; the loop
    stops as soon as a round changes nothing. Lineage is cut per round
    (localCheckpoint) so the plan doesn't grow with iterations."""
    edges = pairs.select(F.col(a_col).cast("long").alias("a"),
                         F.col(b_col).cast("long").alias("b"))
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("comp", F.col("node"))
              .localCheckpoint(eager=True))
    changed = -1
    for _ in range(max_iter):
        nbr = (sym.join(labels.select(F.col("node").alias("b"),
                                      F.col("comp").alias("nbr_comp")), "b")
               .select(F.col("a").alias("node"), F.col("nbr_comp")
                       .alias("comp")))
        new_labels = (labels.unionByName(nbr)
                      .groupBy("node").agg(F.min("comp").alias("comp"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.join(labels.withColumnRenamed("comp", "old"),
                                   "node")
                   .filter(F.col("comp") != F.col("old")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # silently-wrong labels are worse than failing: a component split
        # across the unfinished frontier would mark several docs keep=True
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — the pair graph's "
            "diameter exceeds max_iter; raise max_iter")
    return labels.select(F.col("node").alias("doc_id"), "comp"
                         ).withColumnRenamed("comp", "component")


def dedup_keep_decisions(docs: DataFrame, pairs: DataFrame, *,
                         id_col: str = "doc_id",
                         max_iter: int = 25) -> DataFrame:
    """Per-doc dedup verdicts from a near-dup pair list: (doc_id,
    component, keep). keep = the doc is its component's canonical
    representative (min id — the reference's first-wins rule,
    dedupe_sourceresource.py:10-16) or it appears in no pair at all."""
    comp = connected_components(pairs, max_iter=max_iter)
    return (docs.select(F.col(id_col).cast("long").alias("doc_id"))
            .join(comp, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("component"), F.col("doc_id"))
                    .alias("component"))
            .withColumn("keep", F.col("component") == F.col("doc_id")))


def ngram_jaccard(docs_a: DataFrame, docs_b: DataFrame, *,
                  content_col: str = "content", id_col: str = "doc_id",
                  shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for every (a, b) pair — the verification oracle
    for the LSH paths and a probe-set dedup in its own right. docs_b is
    expected small (broadcast)."""
    a = docs_a.select(F.col(id_col).alias("doc_a"),
                      shingles_expr(content_col, shingle_n).alias("shs_a"))
    b = docs_b.select(F.col(id_col).alias("doc_b"),
                      shingles_expr(content_col, shingle_n).alias("shs_b"))
    return (a.crossJoin(F.broadcast(b))
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b",
                    (F.size(F.array_intersect("shs_a", "shs_b"))
                     / F.size(F.array_union("shs_a", "shs_b"))).alias("jaccard")))
