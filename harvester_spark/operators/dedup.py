"""Deduplication operators for large-scale corpus curation.

The reference dedups at two levels: exact value dedup inside records
(harvester/post_processing/dedupe_sourceresource.py:4-17) and md5-based
image dedup against a cache (harvester/image_harvest.py:201-257). These
generalize here to corpus-scale document dedup, all DataFrame-first:

- exact:         sha256 group-by (one shuffle, partial-agg friendly)
- MinHash + LSH: shingle → 64 permuted min-hashes → 16 band keys →
  buckets → candidate pairs.
- SimHash:       64-bit sign-sum fingerprint over xxhash64 (or md5, for
  DuckDB-replicable fingerprints) token hashes → Manku block keys →
  buckets → hamming-filtered pairs.
- n-gram Jaccard: exact shingle-set overlap. MinHash candidates are
  verified by the ``jaccard_batches`` kernel; :func:`ngram_jaccard` is
  the Spark SQL form (array_intersect / array_union) for probe sets and
  the kernel's test reference.

Both LSH pair ops run the kernels of dedup_kernels.py in one of two
placements, picked by corpus size against the driver budget the index
build shares (``tables.collect_small``): on the driver over the collected
corpus (two small jobs), or distributed, where the keyed rows are
repartitioned and sorted on the bucket key and the same ``bucket_pairs``
kernel streams each partition, and the candidate pairs joined with their
content stream through the same ``jaccard_batches`` verifier. Either way
the drop metrics exist before the call returns: buckets over
``max_bucket`` are dropped, never silently.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvester_spark import tables
from harvester_spark.functions.tokenize import tokens_expr
from harvester_spark.operators.dedup_kernels import MERSENNE_P


def _collect_small_docs(docs: DataFrame, content_col: str, id_col: str):
    """(ids int64 ndarray, texts chunked pa array, n_docs) when the corpus
    fits the shared driver budget (``tables.collect_small``), else None."""
    tbl = tables.collect_small(docs, id_col, content_col)
    if tbl is None:
        return None
    ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    return ids, tbl.column("content"), int(ids.size)


def _pairs_drop_warning(metrics: dict, max_bucket: int, what: str) -> None:
    import warnings

    if metrics["dropped_buckets"]:
        warnings.warn(
            f"{what}: max_bucket={max_bucket} dropped "
            f"{metrics['dropped_buckets']} bucket(s) covering "
            f"{metrics['dropped_doc_entries']} doc entries — recall is "
            f"reduced; pass with_metrics=True for full accounting or "
            f"raise max_bucket", RuntimeWarning)

def _perm_params(num_hashes: int, seed: int = 42) -> tuple:
    """(a, b) int64 arrays of the ``num_hashes`` permutations: seeded
    Carter-Wegman h_i(x) = (a_i * x + b_i) mod p over the xxhash64
    shingle hash. p = ``MERSENNE_P`` = 2^31 - 1 keeps every product under
    2^62 — ANSI-mode (Spark 4 default) overflow-safe without
    try_multiply."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=num_hashes, dtype=np.int64)
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


def _map_kernel(df: DataFrame, kernel, schema: str, **kw) -> DataFrame:
    """``df.mapInArrow`` over a dedup_kernels batch kernel, with pyarrow
    single-threaded in the task (sibling tasks own the other cores)."""
    def run(batches):
        import pyarrow as pa
        pa.set_cpu_count(1)
        yield from kernel(batches, **kw)

    return df.mapInArrow(run, schema)


def _minhash_signatures_kernel(docs: DataFrame, *, content_col: str,
                               id_col: str, num_hashes: int,
                               shingle_n: int, seed: int,
                               bands: int | None = None) -> DataFrame:
    """Map-only signature table via the vectorized kernel
    (operators/dedup_kernels.py): per-doc signatures are computed inside
    each partition (pyarrow tokenize + bit-exact numpy xxhash64 + numpy
    min-reduction) — one row per doc straight off the scan, no explode
    and no exchange. With ``bands`` the rows are (doc_id, csha, keys): the
    content sha256 and the LSH band keys instead of the signature."""
    from harvester_spark.operators.dedup_kernels import minhash_sig_batches

    a, b = _perm_params(num_hashes, seed)
    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    schema = ("doc_id long, sig array<long>" if bands is None
              else "doc_id long, csha string, keys array<long>")
    return _map_kernel(src, minhash_sig_batches, schema, a=a, b=b,
                       shingle_n=shingle_n, bands=bands)


def minhash_signatures(docs: DataFrame, *, content_col: str = "content",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """(doc_id, sig array<long>) — 64 permuted min-hashes per doc with ≥1
    token: min over the doc's shingles of (a_i·h + b_i) mod (2^31 - 1),
    h = xxhash64(shingle) mod (2^31 - 1). Computed by a map-only numpy
    kernel; tests/test_dedup.py checks it against the Spark SQL
    explode + 64-aggregate form."""
    return _minhash_signatures_kernel(
        docs, content_col=content_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed)


def _check_max_bucket(max_bucket: int) -> None:
    """A bucket cap below 1 would drop every bucket, singletons included,
    so no pair could ever be found."""
    if max_bucket < 1:
        raise ValueError(f"max_bucket={max_bucket} must be >= 1")


_PAIR_METRIC_COLS = ("dropped_buckets", "dropped_doc_entries",
                     "max_dropped_size")


def _pairs_result(pairs: DataFrame, metrics: dict, *, ident_cols: tuple,
                  with_metrics: bool, max_bucket: int, what: str):
    """The pair ops' return value, the same for both placements: (pairs,
    one-row metrics DataFrame) with ``with_metrics``, else pairs after a
    RuntimeWarning if buckets were dropped."""
    if not with_metrics:
        _pairs_drop_warning(metrics, max_bucket, what)
        return pairs
    cols = _PAIR_METRIC_COLS + ident_cols
    return pairs, pairs.sparkSession.createDataFrame(
        [tuple(int(metrics[c]) for c in cols)],
        ", ".join(f"{c} long" for c in cols))


def _collapse_identical(rows: DataFrame, key_col: str, ident_cols: tuple,
                        with_metrics: bool):
    """Distributed rep-collapse: a window-min over ``key_col`` gives every
    row its representative (min doc_id) in one shuffle, with no groupBy +
    join round-trip. Returns (representative rows, star pairs
    (doc_a=rep, doc_b=member), identical-group metrics — empty unless
    ``with_metrics``)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    # MEMORY_ONLY: a per-call cache entry has no unpersist hook, so it
    # must be evictable under LRU pressure rather than accumulating on
    # disk across calls
    ann = (rows.withColumn("rep", F.min("doc_id").over(
        Window.partitionBy(key_col))).persist(StorageLevel.MEMORY_ONLY))
    members = ann.filter(F.col("doc_id") != F.col("rep"))
    ident = {}
    if with_metrics:
        ident = (members.agg(F.count_distinct(key_col).alias(ident_cols[0]),
                             F.count("*").alias(ident_cols[1]))
                 .collect()[0].asDict())
    return (ann.filter(F.col("doc_id") == F.col("rep")),
            members.select(F.col("rep").alias("doc_a"),
                           F.col("doc_id").alias("doc_b")),
            ident)


def _bucket_pairs_distributed(keyed: DataFrame, *, max_bucket: int,
                              max_hamming: int | None = None):
    """Distributed placement of ``dedup_kernels.bucket_pairs``: keyed rows
    (tbl, key, doc_id[, fp]) are hash-partitioned and sorted on the
    bucket key, and the kernel streams each partition. Its output is
    checkpointed eagerly, so the drop metrics are read here and the pairs
    never re-run the kernel. Returns (distinct pairs DataFrame
    (doc_a, doc_b[, hamming]), drop metrics dict)."""
    from harvester_spark.operators.dedup_kernels import (bucket_pair_batches,
                                                          drop_metrics)

    schema = ("doc_a long, doc_b long"
              + (", hamming int" if max_hamming is not None else "")
              + ", dropped long")
    out = _map_kernel(keyed.repartition("tbl", "key")
                      .sortWithinPartitions("tbl", "key", "doc_id"),
                      bucket_pair_batches, schema, max_bucket=max_bucket,
                      max_hamming=max_hamming).localCheckpoint(eager=True)
    # one row per dropped bucket: at most rows / (max_bucket + 1) of them
    dropped = F.col("dropped")
    drops = out.filter(dropped.isNotNull()).select(dropped).toArrow()
    pairs = out.filter(dropped.isNull()).drop("dropped").distinct()
    return pairs, drop_metrics(drops.column(0).to_numpy())


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
    dropped buckets/doc-entries, otherwise a RuntimeWarning is raised
    before the call returns. If ``jaccard_threshold`` is set the
    candidates are exactly verified with true shingle-set Jaccard by the
    ``dedup_kernels.jaccard_batches`` kernel, in both placements: on the
    driver over the candidates' texts, or distributed over the candidate
    pairs joined with both docs' content (``mapInArrow``, no cache), and
    only pairs with jaccard ≥ ``jaccard_threshold`` are kept.

    BYTE-IDENTICAL documents collapse to one representative (min doc_id)
    BEFORE banding: identical content ⇒ identical signature ⇒ the whole
    group lands in all ``bands`` buckets, so a boilerplate file duplicated
    10^7× would otherwise put sixteen 10^7-member groups on one reducer
    AND emit O(m²) pairs. Members emit (rep, member) "star" pairs with
    jaccard EXACTLY 1.0 (byte identity), banding runs over representatives
    only, so pathological groups cost O(m) and cross-group edges attach to
    the representative. Consequence for callers: the pair list is
    COMPONENT-complete, not edge-complete — feed it
    :func:`connected_components` / :func:`dedup_keep_decisions`, whose
    output is unchanged by the collapse (any cross-cluster edge exists for
    all members iff it exists for the representative, since members are
    byte-identical).
    Returns (doc_a, doc_b [, jaccard]) with doc_a < doc_b
    [, metrics DataFrame with dropped_buckets, dropped_doc_entries,
    max_dropped_size, identical_content_groups,
    identical_content_extra_docs].
    """
    from functools import partial

    from harvester_spark.operators.dedup_kernels import (_driver_pa_pool,
                                                          jaccard_batches,
                                                          minhash_pairs_local)

    _check_max_bucket(max_bucket)
    ident_cols = ("identical_content_groups", "identical_content_extra_docs")
    finish = partial(_pairs_result, ident_cols=ident_cols,
                     with_metrics=with_metrics, max_bucket=max_bucket,
                     what="minhash_lsh_pairs")
    schema = ("doc_a long, doc_b long"
              + (", jaccard double" if jaccard_threshold is not None
                 else ""))
    small = _collect_small_docs(docs, content_col, id_col)
    if small is not None:
        a, b = _perm_params(num_hashes, seed)
        with _driver_pa_pool():
            pairs, metrics = minhash_pairs_local(
                small[0], small[1], a=a, b=b, bands=bands,
                shingle_n=shingle_n, max_bucket=max_bucket,
                jaccard_threshold=jaccard_threshold)
        return finish(docs.sparkSession.createDataFrame(pairs, schema),
                      metrics)
    # rep-collapse on byte identity: the content sha and the band keys
    # ride the signature kernel (hashlib sha256 hex == Spark sha2 hex over
    # the same UTF-8 bytes). Zero-token docs have no row, so they drop out
    # of stars AND banding (empty shingle set).
    reps, star_pairs, ident = _collapse_identical(
        _minhash_signatures_kernel(
            docs, content_col=content_col, id_col=id_col,
            num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
            bands=bands),
        "csha", ident_cols, with_metrics)
    pairs, metrics = _bucket_pairs_distributed(
        reps.select(F.posexplode("keys").alias("tbl", "key"), "doc_id"),
        max_bucket=max_bucket)
    metrics.update(ident)
    if jaccard_threshold is None:
        return finish(pairs.unionByName(star_pairs), metrics)
    # the candidates are a small broadcast next to the corpus: each join
    # streams one corpus scan, and the kernel checks every pair row
    def side(s):
        return docs.select(F.col(id_col).cast("long").alias(f"doc_{s}"),
                           F.col(content_col).alias(f"content_{s}"))

    cand = side("b").join(
        F.broadcast(side("a").join(F.broadcast(pairs), "doc_a")), "doc_b")
    pairs = _map_kernel(
        cand.select("doc_a", "doc_b", "content_a", "content_b"),
        jaccard_batches, schema, shingle_n=shingle_n)
    # star members are byte-identical to their rep: jaccard is exactly
    # 1.0 by definition — no verification pass needed
    pairs = pairs.filter(F.col("jaccard") >= jaccard_threshold).unionByName(
        star_pairs.withColumn("jaccard", F.lit(1.0)))
    return finish(pairs, metrics)


def simhash(docs: DataFrame, *, content_col: str = "content",
            id_col: str = "doc_id", bits: int = 64,
            token_hash: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash long) — sign-sum fingerprint per doc with ≥1
    token: each token OCCURRENCE votes +1 on the bits set in its hash and
    -1 on the others, and a fingerprint bit is set iff its vote sum is
    positive (identical to the textbook ±tf per distinct term).

    ``token_hash``: ``"xxhash64"`` (Spark's ``xxhash64``, the default) or
    ``"md5"`` (the first 8 md5 bytes, big-endian — bit-identical to
    DuckDB's ``('0x' || substr(md5(t), 1|9, 8))::BIGINT`` pair, so the
    fingerprints are oracle-checkable).

    Computed by a map-only numpy kernel (tokenize, hash, per-doc bit votes
    in numpy): one output row per doc straight off the scan, no explode
    and no exchange. tests/test_dedup.py checks it against the Spark SQL
    explode + bit-sum aggregation for both token hashes."""
    from harvester_spark.operators.dedup_kernels import (TOKEN_HASHES,
                                                          simhash_batches)

    if token_hash not in TOKEN_HASHES:
        raise ValueError(f"token_hash={token_hash!r}: expected one of "
                         f"{TOKEN_HASHES}")
    src = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(content_col).alias("content"))
    return _map_kernel(src, simhash_batches, "doc_id long, simhash long",
                       bits=bits, token_hash=token_hash)


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
                       token_hash: str = "xxhash64"):
    """Near-dup pairs by SimHash, Manku-style multi-table blocking.

    64 fingerprint bits split into C chunks; one blocking table per
    (C-k)-chunk subset, keyed on those chunks' concatenated bits. Pigeonhole
    is exact: hamming ≤ k ⇒ the ≤k differing bits occupy ≤k chunks ⇒ some
    table's key chunks are all equal ⇒ the pair shares a bucket. Candidates
    are verified with exact popcount, so recall is 100% up to the
    ``max_bucket`` guard — whose drops are REPORTED via ``with_metrics``
    or a RuntimeWarning, never silent. C auto-scales with corpus size
    (``n_docs``; counted if not given) so key keyspace ≫
    n_docs/target_bucket — the fix for fixed 16-bit chunks collapsing at
    ≫10^8 docs. ``token_hash`` is passed to :func:`simhash`.

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
    from functools import partial

    from harvester_spark.operators.dedup_kernels import (_driver_pa_pool,
                                                          simhash_key_batches,
                                                          simhash_pairs_local)

    _check_max_bucket(max_bucket)
    # lazy (no job) and validates token_hash; executed only if distributed
    fp = simhash(docs, content_col=content_col, id_col=id_col,
                 token_hash=token_hash)
    k = max_hamming
    ident_cols = ("identical_fp_groups", "identical_fp_extra_docs")
    finish = partial(_pairs_result, ident_cols=ident_cols,
                     with_metrics=with_metrics, max_bucket=max_bucket,
                     what="simhash_near_pairs")
    small = _collect_small_docs(docs, content_col, id_col)
    if chunks is None:
        if n_docs is None:
            n_docs = small[2] if small is not None else docs.count()
        chunks = _simhash_chunk_plan(k, n_docs, target_bucket)
    if chunks <= k:
        raise ValueError(f"chunks={chunks} must exceed max_hamming={k}")
    if small is not None:
        with _driver_pa_pool():
            pairs, metrics = simhash_pairs_local(
                small[0], small[1], max_hamming=k, chunks=chunks,
                max_bucket=max_bucket, token_hash=token_hash)
        return finish(docs.sparkSession.createDataFrame(
            pairs, "doc_a long, doc_b long, hamming int"), metrics)
    reps, star_pairs, ident = _collapse_identical(fp, "simhash", ident_cols,
                                                  with_metrics)
    keyed = _map_kernel(reps.select("doc_id", "simhash"),
                        simhash_key_batches,
                        "tbl int, key long, doc_id long, fp long",
                        chunks=chunks, max_hamming=k)
    pairs, metrics = _bucket_pairs_distributed(keyed, max_bucket=max_bucket,
                                               max_hamming=k)
    metrics.update(ident)
    return finish(pairs.unionByName(
        star_pairs.withColumn("hamming", F.lit(0).cast("int"))), metrics)


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
