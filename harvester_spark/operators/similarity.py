"""Similarity search over embedding columns (array<float>).

Two paths, mirroring the index engine's design split:

- :func:`cosine_topk` — brute-force exact top-k, pure built-ins
  (``F.zip_with`` dot product + TakeOrderedAndProject). The correctness
  baseline; also the right plan when the query set is small.
- :func:`lsh_cosine_topk` — the scale path: random-hyperplane LSH
  bucketing (sign bits via a vectorized pandas UDF matmul), candidate
  union over multi-probe buckets, exact re-score of candidates only.
  Recall<1.0 by construction; the test suite measures it against brute.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StructField,
                               StructType)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int, *,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k against one query vector. Plans as a narrow scan
    + TakeOrderedAndProject — no shuffle beyond the final k-merge."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = float(np.linalg.norm(query_vec))
    v = F.col(vec_col)
    cos = _dot(v, q) / (_norm(v) * F.lit(qn))
    return (emb.select(F.col(id_col).alias("vec_id"), cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def bucket_ids(emb: DataFrame, planes: np.ndarray, *,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket) — sign-bit bucket under random hyperplanes.
    Vectorized: one matmul per Arrow batch."""
    planes_b = planes  # captured by closure; small (n_planes × dim)
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("bucket", LongType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].to_numpy())
            bits = (M @ planes_b.T) > 0
            buck = np.zeros(len(pdf), dtype=np.int64)
            for i in range(planes_b.shape[0]):
                buck |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"),
                                "bucket": buck})

    return emb.select(id_col, vec_col).mapInPandas(assign, schema)


def _probe_buckets(planes: np.ndarray, query_vec: list[float],
                   n_probe_bits: int) -> list[int]:
    """Query bucket + all buckets within ``n_probe_bits`` bit flips."""
    from itertools import combinations
    from math import comb

    q = np.asarray(query_vec, dtype=np.float64)
    n_planes = planes.shape[0]
    qbits = ((planes @ q) > 0).astype(np.int64)
    qbucket = int((qbits << np.arange(n_planes)).sum())
    # any radius up to n_planes (radius == n_planes probes every bucket —
    # the exact-anchor degenerate case); the old hand-rolled form silently
    # capped at radius 2, which was a recall bug, but unbounded
    # enumeration is a latency cliff instead (n_planes=24, radius 12 →
    # ~2.7M combinations in a Python loop + a multi-MB isin list), so the
    # probe count is bounded EXPLICITLY — loud beats silent either way
    max_probes = 65_536
    radius = min(n_probe_bits, n_planes)
    total = sum(comb(n_planes, r) for r in range(radius + 1))
    if total > max_probes and (1 << n_planes) > max_probes:
        raise ValueError(
            f"probe radius {radius} over {n_planes} planes enumerates "
            f"{total:,} buckets (> {max_probes:,}); lower n_probe_bits or "
            f"n_planes, or use the partition-pruned index path")
    if total >= (1 << n_planes):
        return list(range(1 << n_planes))  # full probe: every bucket
    probes = {qbucket}
    for r in range(1, radius + 1):
        for combo in combinations(range(n_planes), r):
            b = qbucket
            for i in combo:
                b ^= 1 << i
            probes.add(b)
    return sorted(probes)


def lsh_cosine_topk(emb: DataFrame, query_vec: list[float], k: int, *,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_planes: int = 12, n_probe_bits: int = 2,
                    seed: int = 42) -> DataFrame:
    """ANN top-k over a raw embeddings DataFrame (one-shot: recomputes
    bucket ids — fine for a single ad-hoc query). For repeated queries use
    :func:`build_ann_index` once + :func:`query_ann_index`, which scans
    only the probed bucket partitions instead of the full table."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    probes = _probe_buckets(planes, query_vec, n_probe_bits)

    buckets = bucket_ids(emb, planes, id_col=id_col, vec_col=vec_col)
    cand_ids = (buckets.filter(F.col("bucket").isin(probes))
                .select(F.col("vec_id").alias("__cand_id")))
    cand = emb.join(cand_ids.hint("broadcast"),
                    emb[id_col] == cand_ids["__cand_id"], "left_semi")
    return cosine_topk(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# Persisted ANN index: bucket as a physical partition key
# ---------------------------------------------------------------------------

# Resolved-relation cache for the partitioned index layouts. Reading a
# partitioned parquet dir re-runs PARTITION DISCOVERY on every
# spark.read.parquet call — above ~32 directories Spark launches a
# distributed listing job (one task per dir), and a 1024-bucket ANN index
# was measured paying an 805-task listing job PER QUERY (~1.5 s of the
# 1.7 s ann_index_topk time at sf0.1; at 10^5 lists on a real cluster it
# is strictly worse). The file index is immutable between builds, so the
# resolved DataFrame is cached per (session, path); partition-pruning
# filters still apply per query against the cached listing. Builds
# invalidate their path via _invalidate_relation.
#
# Lifetime: each session's cache dict hangs OFF the session object itself
# (a private attribute), so a churned session is collectable as one
# internal cycle (session → dict → DataFrame → session) with no global
# root pinning it — the r5 WeakKeyDictionary kept dead sessions alive
# because its VALUES strongly referenced their weak KEY. The module keeps
# only a WeakSet of sessions so builds can invalidate a path across every
# LIVE session without retaining any.
#
# Invalidation is IN-PROCESS only: an index rebuilt by a different
# process serves this process's cached listing until it reopens — the
# single-writer-in-process assumption is documented on the query_* APIs.
from weakref import WeakSet

_CACHING_SESSIONS: "WeakSet" = WeakSet()
_CACHE_ATTR = "_harvester_relation_cache"


def _relation_key(path) -> str:
    """Canonical cache key: resolve symlinks/relative forms so a build at
    '/abs/idx' invalidates a query that opened 'idx' (and vice versa) —
    un-normalized strings would serve a stale file listing after
    rebuild."""
    from pathlib import Path

    return str(Path(path).resolve())


def _read_vectors(spark, path) -> DataFrame:
    per = getattr(spark, _CACHE_ATTR, None)
    if per is None:
        per = {}
        setattr(spark, _CACHE_ATTR, per)
        _CACHING_SESSIONS.add(spark)
    key = _relation_key(path)
    if key not in per:
        per[key] = spark.read.parquet(str(path))
    return per[key]


def _invalidate_relation(path) -> None:
    key = _relation_key(path)
    for session in list(_CACHING_SESSIONS):
        per = getattr(session, _CACHE_ATTR, None)
        if per is not None:
            per.pop(key, None)


def _ann_build_frame(emb: DataFrame, planes: np.ndarray, id_col: str,
                     vec_col: str) -> DataFrame:
    """Pre-write frame for :func:`build_ann_index` — exposed so tests can
    assert the build DAG contains no shuffle join of the embedding table.
    Assignment carries the vector payload through the UDF: emitting only
    (vec_id, bucket) and joining back would shuffle the full embedding
    table a second time (r3 verdict finding)."""
    vec_type = emb.schema[vec_col].dataType
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", vec_type),
                         StructField("bucket", LongType())])
    planes_b = planes

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].to_numpy())
            bits = (M @ planes_b.T) > 0
            buck = np.zeros(len(pdf), dtype=np.int64)
            for i in range(planes_b.shape[0]):
                buck |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"),
                                "embedding": pdf[vec_col],
                                "bucket": buck})

    # norm as a projection over the UDF output (not numpy) so the stored
    # value is bit-identical to the query-time _norm expression
    return (emb.select(id_col, vec_col).mapInPandas(assign, schema)
            .withColumn("norm", _norm(F.col("embedding"))))


def build_ann_index(emb: DataFrame, out_dir, *, id_col: str = "vec_id",
                    vec_col: str = "embedding", n_planes: int = 12,
                    seed: int = 42) -> None:
    """Materialize (vec_id, embedding, norm) PARTITIONED BY bucket.

    The scale path for repeated ANN queries: bucketing is computed once at
    build time; each query then reads only its probed bucket partitions
    (Hive-style partition pruning on the ``bucket=N`` directories), so
    per-query cost is O(candidates), independent of corpus size. Norms are
    precomputed so query scoring is a dot product + one multiply."""
    import json
    from pathlib import Path

    sample = emb.select(vec_col).first()
    dim = len(sample[0])
    planes = hyperplanes(dim, n_planes, seed)
    withb = _ann_build_frame(emb, planes, id_col, vec_col)
    out = Path(out_dir)
    (withb.write.mode("overwrite").partitionBy("bucket")
     .parquet(str(out / "vectors")))
    _invalidate_relation(out / "vectors")
    (out / "ann_meta.json").write_text(json.dumps(
        {"n_planes": n_planes, "seed": seed, "dim": dim,
         "planes": planes.tolist()}))


def query_ann_index(spark, index_dir, query_vec: list[float], k: int, *,
                    n_probe_bits: int = 2) -> DataFrame:
    """ANN top-k against a :func:`build_ann_index` layout.

    The ``bucket`` filter prunes to the probed partitions at planning time
    — verified in tests via PartitionFilters in the explain output.

    The resolved file listing is cached per (session, path) and
    invalidated by in-process ``build_*`` calls only: an index rebuilt by
    a DIFFERENT process is picked up after this process reopens (new
    session, or a fresh in-process build over the same path)."""
    import json
    from pathlib import Path

    meta = json.loads((Path(index_dir) / "ann_meta.json").read_text())
    planes = np.asarray(meta["planes"], dtype=np.float64)
    probes = _probe_buckets(planes, query_vec, n_probe_bits)
    vecs = (_read_vectors(spark, Path(index_dir) / "vectors")
            .filter(F.col("bucket").isin(probes)))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = float(np.linalg.norm(query_vec))
    cos = _dot(F.col("embedding"), q) / (F.col("norm") * F.lit(qn))
    return (vecs.select("vec_id", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + partitioned lists
# ---------------------------------------------------------------------------

def _kmeans(sample: np.ndarray, k: int, iters: int = 12,
            seed: int = 42) -> np.ndarray:
    """Driver-side Lloyd iterations on a sample — the coarse quantizer is
    tiny (k × dim floats) next to the corpus; training it distributed
    would be all overhead. Empty clusters re-seed from the farthest
    points. L2-normalized input → cosine assignment = argmax dot."""
    rng = np.random.default_rng(seed)
    X = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                            1e-12)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        newC = np.zeros_like(C)
        for c in range(C.shape[0]):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                newC[c] = v / max(np.linalg.norm(v), 1e-12)
            else:
                newC[c] = X[int(sims.max(axis=1).argmin())]
        C = newC
    return C


def _train_sample(emb: DataFrame, vec_col: str, train_sample: int,
                  seed: int) -> np.ndarray:
    """Seeded, partition-representative quantizer training sample.

    Collects the whole sampled FRACTION — deliberately no ``limit()``:
    Spark executes a collect-limit by scanning partitions incrementally
    from the front, so ``sample().limit(n)`` still fills from a partition
    PREFIX and re-introduces exactly the per-source skew ``sample()``
    exists to avoid. The fraction targets ~2× the requested size
    (bounded); the final cut to ``train_sample`` is a seeded driver-side
    choice over the representative pool."""
    n_total = emb.count()
    frac = min(1.0, (2.0 * train_sample) / max(n_total, 1))
    rows = emb.select(vec_col).sample(fraction=frac, seed=seed).collect()
    if not rows:
        rows = emb.select(vec_col).limit(train_sample).collect()
    if not rows:
        raise ValueError("cannot train a quantizer on an empty table")
    X = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    if len(X) > train_sample:
        rng = np.random.default_rng(seed)
        X = X[rng.choice(len(X), size=train_sample, replace=False)]
    return X


def _ivf_build_frame(emb: DataFrame, C: np.ndarray, id_col: str,
                     vec_col: str) -> DataFrame:
    """Pre-write frame for :func:`build_ivf_index` (test-visible — see
    :func:`_ann_build_frame`). Assignment carries the vector payload
    through the UDF (no join-back shuffle of the full table); norm is a
    post-UDF projection so it stays bit-identical to query-time _norm."""
    vec_type = emb.schema[vec_col].dataType
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", vec_type),
                         StructField("list_id", LongType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True),
                               1e-12)
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"),
                                "embedding": pdf[vec_col],
                                "list_id": (M @ C.T).argmax(axis=1)
                                .astype("int64")})

    return (emb.select(id_col, vec_col).mapInPandas(assign, schema)
            .withColumn("norm", _norm(F.col("embedding"))))


def build_ivf_index(emb: DataFrame, out_dir, *, n_centroids: int = 64,
                    train_sample: int = 20_000, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """IVF layout: vectors PARTITIONED BY nearest-centroid id, with
    precomputed norms; centroids in the meta file. The classic
    inverted-file ANN shape: a query probes only its ``nprobe`` nearest
    lists — partition pruning keeps per-query scan cost O(corpus/k ×
    nprobe) regardless of total size. Assignment is one matmul per Arrow
    batch (no per-row Python)."""
    import json
    from pathlib import Path

    sample = _train_sample(emb, vec_col, train_sample, seed)
    C = _kmeans(sample, n_centroids, seed=seed)
    withl = _ivf_build_frame(emb, C, id_col, vec_col)
    out = Path(out_dir)
    (withl.write.mode("overwrite").partitionBy("list_id")
     .parquet(str(out / "vectors")))
    _invalidate_relation(out / "vectors")
    (out / "ivf_meta.json").write_text(json.dumps(
        {"n_centroids": int(C.shape[0]), "dim": int(C.shape[1]),
         "seed": seed, "centroids": C.tolist()}))


def query_ivf_index(spark, index_dir, query_vec: list[float], k: int, *,
                    nprobe: int = 4) -> DataFrame:
    """Top-k cosine over the ``nprobe`` nearest inverted lists (partition
    pruning on ``list_id``). ``nprobe = n_centroids`` degrades gracefully
    to the EXACT brute-force result — the correctness anchor the tests and
    the driver oracle use."""
    import json
    from pathlib import Path

    meta = json.loads((Path(index_dir) / "ivf_meta.json").read_text())
    C = np.asarray(meta["centroids"], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = np.argsort(-(C @ qn))[:nprobe].tolist()
    vecs = (_read_vectors(spark, Path(index_dir) / "vectors")
            .filter(F.col("list_id").isin([int(p) for p in probes])))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = _dot(F.col("embedding"), qcol) / (F.col("norm")
                                            * F.lit(float(np.linalg.norm(q))))
    return (vecs.select("vec_id", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def embedding_near_dup_pairs(emb: DataFrame, *, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_planes: int = 12, seed: int = 42,
                             max_bucket: int = 2000,
                             with_metrics: bool = False):
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane signs,
    exact cosine within buckets only (candidate recall measured in tests).

    Candidates come from the FUSED build frame (:func:`_ann_build_frame`):
    the assignment UDF carries the vector payload through, and the norm is
    the post-UDF ``_norm`` projection — so the embedding table is scanned
    ONCE with no join-back shuffle (r4 verdict #3, the same fix the three
    index builds got). Pairs come from a bucket-keyed SELF-JOIN over that
    frame (not collect_list of full vectors — a 2000 × dim × 8 B array per
    bucket row is a memory bomb at wide dims). Oversized buckets are
    excluded from the join and ACCOUNTED: ``with_metrics=True`` also
    returns the dropped-bucket counts.
    Returns (id_a, id_b, cosine ≥ threshold) [, metrics DataFrame]."""
    from pyspark import StorageLevel

    sample = emb.select(vec_col).first()
    dim = len(sample[0])
    planes = hyperplanes(dim, n_planes, seed)
    # MEMORY_ONLY: three consumers (sized + both self-join sides) of one
    # mapInPandas pass; evictable per-call cache, like the dedup module
    withb = (_ann_build_frame(emb, planes, id_col, vec_col)
             .persist(StorageLevel.MEMORY_ONLY))
    sized = withb.groupBy("bucket").agg(F.count("*").alias("sz"))
    # one-row accounting of the buckets the max_bucket guard dropped
    metrics = (sized.filter(F.col("sz") > max_bucket)
               .agg(F.count("*").alias("dropped_buckets"),
                    F.coalesce(F.sum("sz"), F.lit(0)).cast("long")
                    .alias("dropped_doc_entries"),
                    F.coalesce(F.max("sz"), F.lit(0)).cast("long")
                    .alias("max_dropped_size")))
    keep = (sized.filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
            .select("bucket"))
    joinable = withb.join(F.broadcast(keep), "bucket")
    a = joinable.select(F.col("bucket"), F.col("vec_id").alias("id_a"),
                        F.col("embedding").alias("va"),
                        F.col("norm").alias("na"))
    bb = joinable.select(F.col("bucket"), F.col("vec_id").alias("id_b"),
                         F.col("embedding").alias("vb"),
                         F.col("norm").alias("nb"))
    pairs = (a.join(bb, ["bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     (_dot(F.col("va"), F.col("vb"))
                      / (F.col("na") * F.col("nb"))).alias("cosine"))
             .filter(F.col("cosine") >= threshold)
             .distinct())
    if with_metrics:
        return pairs, metrics
    return pairs


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized inverted lists — the memory-scale ANN path
# ---------------------------------------------------------------------------

def _kmeans_l2(sample: np.ndarray, k: int, iters: int = 12,
               seed: int = 42) -> np.ndarray:
    """Plain (un-normalized) Lloyd k-means for PQ sub-codebooks —
    residual subvectors are Euclidean objects, unlike the coarse
    quantizer's cosine space. Empty clusters re-seed from the point
    farthest from its centroid."""
    rng = np.random.default_rng(seed)
    k = min(k, len(sample))
    C = sample[rng.choice(len(sample), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
            else:
                C[c] = sample[int(d2.min(axis=1).argmax())]
    return C


def _ivfpq_build_frame(emb: DataFrame, C: np.ndarray, books: np.ndarray,
                       m_subvectors: int, dsub: int, id_col: str,
                       vec_col: str) -> DataFrame:
    """Pre-write frame for :func:`build_ivfpq_index` (test-visible — see
    :func:`_ann_build_frame`): one encode pass emits list assignment, PQ
    codes AND the raw vector payload together. The stored ``norm`` is the
    post-UDF ``_norm`` SQL projection — NOT the numpy norm the encoder
    uses internally — so the rerank that divides by it stays bit-identical
    to a query-time ``_norm(embedding)`` recompute (same rule as the
    ann/ivf builds)."""
    vec_type = emb.schema[vec_col].dataType
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("list_id", LongType()),
                         StructField("codes", BinaryType()),
                         StructField("embedding", vec_type)])

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(M, axis=1)
            Mn = M / np.maximum(norms[:, None], 1e-12)
            lists = (Mn @ C.T).argmax(axis=1)
            R = Mn - C[lists]
            codes = np.empty((len(M), m_subvectors), dtype=np.uint8)
            for j in range(m_subvectors):
                sub = R[:, j * dsub:(j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(2)
                codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
            yield pd.DataFrame({
                "vec_id": pdf[id_col].astype("int64"),
                "list_id": lists.astype("int64"),
                "codes": [c.tobytes() for c in codes],
                "embedding": pdf[vec_col]})

    return (emb.select(id_col, vec_col).mapInPandas(encode, schema)
            .withColumn("norm", _norm(F.col("embedding"))))


def build_ivfpq_index(emb: DataFrame, out_dir, *, n_centroids: int = 64,
                      m_subvectors: int = 8, n_codes: int = 256,
                      train_sample: int = 20_000, seed: int = 42,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """IVF-PQ layout: coarse-quantizer lists (partition-pruned like
    :func:`build_ivf_index`) whose entries store an m-byte PRODUCT
    QUANTIZATION code of the residual instead of the raw vector — the
    classic memory-scale ANN shape (Jégou/Douze/Schmid PQ): at 10^12
    vectors × 768 floats the raw corpus is ~3 PB, the PQ codes ~8-64 TB.

    Artifacts under ``out_dir``: ``vectors/`` (vec_id, codes binary[m],
    norm, embedding; partitioned by list_id) and ``ivfpq_meta.json``
    (centroids + codebooks). Codes and raw vectors share ONE table: the
    ADC scan projects only (vec_id, list_id, codes) so parquet column
    pruning keeps its I/O at m bytes/row — the memory story is an I/O
    property of columnar projection, not of file separation — while the
    single fused write avoids both the old pq-table re-read join and a
    second encode pass. Encoding is one matmul-chain per Arrow batch; no
    per-row Python."""
    import json
    from pathlib import Path

    if n_codes > 256:
        raise ValueError(f"n_codes={n_codes} > 256: codes are stored as "
                         "uint8; argmin indices would wrap silently")
    sample = _train_sample(emb, vec_col, train_sample, seed)
    dim = sample.shape[1]
    if dim % m_subvectors:
        raise ValueError(f"dim={dim} not divisible by m={m_subvectors}")
    dsub = dim // m_subvectors
    C = _kmeans(sample, n_centroids, seed=seed)          # unit-norm rows

    # residuals of the (normalized) sample against their coarse centroid
    Xn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                             1e-12)
    assign = (Xn @ C.T).argmax(axis=1)
    resid = Xn - C[assign]
    books = np.stack([
        _kmeans_l2(resid[:, j * dsub:(j + 1) * dsub],
                   n_codes, seed=seed + j)
        for j in range(m_subvectors)])                   # (m, ≤256, dsub)
    n_codes_eff = books.shape[1]

    out = Path(out_dir)
    # one fused write: codes + raw vectors in one table (column-pruned at
    # query time), ONE encode pass, zero joins — the old layout re-read
    # the pq table to recover (vec_id, list_id) and joined the corpus
    enc = _ivfpq_build_frame(emb, C, books, m_subvectors, dsub,
                             id_col, vec_col)
    (enc.write.mode("overwrite").partitionBy("list_id")
     .parquet(str(out / "vectors")))
    _invalidate_relation(out / "vectors")
    (out / "ivfpq_meta.json").write_text(json.dumps(
        {"n_centroids": int(C.shape[0]), "dim": dim,
         "m": m_subvectors, "dsub": dsub, "n_codes": int(n_codes_eff),
         "seed": seed, "centroids": C.tolist(),
         "codebooks": books.tolist()}))


def query_ivfpq_index(spark, index_dir, query_vec: list[float], k: int, *,
                      nprobe: int = 4, rerank: int = 0) -> DataFrame:
    """Top-k cosine via asymmetric-distance (ADC) scoring over the
    ``nprobe`` nearest PQ lists: score ≈ <q̂, c_list> + Σ_j LUT_j[code_j],
    with LUT_j[b] = <q̂_sub_j, codebook_j[b]> precomputed driver-side
    (m×256 floats). The scan reads m-byte codes, not d-float vectors —
    the 100 TB memory story; scoring is one fancy-index + row-sum per
    Arrow batch.

    ``rerank`` > 0: the top rerank·k ADC candidates are re-scored
    EXACTLY against the raw vectors (partition-pruned to the probed
    lists, semi-joined on candidate ids) — recovers near-exact recall at
    the cost of reading rerank·k raw rows. Returns (vec_id, cosine)
    (approximate when rerank=0)."""
    import json
    from pathlib import Path

    meta = json.loads((Path(index_dir) / "ivfpq_meta.json").read_text())
    C = np.asarray(meta["centroids"], dtype=np.float64)
    books = np.asarray(meta["codebooks"], dtype=np.float64)
    m, dsub = meta["m"], meta["dsub"]
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = np.argsort(-(C @ qn))[:nprobe]
    # LUT: <q̂_j, codebook_j[b]> for every subvector j and code b
    lut = np.stack([books[j] @ qn[j * dsub:(j + 1) * dsub]
                    for j in range(m)])                   # (m, n_codes)
    qdotc = {int(p): float(C[p] @ qn) for p in probes}

    # single fused table: the select below projects only (vec_id, codes,
    # list_id), so parquet column pruning never reads the embedding column
    pq = (_read_vectors(spark, Path(index_dir) / "vectors")
          .filter(F.col("list_id").isin([int(p) for p in probes])))
    schema = "vec_id long, cosine double"

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.frombuffer(b"".join(pdf["codes"]),
                                  dtype=np.uint8).reshape(-1, m)
            base = pdf["list_id"].map(qdotc).to_numpy(np.float64)
            ip = base + lut[np.arange(m)[None, :], codes].sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].astype("int64"),
                                "cosine": ip})

    scored = (pq.select("vec_id", "codes", "list_id")
              .mapInPandas(adc, schema))
    if rerank <= 0:
        return (scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k))
    cand = (scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(max(k, rerank * k)).select("vec_id"))
    vecs = (_read_vectors(spark, Path(index_dir) / "vectors")
            .filter(F.col("list_id").isin([int(p) for p in probes]))
            .join(F.broadcast(cand), "vec_id", "left_semi"))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = float(np.linalg.norm(q))
    # stored norm = build-time _norm projection (bit-identical to an
    # inline recompute); using it keeps the rerank scan pruned to
    # (vec_id, embedding, norm) and one multiply per row
    cos = _dot(F.col("embedding"), qcol) / (F.col("norm") * F.lit(qnorm))
    return (vecs.select("vec_id", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k))
