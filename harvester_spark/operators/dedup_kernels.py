"""Vectorized per-partition kernels for the dedup fingerprint stages.

The JVM shapes (explode token/shingle rows → 64 aggregate expressions →
groupBy exchange) spend their time in per-row expression evaluation and
in shuffling rows whose aggregation is per-doc LOCAL anyway — every
token/shingle of a doc lives in the doc's partition. These mapInArrow
kernels compute the same per-doc results inside the partition (pyarrow
tokenize → bit-exact numpy XXH64 → numpy reductions), so the map stage is
a few vectorized passes and the downstream exchange carries one row per
doc with NO groupBy at all (guide §4.2, §8).

Bit-exactness contract: signatures and fingerprints are VALUE-IDENTICAL
to the JVM expressions (same xxhash64 — functions/xxh64.py parity-tested
against Spark; same Carter-Wegman arithmetic; same sha2 hex), asserted by
kernel-vs-JVM equality tests in tests/test_dedup.py. That is what makes
these kernels optimizations rather than semantic changes: every LSH
bucket, candidate pair and verified output stays the same.
"""

from __future__ import annotations

import contextlib
import hashlib
import threading
from typing import Iterator

import numpy as np

from harvester_spark.functions.xxh64 import xxh64_arrow

MERSENNE_P = (1 << 31) - 1

# thread count for the DRIVER-side pair kernels only (executor kernels
# always run threads=1 — their sibling tasks own the cores); the heavy
# ufuncs release the GIL so a small pool gets real parallelism
import os as _os

DRIVER_KERNEL_THREADS = int(_os.environ.get(
    "SPARK_GRAFT_DEDUP_DRIVER_THREADS",
    str(min(8, _os.cpu_count() or 1))))


# concurrent driver-kernel calls share ONE raise of the process-global
# pyarrow pool: the first caller in saves the baseline, the last one out
# restores it (unguarded save/restore pairs could interleave and leave the
# pool raised for good)
_PA_POOL_LOCK = threading.Lock()
_pa_pool_users = 0
_pa_pool_baseline = 0


@contextlib.contextmanager
def _driver_pa_pool():
    """Raise pyarrow's thread pool for the driver-side pair kernels.
    session.py pins OMP_NUM_THREADS=1 before pyarrow initializes (right
    for executor workers, which share cores with sibling tasks), but the
    driver fast path runs while NO Spark job is active — its
    tokenize/join/cast kernels may use the idle cores. The pool is
    restored when the last concurrent user exits, so nothing else inherits
    it."""
    import pyarrow as pa

    global _pa_pool_users, _pa_pool_baseline
    with _PA_POOL_LOCK:
        if _pa_pool_users == 0:
            _pa_pool_baseline = pa.cpu_count()
            pa.set_cpu_count(max(_pa_pool_baseline, DRIVER_KERNEL_THREADS))
        _pa_pool_users += 1
    try:
        yield
    finally:
        with _PA_POOL_LOCK:
            _pa_pool_users -= 1
            if _pa_pool_users == 0:
                pa.set_cpu_count(_pa_pool_baseline)


def _tokens_flat(content_arr):
    """Arrow string array → (flat tokens pa.Array, parent int64 ndarray,
    counts per row int64 ndarray). Same tokenizer as the index-build pack
    kernel (lower → split on [^a-z0-9_]+ → drop empties)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from harvester_spark.functions.tokenize import TOKEN_SPLIT_RE

    nrows = len(content_arr)
    arr = pc.fill_null(content_arr, "")
    splits = pc.split_pattern_regex(pc.utf8_lower(arr), TOKEN_SPLIT_RE)
    flat = pc.list_flatten(splits)
    parent = pc.list_parent_indices(splits)
    mask = pc.not_equal(flat, "")
    flat = pc.filter(flat, mask)
    parent = pc.filter(parent, mask)
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    pnp = (parent.combine_chunks() if isinstance(parent, pa.ChunkedArray)
           else parent).to_numpy(zero_copy_only=False).astype(np.int64)
    counts = np.bincount(pnp, minlength=nrows).astype(np.int64)
    return flat, pnp, counts


def _shingle_hashes(flat, pnp: np.ndarray, counts: np.ndarray,
                    shingle_n: int):
    """Flat tokens → (shingle hash ∈ [0, P) int64 ndarray, shingle parent
    row ids int64). Shingle construction matches shingles_from_tokens:
    docs with ≥ n tokens get every n-gram position (duplicates retained —
    min-hash is duplicate-insensitive, so the JVM path's array_distinct
    changes nothing); docs with 1..n-1 tokens get ONE whole-text shingle;
    zero-token docs get none."""
    import pyarrow.compute as pc

    n = shingle_n
    N = len(flat)
    parts = []
    parents = []
    if N >= n:
        L = N - (n - 1)
        cols = [flat.slice(j, L) for j in range(n)]
        joined = pc.binary_join_element_wise(*cols, " ")
        full_mask = pnp[:L] == pnp[n - 1:]
        parts.append((joined, full_mask))
        parents.append(pnp[:L][full_mask])
    # short docs (1..n-1 tokens): one whole-text shingle each
    short_rows = np.nonzero((counts > 0) & (counts < n))[0]
    short_shingles = []
    if short_rows.size:
        starts = np.concatenate(([0], np.cumsum(counts)))
        for r in short_rows:
            toks = flat.slice(starts[r], counts[r]).to_pylist()
            short_shingles.append(" ".join(toks))
    # hash full shingles (filtered) and short shingles
    import pyarrow as pa

    hashes = []
    hash_parents = []
    if parts:
        joined, full_mask = parts[0]
        h = xxh64_arrow(joined)
        hashes.append(h[full_mask])
        hash_parents.append(parents[0])
    if short_shingles:
        hashes.append(xxh64_arrow(pa.array(short_shingles,
                                           type=pa.string())))
        hash_parents.append(short_rows)
    if not hashes:
        return (np.empty(0, np.int64), np.empty(0, np.int64))
    h = np.concatenate(hashes)
    par = np.concatenate(hash_parents)
    # doc-grouped order for reduceat (full and short doc sets are
    # disjoint, but short rows must interleave back into doc order)
    order = np.argsort(par, kind="stable")
    h = h[order]
    h %= MERSENNE_P  # in-place: h is already our private copy
    return h, par[order]


def _run_blocks(fn, total: int, block: int, threads: int) -> None:
    """Run fn((i0, i1)) over consecutive [i0, i1) spans, optionally on a
    small thread pool. The heavy ufuncs (multiply/mod/reduceat/gather)
    release the GIL, so driver-side calls get real parallelism; executor
    kernels keep threads=1 (their 32 sibling tasks already own the
    cores). Blocks write disjoint output slices — deterministic under any
    schedule."""
    spans = [(i0, min(i0 + block, total)) for i0 in range(0, total, block)]
    if threads > 1 and len(spans) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(min(threads, len(spans))) as ex:
            list(ex.map(fn, spans))
    else:
        for s in spans:
            fn(s)


def _minhash_sig_matrix(h: np.ndarray, starts: np.ndarray, a: np.ndarray,
                        b: np.ndarray, perm_block: int = 16,
                        threads: int = 1) -> np.ndarray:
    """Per-doc minhash signature matrix (n_docs × num_hashes int64) from
    doc-grouped shingle hashes ``h`` (∈ [0, P)) with reduceat ``starts``.

    Adaptive: when the batch has few DISTINCT hash values (synthetic /
    boilerplate-heavy corpora), the permutations are computed once per
    unique value into an int32 table and GATHERED per shingle — that
    replaces the dominant (n_shingles × num_hashes) int64 multiply/add/mod
    passes with a half-width gather and no modulo at all (values < 2^31
    fit int32 exactly, so results are bit-identical). Above the ratio the
    direct in-place form runs (Mersenne shift-fold was A/B'd slower: 7
    memory passes of temporaries vs 3)."""
    num_hashes = int(a.size)
    nd = starts.size
    sig = np.empty((nd, num_hashes), dtype=np.int64)
    uq, inv = np.unique(h, return_inverse=True)
    use_table = uq.size <= h.size // 4

    def run_block(span):
        i0, i1 = span
        if use_table:
            tbl = uq[:, None] * a[None, i0:i1]
            tbl += b[None, i0:i1]
            tbl %= MERSENNE_P
            vals = tbl.astype(np.int32)[inv]
        else:
            # h < 2^31, a < 2^31 → products < 2^62: exact in int64;
            # in-place add+mod — memory-traffic-bound on this host
            vals = h[:, None] * a[None, i0:i1]
            vals += b[None, i0:i1]
            vals %= MERSENNE_P
        sig[:, i0:i1] = np.minimum.reduceat(vals, starts, axis=0)

    _run_blocks(run_block, num_hashes, perm_block, threads)
    return sig


def _simhash_fingerprints(h: np.ndarray, starts: np.ndarray,
                          n_occ: np.ndarray, bits: int = 64,
                          bit_block: int = 16,
                          threads: int = 1) -> np.ndarray:
    """Per-doc simhash fingerprints (uint64) from doc-grouped token hashes
    ``h`` (uint64) with reduceat ``starts`` and per-doc occurrence counts
    ``n_occ``. Same adaptive unique-value table as the signature matrix:
    per-unique bit rows gathered as int16 (exact while every doc has
    < 32767 occurrences — checked) instead of shifting/masking every
    occurrence × bit in int64. Blocks OR into disjoint bit ranges of the
    same fp vector via per-block partials — order-independent."""
    nd = starts.size
    uq, inv = np.unique(h, return_inverse=True)
    use_table = (uq.size <= h.size // 4
                 and (n_occ.size == 0 or int(n_occ.max()) < 32000))
    partials: dict[int, np.ndarray] = {}

    def run_block(span):
        i0, i1 = span
        shifts = np.arange(i0, i1, dtype=np.uint64)
        if use_table:
            tbl = ((uq[:, None] >> shifts[None, :])
                   & np.uint64(1)).astype(np.int16)
            bitsm = tbl[inv]
        else:
            bitsm = ((h[:, None] >> shifts[None, :])
                     & np.uint64(1)).astype(np.int64)
        ones = np.add.reduceat(bitsm, starts, axis=0).astype(np.uint64)
        set_mask = (ones * np.uint64(2)) > n_occ[:, None]
        weights = (np.uint64(1) << shifts)[None, :]
        partials[i0] = np.bitwise_or.reduce(
            np.where(set_mask, weights, np.uint64(0)), axis=1)

    _run_blocks(run_block, bits, bit_block, threads)
    fp = np.zeros(nd, dtype=np.uint64)
    for p in partials.values():
        fp |= p
    return fp


def minhash_sig_batches(batches, *, a: np.ndarray, b: np.ndarray,
                        shingle_n: int, with_sha: bool,
                        perm_block: int = 16) -> Iterator:
    """mapInArrow kernel: (doc_id, content) record batches →
    (doc_id[, csha], sig array<long>) batches. One row per doc with ≥1
    token; signature values identical to the JVM aggregation."""
    import pyarrow as pa

    a = a.astype(np.int64)
    b = b.astype(np.int64)
    num_hashes = a.size
    for batch in batches:
        doc_ids = batch.column(0).to_numpy(zero_copy_only=False)
        content = batch.column(1)
        flat, pnp, counts = _tokens_flat(content)
        h, par = _shingle_hashes(flat, pnp, counts, shingle_n)
        keep_rows = np.nonzero(counts > 0)[0]
        if keep_rows.size == 0:
            continue
        # reduceat starts: first index of each doc's shingle run (par is
        # sorted; every kept doc has ≥1 shingle)
        starts = np.nonzero(np.concatenate(
            ([True], par[1:] != par[:-1])))[0]
        nd = starts.size
        sig = _minhash_sig_matrix(h, starts, a, b, perm_block)
        cols = [pa.array(doc_ids[keep_rows], type=pa.int64())]
        names = ["doc_id"]
        if with_sha:
            sha_src = content.to_pylist()
            cols.append(pa.array(
                [hashlib.sha256(
                    (sha_src[r] or "").encode("utf-8")).hexdigest()
                 for r in keep_rows], type=pa.string()))
            names.append("csha")
        cols.append(pa.ListArray.from_arrays(
            np.arange(nd + 1, dtype=np.int32) * num_hashes,
            pa.array(sig.ravel(), type=pa.int64())))
        names.append("sig")
        yield pa.RecordBatch.from_arrays(cols, names=names)


def simhash_batches(batches, *, bits: int = 64,
                    bit_block: int = 16) -> Iterator:
    """mapInArrow kernel: (doc_id, content) → (doc_id, simhash long).
    Fingerprints identical to the JVM sign-sum aggregation over
    xxhash64 token votes (bit set ⟺ 2·ones > n)."""
    import pyarrow as pa

    for batch in batches:
        doc_ids = batch.column(0).to_numpy(zero_copy_only=False)
        flat, pnp, counts = _tokens_flat(batch.column(1))
        keep_rows = np.nonzero(counts > 0)[0]
        if keep_rows.size == 0:
            continue
        h = xxh64_arrow(flat).view(np.uint64)
        # pnp is sorted by construction (list_parent_indices)
        starts = np.nonzero(np.concatenate(
            ([True], pnp[1:] != pnp[:-1])))[0]
        n_occ = counts[keep_rows].astype(np.uint64)
        fp = _simhash_fingerprints(h, starts, n_occ, bits, bit_block)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids[keep_rows], type=pa.int64()),
             pa.array(fp.view(np.int64), type=pa.int64())],
            names=["doc_id", "simhash"])


# ---------------------------------------------------------------------------
# Driver-local pair computation (small-corpus fast path)
#
# The distributed LSH DAGs are ~10-14 AQE micro-jobs (kernel scan → rep
# window → banding/blocking explode → capped bucket agg → pair explode →
# verify joins); below a few hundred MB of text the whole computation fits
# comfortably on the driver, where the SAME vectorized kernels run as a
# handful of numpy passes with zero exchanges and exactly two tiny Spark
# jobs (a bounded probe + one collect). Same pattern as the BM25
# small-query driver path. Outputs are IDENTICAL to the distributed DAGs
# (equality-tested in tests/test_dedup.py): same tokenizer, same xxh64,
# same Carter-Wegman arithmetic, same band-hash strings, same bucket caps
# and drop accounting, same rep-collapse star pairs, same exact-verify
# jaccard / hamming values.
# ---------------------------------------------------------------------------


def _group_spans(keys: np.ndarray):
    """Sorted-key group spans: returns (order, starts, ends) such that
    keys[order[s:e]] is one equal-key group per (s, e)."""
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    starts = np.nonzero(np.concatenate(([True], sk[1:] != sk[:-1])))[0]
    ends = np.append(starts[1:], sk.size)
    return order, starts, ends


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of an int64/uint64 array (numpy<2 has no
    bitwise_count)."""
    b = np.unpackbits(x.astype(np.uint64, copy=False).view(np.uint8)
                      .reshape(-1, 8), axis=1)
    return b.sum(axis=1).astype(np.int64)


def _rep_collapse(kept_ids: np.ndarray, keys) -> tuple:
    """Min-id representative per equal key (vectorized: min.reduceat over
    the sorted groups; star members = rows whose id isn't their group
    min). Returns (is_rep bool mask, star list[(rep, member)],
    n_groups_with_extras, n_extra_docs)."""
    order, starts, ends = _group_spans(np.asarray(keys))
    gmins = np.minimum.reduceat(kept_ids[order], starts)
    rep_of = np.empty(kept_ids.size, dtype=np.int64)
    rep_of[order] = np.repeat(gmins, ends - starts)
    member = kept_ids != rep_of
    star = list(zip(rep_of[member].tolist(), kept_ids[member].tolist()))
    n_groups = int(np.count_nonzero(ends - starts > 1))
    return ~member, star, n_groups, len(star)


def minhash_pairs_local(ids: np.ndarray, texts, *, a: np.ndarray,
                        b: np.ndarray, bands: int, shingle_n: int,
                        max_bucket: int,
                        jaccard_threshold: float | None,
                        perm_block: int = 16) -> dict:
    """Driver-side MinHash-LSH near-dup pairs over a collected corpus.
    Value-identical to the distributed ``minhash_lsh_pairs`` DAG.

    Returns {"pairs": [(doc_a, doc_b[, jaccard])...],
             "metrics": {dropped_buckets, dropped_doc_entries,
                         max_dropped_size, identical_content_groups,
                         identical_content_extra_docs}}."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    num_hashes = int(a.size)
    rows_per_band = num_hashes // bands
    flat, pnp, counts = _tokens_flat(texts)
    keep = np.nonzero(counts > 0)[0]
    metrics = {"dropped_buckets": 0, "dropped_doc_entries": 0,
               "max_dropped_size": 0, "identical_content_groups": 0,
               "identical_content_extra_docs": 0}
    if keep.size == 0:
        return {"pairs": [], "metrics": metrics}
    kept_ids = ids[keep]
    texts_py = texts.to_pylist()
    sha = [hashlib.sha256((texts_py[r] or "").encode("utf-8")).hexdigest()
           for r in keep]
    is_rep, star, n_groups, n_extra = _rep_collapse(
        kept_ids, np.asarray(sha, dtype="S64"))  # fixed-width: C-speed sort
    metrics["identical_content_groups"] = n_groups
    metrics["identical_content_extra_docs"] = n_extra

    # signatures for every kept doc (same arithmetic as the mapInArrow
    # kernel; rows line up with `keep` order)
    h, par = _shingle_hashes(flat, pnp, counts, shingle_n)
    sig_starts = np.nonzero(np.concatenate(
        ([True], par[1:] != par[:-1])))[0]
    sig = _minhash_sig_matrix(h, sig_starts, a.astype(np.int64),
                              b.astype(np.int64), perm_block,
                              threads=DRIVER_KERNEL_THREADS)

    rep_rows = np.nonzero(is_rep)[0]
    sig_r = sig[rep_rows]
    rep_ids = kept_ids[rep_rows]
    cand: set = set()
    for band_i in range(bands):
        cols = [pc.cast(pa.array(sig_r[:, band_i * rows_per_band + r]),
                        pa.string())
                for r in range(rows_per_band)]
        joined = (pc.binary_join_element_wise(*cols, ",")
                  if len(cols) > 1 else cols[0])
        bh = xxh64_arrow(joined)
        order, starts, ends = _group_spans(bh)
        # vectorized group selection: almost every bucket is a singleton,
        # so iterate only the (few) multi-member ones
        bsizes = ends - starts
        for gi in np.nonzero(bsizes > 1)[0]:
            s, e = starts[gi], ends[gi]
            sz = e - s
            if sz > max_bucket:
                metrics["dropped_buckets"] += 1
                metrics["dropped_doc_entries"] += int(sz)
                metrics["max_dropped_size"] = max(
                    metrics["max_dropped_size"], int(sz))
                continue
            members = np.sort(rep_ids[order[s:e]])
            ix, jx = np.triu_indices(sz, 1)
            cand.update(zip(members[ix].tolist(), members[jx].tolist()))

    if jaccard_threshold is None:
        pairs = list(cand)
        pairs.extend(star)
        return {"pairs": pairs, "metrics": metrics}

    # exact-verify candidates on DISTINCT shingle STRING sets (the hashes
    # above are mod-P and could collide; the distributed verify uses
    # shingles_expr strings, so the driver path must too)
    tok_starts = np.concatenate(([0], np.cumsum(counts)))
    row_of_id = {int(kept_ids[i]): int(keep[i])
                 for i in range(keep.size)}
    sh_cache: dict = {}

    def shingle_set(doc_id: int) -> set:
        got = sh_cache.get(doc_id)
        if got is None:
            r = row_of_id[doc_id]
            toks = flat.slice(tok_starts[r], counts[r]).to_pylist()
            if len(toks) < shingle_n:
                got = {" ".join(toks)}
            else:
                got = {" ".join(toks[i:i + shingle_n])
                       for i in range(len(toks) - shingle_n + 1)}
            sh_cache[doc_id] = got
        return got

    pairs = []
    for (x, y) in cand:
        sx = shingle_set(x)
        sy = shingle_set(y)
        j = len(sx & sy) / len(sx | sy)
        if j >= jaccard_threshold:
            pairs.append((x, y, j))
    pairs.extend((ra, rb, 1.0) for ra, rb in star)
    return {"pairs": pairs, "metrics": metrics}


def simhash_pairs_local(ids: np.ndarray, texts, *, max_hamming: int,
                        chunks: int, max_bucket: int,
                        bits: int = 64, bit_block: int = 16) -> dict:
    """Driver-side SimHash near-dup pairs over a collected corpus.
    Value-identical to the distributed ``simhash_near_pairs`` DAG (default
    xxhash64 engine).

    Returns {"pairs": [(doc_a, doc_b, hamming)...],
             "metrics": {dropped_buckets, dropped_doc_entries,
                         max_dropped_size, identical_fp_groups,
                         identical_fp_extra_docs}}."""
    import itertools

    k = max_hamming
    flat, pnp, counts = _tokens_flat(texts)
    keep = np.nonzero(counts > 0)[0]
    metrics = {"dropped_buckets": 0, "dropped_doc_entries": 0,
               "max_dropped_size": 0, "identical_fp_groups": 0,
               "identical_fp_extra_docs": 0}
    if keep.size == 0:
        return {"pairs": [], "metrics": metrics}
    kept_ids = ids[keep]

    # fingerprints: same bit-vote arithmetic as simhash_batches
    h = xxh64_arrow(flat).view(np.uint64)
    starts = np.nonzero(np.concatenate(([True], pnp[1:] != pnp[:-1])))[0]
    n_occ = counts[keep].astype(np.uint64)
    fp = _simhash_fingerprints(h, starts, n_occ, bits, bit_block,
                               threads=DRIVER_KERNEL_THREADS)

    is_rep, star, n_groups, n_extra = _rep_collapse(
        kept_ids, fp.view(np.int64))
    metrics["identical_fp_groups"] = n_groups
    metrics["identical_fp_extra_docs"] = n_extra
    zero_pairs = [(ra, rb, 0) for ra, rb in star]

    rep_rows = np.nonzero(is_rep)[0]
    rep_ids = kept_ids[rep_rows]
    u = fp[rep_rows]

    sizes = [bits // chunks + (1 if i < bits % chunks else 0)
             for i in range(chunks)]
    offs = [sum(sizes[:i]) for i in range(chunks)]
    cand: dict = {}
    for combo in itertools.combinations(range(chunks), chunks - k):
        cv = np.zeros(u.size, dtype=np.uint64)
        shift = 0
        for c in combo:
            cv |= (((u >> np.uint64(offs[c]))
                    & np.uint64((1 << sizes[c]) - 1))
                   << np.uint64(shift))
            shift += sizes[c]
        order, gstarts, gends = _group_spans(cv.view(np.int64))
        bsizes = gends - gstarts
        for gi in np.nonzero(bsizes > 1)[0]:
            s, e = gstarts[gi], gends[gi]
            sz = e - s
            if sz > max_bucket:
                metrics["dropped_buckets"] += 1
                metrics["dropped_doc_entries"] += int(sz)
                metrics["max_dropped_size"] = max(
                    metrics["max_dropped_size"], int(sz))
                continue
            rows = order[s:e]
            srt = np.argsort(rep_ids[rows], kind="stable")
            rows = rows[srt]
            bids = rep_ids[rows]
            bfp = u[rows]
            # all a<b pairs at once; hamming-filter BEFORE the python
            # dict so per-pair python cost is paid only by survivors
            ix, jx = np.triu_indices(sz, 1)
            ham = _popcount64(bfp[ix] ^ bfp[jx])
            ok = ham <= k
            cand.update(zip(
                zip(bids[ix[ok]].tolist(), bids[jx[ok]].tolist()),
                ham[ok].tolist()))

    pairs = [(x, y, hm) for (x, y), hm in cand.items()]
    pairs.extend(zero_pairs)
    return {"pairs": pairs, "metrics": metrics}
