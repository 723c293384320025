"""Vectorized kernels of the LSH dedup ops, shared by both placements.

Each step runs on executors inside ``mapInArrow`` (one partition at a
time, threads=1) and on the driver over a collected small corpus (same
functions, small thread pool): pyarrow tokenize → bit-exact numpy XXH64
(or md5) → minhash signatures / simhash fingerprints → bucket keys
(:func:`minhash_band_keys`, :func:`simhash_block_keys`) → candidate pairs
(:func:`bucket_pairs`, which streams rows sorted by bucket key).

Bit-exactness contract: signatures and fingerprints are VALUE-IDENTICAL
to the Spark SQL forms (same xxhash64 — functions/xxh64.py parity-tested
against Spark; same Carter-Wegman arithmetic; same sha2 hex; the md5
prefix DuckDB computes), asserted against test-local SQL references in
tests/test_dedup.py.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import os
import threading
from typing import Iterator

import numpy as np

from harvester_spark.functions.xxh64 import xxh64_arrow

MERSENNE_P = (1 << 31) - 1

# thread count for the DRIVER-side pair kernels only (executor kernels
# always run threads=1 — their sibling tasks own the cores); the heavy
# ufuncs release the GIL so a small pool gets real parallelism
DRIVER_KERNEL_THREADS = min(8, os.cpu_count() or 1)

# the two token hashes simhash fingerprints can be built on
TOKEN_HASHES = ("xxhash64", "md5")

# pairs materialized per bucket_pairs yield (bounds the kernel's output
# buffers when one batch holds many large buckets)
_PAIR_BLOCK = 1 << 20


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


def _shingle_hashes(flat, counts: np.ndarray, shingle_n: int):
    """Flat tokens → (shingle hash ∈ [0, P) int64 ndarray, shingle parent
    row ids int64, doc-grouped). Shingle construction matches
    shingles_from_tokens: docs with ≥ n tokens get every n-gram position
    (duplicates retained — min-hash is duplicate-insensitive, so the SQL
    form's array_distinct changes nothing); docs with 1..n-1 tokens get ONE
    whole-text shingle; zero-token docs get none. All shingles are joined
    in one pass over a ListArray of their token slices."""
    import pyarrow as pa
    import pyarrow.compute as pc

    npos = np.where(counts > 0, np.maximum(counts - shingle_n + 1, 1), 0)
    par = np.repeat(np.arange(counts.size), npos)
    # first token of every shingle, then every shingle's token indices
    first = (np.repeat(np.cumsum(counts) - counts - np.cumsum(npos) + npos,
                       npos) + np.arange(par.size))
    length = np.minimum(counts, shingle_n)[par]
    offs = np.concatenate(([0], np.cumsum(length)))
    idx = np.repeat(first - offs[:-1], length) + np.arange(offs[-1])
    lists = pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()),
                                     flat.take(pa.array(idx)))
    h = xxh64_arrow(pc.binary_join(lists, " "))
    h %= MERSENNE_P  # in-place: h is already our private copy
    return h, par


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


def _token_hashes(flat, token_hash: str) -> np.ndarray:
    """Flat token array → uint64 token hashes: Spark's ``xxhash64``, or
    for ``"md5"`` the first 8 md5 bytes read big-endian (what DuckDB's
    ``('0x' || substr(md5(t), 1|9, 8))::BIGINT`` pair spells), hashed once
    per distinct token."""
    import pyarrow.compute as pc

    if token_hash == "xxhash64":
        return xxh64_arrow(flat).view(np.uint64)
    enc = pc.dictionary_encode(flat)
    uniq = np.frombuffer(b"".join(
        hashlib.md5(t.encode("utf-8")).digest()[:8]
        for t in enc.dictionary.to_pylist()), dtype=">u8").astype(np.uint64)
    return uniq[enc.indices.to_numpy(zero_copy_only=False)]


def minhash_band_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """(n × bands) int64 LSH band keys from an (n × num_hashes) signature
    matrix: band i's key is xxhash64 of its ``num_hashes // bands`` values
    joined as decimal strings with ``,``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = sig.shape[1] // bands
    keys = np.empty((sig.shape[0], bands), dtype=np.int64)
    for i in range(bands):
        cols = [pc.cast(pa.array(sig[:, i * rows + r]), pa.string())
                for r in range(rows)]
        keys[:, i] = xxh64_arrow(pc.binary_join_element_wise(*cols, ",")
                                 if len(cols) > 1 else cols[0])
    return keys


def simhash_block_keys(fp: np.ndarray, chunks: int,
                       max_hamming: int) -> np.ndarray:
    """(n × comb(chunks, max_hamming)) int64 Manku block keys: the 64
    fingerprint bits split into ``chunks`` near-equal chunks, one table per
    (chunks - max_hamming)-chunk subset, keyed on the fingerprint masked
    to that subset's bits."""
    sizes = [64 // chunks + (i < 64 % chunks) for i in range(chunks)]
    offs = np.cumsum([0] + sizes[:-1]).tolist()
    masks = [sum(((1 << sizes[c]) - 1) << offs[c] for c in combo)
             for combo in itertools.combinations(range(chunks),
                                                 chunks - max_hamming)]
    return (fp.view(np.uint64)[:, None]
            & np.array(masks, dtype=np.uint64)).view(np.int64)


def _minhash_sigs(content, a: np.ndarray, b: np.ndarray, shingle_n: int,
                  threads: int = 1):
    """Content array → (rows with ≥1 token, their (rows × num_hashes)
    minhash signature matrix)."""
    flat, _, counts = _tokens_flat(content)
    keep = np.nonzero(counts > 0)[0]
    if keep.size == 0:
        return keep, np.empty((0, a.size), dtype=np.int64)
    h, par = _shingle_hashes(flat, counts, shingle_n)
    # reduceat starts: first index of each doc's shingle run (par is
    # sorted; every kept doc has ≥1 shingle)
    starts = np.nonzero(np.concatenate(([True], par[1:] != par[:-1])))[0]
    return keep, _minhash_sig_matrix(h, starts, a.astype(np.int64),
                                     b.astype(np.int64), threads=threads)


def _content_sha(content, rows: np.ndarray) -> list:
    """sha256 hex of the UTF-8 content of ``rows`` (== Spark ``sha2(c,
    256)``)."""
    texts = content.to_pylist()
    return [hashlib.sha256((texts[r] or "").encode("utf-8")).hexdigest()
            for r in rows]


def _simhash_fps(content, token_hash: str, bits: int = 64,
                 threads: int = 1):
    """Content array → (rows with ≥1 token, int64 simhash per row): each
    token occurrence votes on every bit of its hash, bit set ⟺
    2·ones > n (the sign of the ±1 vote sum)."""
    flat, pnp, counts = _tokens_flat(content)
    keep = np.nonzero(counts > 0)[0]
    if keep.size == 0:
        return keep, np.empty(0, dtype=np.int64)
    # pnp is sorted by construction (list_parent_indices)
    starts = np.nonzero(np.concatenate(([True], pnp[1:] != pnp[:-1])))[0]
    fp = _simhash_fingerprints(_token_hashes(flat, token_hash), starts,
                               counts[keep].astype(np.uint64), bits,
                               threads=threads)
    return keep, fp.view(np.int64)


def minhash_sig_batches(batches, *, a: np.ndarray, b: np.ndarray,
                        shingle_n: int, bands: int | None = None) -> Iterator:
    """mapInArrow kernel: (doc_id, content) record batches → (doc_id, sig
    array<long>), or with ``bands`` → (doc_id, csha, keys array<long>):
    the content sha256 hex and the :func:`minhash_band_keys`. One row per
    doc with ≥1 token."""
    import pyarrow as pa

    for batch in batches:
        content = batch.column(1)
        keep, sig = _minhash_sigs(content, a, b, shingle_n)
        if keep.size == 0:
            continue
        cols = [batch.column(0).take(pa.array(keep))]
        names = ["doc_id", "sig"]
        if bands is not None:
            names = ["doc_id", "csha", "keys"]
            cols.append(pa.array(_content_sha(content, keep), pa.string()))
            sig = minhash_band_keys(sig, bands)
        cols.append(pa.ListArray.from_arrays(
            np.arange(keep.size + 1, dtype=np.int32) * sig.shape[1],
            pa.array(sig.ravel(), type=pa.int64())))
        yield pa.RecordBatch.from_arrays(cols, names=names)


def simhash_batches(batches, *, bits: int = 64,
                    token_hash: str) -> Iterator:
    """mapInArrow kernel: (doc_id, content) → (doc_id, simhash long), one
    row per doc with ≥1 token."""
    import pyarrow as pa

    for batch in batches:
        keep, fp = _simhash_fps(batch.column(1), token_hash, bits)
        if keep.size:
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(keep)), pa.array(fp)],
                names=["doc_id", "simhash"])


def _keyed_rows(keys: np.ndarray, ids: np.ndarray, fp=None) -> list:
    """(n × tables) key matrix → bucket_pairs rows [tbl, key, doc_id, fp],
    one row per (table, doc), table-major."""
    n_tbl = keys.shape[1]
    return [np.repeat(np.arange(n_tbl, dtype=np.int32), ids.size),
            keys.T.ravel(), np.tile(ids, n_tbl),
            None if fp is None else np.tile(fp, n_tbl)]


def simhash_key_batches(batches, *, chunks: int,
                        max_hamming: int) -> Iterator:
    """mapInArrow kernel: (doc_id, simhash) → (tbl, key, doc_id, fp), one
    row per doc and :func:`simhash_block_keys` table."""
    import pyarrow as pa

    for batch in batches:
        ids, fp = (c.to_numpy(zero_copy_only=False) for c in batch.columns)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c) for c in _keyed_rows(
                simhash_block_keys(fp, chunks, max_hamming), ids, fp)],
            names=["tbl", "key", "doc_id", "fp"])


# ---------------------------------------------------------------------------
# LSH buckets → candidate pairs
# ---------------------------------------------------------------------------


_POPCOUNT16 = np.array([bin(i).count("1") for i in range(1 << 16)],
                       dtype=np.int64)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of an int64/uint64 array (numpy<2 has no
    bitwise_count): four 16-bit table lookups, ~2× faster than
    unpackbits."""
    u = x.view(np.uint64)
    return (_POPCOUNT16[u & np.uint64(0xFFFF)]
            + _POPCOUNT16[(u >> np.uint64(16)) & np.uint64(0xFFFF)]
            + _POPCOUNT16[(u >> np.uint64(32)) & np.uint64(0xFFFF)]
            + _POPCOUNT16[u >> np.uint64(48)])


def _close_buckets(ids, fp, starts, sizes, max_bucket: int,
                   max_hamming: int | None):
    """Pairs of complete buckets ``ids[starts[i]:starts[i] + sizes[i]]``
    (members sorted by id); a bucket over ``max_bucket`` contributes only
    its size and needs no members. Yields bucket_pairs tuples."""
    none = np.empty(0, dtype=np.int64)
    if (sizes > max_bucket).any():
        yield none, none, none, sizes[sizes > max_bucket]
    ok = (sizes > 1) & (sizes <= max_bucket)
    starts, sizes = starts[ok], sizes[ok]
    # buckets of one size form one (buckets × size) member matrix, so the
    # pair indices come from one triu_indices per distinct size
    for s in np.unique(sizes).tolist():
        st = starts[sizes == s]
        ix, jx = np.triu_indices(s, 1)
        step = max(1, _PAIR_BLOCK // ix.size)
        for i0 in range(0, st.size, step):
            m = st[i0:i0 + step, None] + np.arange(s)
            ia, ib = m[:, ix].ravel(), m[:, jx].ravel()
            sel = ids[ia] < ids[ib]
            ham = none
            if max_hamming is not None:
                ham = _popcount64(fp[ia] ^ fp[ib])
                sel &= ham <= max_hamming
                ham = ham[sel]
            yield ids[ia[sel]], ids[ib[sel]], ham, none


def bucket_pairs(chunks, *, max_bucket: int,
                 max_hamming: int | None = None) -> Iterator:
    """The LSH bucket → pair kernel of both pair ops and both placements.

    ``chunks``: iterable of ``[tbl, key, doc_id, fp]`` arrays (``fp`` None
    for minhash) whose concatenation is sorted by ``(tbl, key, doc_id)``;
    a bucket is one ``(tbl, key)`` run and may span chunks. Yields
    ``(doc_a, doc_b, hamming, dropped_sizes)`` arrays: every
    ``doc_a < doc_b`` pair inside each bucket of 2..``max_bucket`` members
    (simhash: only those with ``hamming ≤ max_hamming``; minhash: empty
    ``hamming``) and the exact size of every bucket over ``max_bucket``.
    Pairs repeat across tables; callers dedup them.

    Memory: each chunk's complete buckets are paired vectorized; only its
    last bucket stays open, as at most ``max_bucket + 1`` member rows plus
    a count of the rest, so a bucket of any size costs O(max_bucket)
    across chunks."""
    cap = max_bucket + 1
    head, extra = None, 0  # open bucket: ≤ cap rows + members not kept
    for rows in chunks:
        if head is not None:
            rows = [None if r is None else np.concatenate((h, r))
                    for h, r in zip(head, rows)]
        tbl, key, ids, fp = rows
        if ids.size == 0:
            continue
        starts = np.flatnonzero(np.concatenate(
            ([True], (tbl[1:] != tbl[:-1]) | (key[1:] != key[:-1]))))
        sizes = np.diff(np.append(starts, ids.size))
        sizes[0] += extra
        last = starts[-1]
        head = [None if r is None else r[last:last + cap].copy()
                for r in rows]
        extra = int(sizes[-1]) - head[2].size
        yield from _close_buckets(ids, fp, starts[:-1], sizes[:-1],
                                  max_bucket, max_hamming)
    if head is not None:
        yield from _close_buckets(head[2], head[3], np.zeros(1, np.int64),
                                  np.array([head[2].size + extra]),
                                  max_bucket, max_hamming)


def bucket_pair_batches(batches, *, max_bucket: int,
                        max_hamming: int | None = None) -> Iterator:
    """mapInArrow form of :func:`bucket_pairs` over one partition sorted by
    (tbl, key, doc_id): (tbl, key, doc_id[, fp]) batches → (doc_a, doc_b
    [, hamming], dropped) batches. Pair rows have a null ``dropped``; each
    dropped bucket is one row with null ids and its size in ``dropped``."""
    import pyarrow as pa

    names = ["doc_a", "doc_b", "hamming", "dropped"]
    types = [pa.int64(), pa.int64(), pa.int32(), pa.int64()]
    if max_hamming is None:
        del names[2], types[2]
    chunks = ([c.to_numpy(zero_copy_only=False) for c in b.columns]
              + [None] * (max_hamming is None) for b in batches)
    for a, b, ham, drops in bucket_pairs(chunks, max_bucket=max_bucket,
                                         max_hamming=max_hamming):
        vals = [a, b, ham, None] if a.size else [None, None, None, drops]
        if max_hamming is None:
            del vals[2]
        n = a.size or drops.size
        if n:
            yield pa.RecordBatch.from_arrays(
                [pa.nulls(n, t) if v is None else pa.array(v, type=t)
                 for v, t in zip(vals, types)], names=names)


def _pairs_from_keys(keys: np.ndarray, ids: np.ndarray, *, max_bucket: int,
                     fp: np.ndarray | None = None,
                     max_hamming: int | None = None):
    """Driver form of :func:`bucket_pairs` over an (n × tables) key matrix,
    as one chunk. Returns (distinct pairs [(doc_a, doc_b[, hamming])...],
    drop metrics dict)."""
    by_id = np.argsort(ids, kind="stable")
    ids, keys = ids[by_id], keys[by_id]
    fp = None if fp is None else fp[by_id]
    # stable per-table key sort keeps each bucket's ids ascending
    order = np.concatenate([t * ids.size + np.argsort(keys[:, t],
                                                      kind="stable")
                            for t in range(keys.shape[1])])
    rows = [None if r is None else r[order]
            for r in _keyed_rows(keys, ids, fp)]
    parts = list(zip(*bucket_pairs([rows], max_bucket=max_bucket,
                                   max_hamming=max_hamming)))
    a, b, ham, drops = (np.concatenate(c) for c in
                        parts or [[np.empty(0, dtype=np.int64)]] * 4)
    cols = [a, b] + ([ham] if max_hamming is not None else [])
    # hamming is a function of the pair: distinct rows = distinct pairs
    pairs = np.unique(np.stack(cols, axis=1), axis=0).tolist()
    return list(map(tuple, pairs)), drop_metrics(drops)


def drop_metrics(drops: np.ndarray) -> dict:
    """Pair-op drop metrics from the sizes of the buckets the cap dropped."""
    return {"dropped_buckets": int(drops.size),
            "dropped_doc_entries": int(drops.sum()),
            "max_dropped_size": int(drops.max(initial=0))}


# ---------------------------------------------------------------------------
# Driver placement (small-corpus fast path): the whole corpus is collected
# once and the same kernels run on it, with no Spark job after the collect.
# ---------------------------------------------------------------------------


def _rep_collapse(kept_ids: np.ndarray, keys) -> tuple:
    """Min-id representative per equal key (vectorized: min.reduceat over
    the sorted groups; star members = rows whose id isn't their group
    min). Returns (is_rep bool mask, star list[(rep, member)],
    n_groups_with_extras, n_extra_docs)."""
    keys = np.asarray(keys)
    if keys.size == 0:
        return np.zeros(0, dtype=bool), [], 0, 0
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    starts = np.nonzero(np.concatenate(([True], sk[1:] != sk[:-1])))[0]
    sizes = np.diff(np.append(starts, sk.size))
    rep_of = np.empty(kept_ids.size, dtype=np.int64)
    rep_of[order] = np.repeat(np.minimum.reduceat(kept_ids[order], starts),
                              sizes)
    member = kept_ids != rep_of
    star = list(zip(rep_of[member].tolist(), kept_ids[member].tolist()))
    return ~member, star, int(np.count_nonzero(sizes > 1)), len(star)


def minhash_pairs_local(ids: np.ndarray, texts, *, a: np.ndarray,
                        b: np.ndarray, bands: int, shingle_n: int,
                        max_bucket: int,
                        jaccard_threshold: float | None) -> tuple:
    """Driver placement of ``minhash_lsh_pairs`` over a collected corpus:
    ([(doc_a, doc_b[, jaccard])...], metrics dict), value-identical to the
    distributed path."""
    import pyarrow as pa

    keep, sig = _minhash_sigs(texts, a, b, shingle_n,
                              threads=DRIVER_KERNEL_THREADS)
    kept_ids = ids[keep]
    is_rep, star, n_groups, n_extra = _rep_collapse(
        kept_ids, np.asarray(_content_sha(texts, keep), dtype="S64"))
    cand, metrics = _pairs_from_keys(
        minhash_band_keys(sig[is_rep], bands), kept_ids[is_rep],
        max_bucket=max_bucket)
    metrics.update(identical_content_groups=n_groups,
                   identical_content_extra_docs=n_extra)
    if jaccard_threshold is None:
        return cand + star, metrics

    # exact-verify candidates on DISTINCT shingle STRING sets (the hashes
    # above are mod-P and could collide; the distributed verify uses
    # shingles_expr strings, so the driver path must too)
    row_of = dict(zip(kept_ids.tolist(), keep.tolist()))
    cand_ids = sorted({d for pair in cand for d in pair})
    flat, _, counts = _tokens_flat(
        texts.take(pa.array([row_of[d] for d in cand_ids], pa.int64())))
    toks = flat.to_pylist()
    offs = np.cumsum(counts) - counts
    n = shingle_n
    sets = {}
    for d, o, c in zip(cand_ids, offs.tolist(), counts.tolist()):
        t = toks[o:o + c]  # < n tokens: one whole-text shingle
        sets[d] = {" ".join(t[i:i + n]) for i in range(max(1, c - n + 1))}
    pairs = [(x, y, len(sets[x] & sets[y]) / len(sets[x] | sets[y]))
             for x, y in cand]
    pairs = [p for p in pairs if p[2] >= jaccard_threshold]
    pairs.extend((ra, rb, 1.0) for ra, rb in star)
    return pairs, metrics


def simhash_pairs_local(ids: np.ndarray, texts, *, max_hamming: int,
                        chunks: int, max_bucket: int,
                        token_hash: str) -> tuple:
    """Driver placement of ``simhash_near_pairs`` over a collected corpus:
    ([(doc_a, doc_b, hamming)...], metrics dict), value-identical to the
    distributed path."""
    keep, fp = _simhash_fps(texts, token_hash,
                            threads=DRIVER_KERNEL_THREADS)
    kept_ids = ids[keep]
    is_rep, star, n_groups, n_extra = _rep_collapse(kept_ids, fp)
    pairs, metrics = _pairs_from_keys(
        simhash_block_keys(fp[is_rep], chunks, max_hamming),
        kept_ids[is_rep], max_bucket=max_bucket, fp=fp[is_rep],
        max_hamming=max_hamming)
    metrics.update(identical_fp_groups=n_groups,
                   identical_fp_extra_docs=n_extra)
    pairs.extend((ra, rb, 0) for ra, rb in star)
    return pairs, metrics
