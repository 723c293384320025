import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from harvester_spark.operators.codec import (decode_blocks, decode_doc_ids,
                                             encode_doc_ids, varint_decode,
                                             varint_encode, varint_sizes)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**35, 2**63 - 1], dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_sizes_match_stream():
    vals = np.array([0, 127, 128, 16383, 16384], dtype=np.uint64)
    assert varint_sizes(vals).sum() == len(varint_encode(vals))
    assert list(varint_sizes(vals)) == [1, 1, 2, 2, 3]


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


@settings(max_examples=50, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=300))
def test_docid_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    first, gaps = encode_doc_ids(arr)
    out = decode_doc_ids(first, gaps, len(arr))
    assert (out == arr).all()


def _random_blocks(rng, n_blocks):
    """Encoded posting blocks of 1..128 postings (first, last and full
    sizes always present), with gaps up to 2^40 and tf/dl up to 2^31."""
    sizes = [1, 128] + list(rng.integers(1, 129, max(n_blocks - 2, 0)))
    rows = []
    for n in sizes[:n_blocks]:
        gaps = rng.integers(1, 1 << int(rng.choice([3, 20, 40])), n - 1)
        ids = int(rng.integers(0, 1 << 36)) + np.concatenate(
            ([0], np.cumsum(gaps))).astype(np.int64)
        tf, dl = (rng.integers(1, 1 << int(rng.choice([4, 31])), n)
                  for _ in range(2))
        first, deltas = encode_doc_ids(ids)
        rows.append((first, n, deltas, varint_encode(tf), varint_encode(dl)))
    return rows


def _reference_decode(rows):
    """The per-block decode the batched decoder replaces."""
    if not rows:
        return (np.empty(0, np.int64),) * 3
    ids = [decode_doc_ids(f, d, n) for f, n, d, _, _ in rows]
    tf = [varint_decode(t).astype(np.int64) for *_, t, _ in rows]
    dl = [varint_decode(x).astype(np.int64) for *_, x in rows]
    return tuple(np.concatenate(a) for a in (ids, tf, dl))


@pytest.mark.parametrize("n_blocks", [0, 1, 2, 40])
def test_decode_blocks_matches_per_block_decode(n_blocks):
    """decode_blocks over whole columns equals the per-block decoders, for
    Python byte cells, Arrow binary columns (chunked or not) and an Arrow
    slice whose offsets do not start at 0; multi-byte varints included
    (gaps ≥ 2^35, tf/dl ≥ 2^28)."""
    import pyarrow as pa

    rng = np.random.default_rng(n_blocks)
    pad = _random_blocks(rng, 3)
    rows = _random_blocks(rng, n_blocks)
    want = _reference_decode(rows)
    if n_blocks == 40:
        assert want[0].size > 128 and np.diff(want[0]).max() >= 1 << 35
        assert want[1].max() >= 1 << 28 and want[2].max() >= 1 << 28
    firsts, counts, *cells = (list(c) for c in zip(*rows)) \
        if rows else ([], [], [], [], [])
    pad_cells = [[r[i] for r in pad] for i in (2, 3, 4)]
    forms = {
        "bytes": cells,
        "arrow": [pa.array(c, pa.binary()) for c in cells],
        "chunked": [pa.chunked_array([pa.array(c[:1], pa.binary()),
                                      pa.array(c[1:], pa.binary())])
                    for c in cells],
        # the same cells behind three padding cells
        "sliced": [pa.array(p + c, pa.binary()).slice(len(pad))
                   for p, c in zip(pad_cells, cells)],
    }
    assert all(c.offset == len(pad) for c in forms["sliced"])
    for name, cols in forms.items():
        got = decode_blocks(np.array(firsts, np.int64),
                            np.array(counts, np.int64), *cols)
        for g, w in zip(got, want):
            assert g.dtype == np.int64, name
            np.testing.assert_array_equal(g, w, err_msg=name)


def test_jpeg_bit_accumulators_stay_small():
    """Regression: _BitWriter/_BitReader acc must be masked to live bits —
    an unmasked acc grows into an O(stream) bigint and makes encode/decode
    quadratic in scan size (r3 ADVICE: 256px decode took 50s)."""
    from harvester_spark.operators.jpegcodec import _BitReader, _BitWriter

    w = _BitWriter()
    for i in range(5000):
        w.write(i & 0x3F, 7)
    assert w.acc < (1 << 8), "writer acc not truncated at byte boundaries"
    data = w.flush()

    r = _BitReader(b"\x5a" * 4096, 0)
    for _ in range(4096 * 8 - 8):
        r.read_bit()
    assert r.acc < (1 << 16), "reader acc not truncated after refill"
    assert len(data) > 4000


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=5),
       st.integers(min_value=1, max_value=60))
def test_avi_roundtrip_property(wcells, hcells, n_frames, fps):
    """Random geometry/fps/frame-count MJPEG-AVIs demux back to the same
    frame count, dims, and near-identical pixels (8x8-aligned content)."""
    from harvester_spark.operators.avicodec import (decode_avi_mjpeg,
                                                    encode_avi_mjpeg,
                                                    probe_avi)

    rng = np.random.default_rng(wcells * 100 + hcells * 10 + n_frames)
    base = rng.integers(0, 256, (hcells, wcells, 3), dtype=np.uint8)
    frames = [np.repeat(np.repeat(
        np.clip(base.astype(np.int32) + 5 * i, 0, 255).astype(np.uint8),
        8, axis=0), 8, axis=1) for i in range(n_frames)]
    avi = encode_avi_mjpeg(frames, fps=fps)
    meta = probe_avi(avi)
    assert meta["n_frames"] == n_frames
    assert (meta["width"], meta["height"]) == (wcells * 8, hcells * 8)
    out, _ = decode_avi_mjpeg(avi)
    assert len(out) == n_frames
    for a, b in zip(frames, out):
        assert a.shape == b.shape
        assert np.abs(a.astype(int) - b.astype(int)).mean() < 3.0


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=5),
       st.integers(min_value=1, max_value=60))
def test_mp4_roundtrip_property(wcells, hcells, n_frames, fps):
    """Random geometry/fps/frame-count Motion-JPEG MP4s demux back to the
    same frame count, dims, fps, and near-identical pixels — the ISO-BMFF
    mirror of the AVI geometry property above."""
    from harvester_spark.operators.mp4codec import (decode_mp4_jpeg,
                                                    encode_mp4_mjpeg,
                                                    is_jpeg_coded_mp4,
                                                    probe_mp4)

    rng = np.random.default_rng(wcells * 100 + hcells * 10 + n_frames)
    base = rng.integers(0, 256, (hcells, wcells, 3), dtype=np.uint8)
    frames = [np.repeat(np.repeat(
        np.clip(base.astype(np.int32) + 5 * i, 0, 255).astype(np.uint8),
        8, axis=0), 8, axis=1) for i in range(n_frames)]
    mp4 = encode_mp4_mjpeg(frames, fps=fps)
    assert is_jpeg_coded_mp4(mp4)
    meta = probe_mp4(mp4)
    assert meta["n_frames"] == n_frames
    assert (meta["width"], meta["height"]) == (wcells * 8, hcells * 8)
    assert meta["fps"] == fps  # timescale=fps, delta=1: exact
    out, _ = decode_mp4_jpeg(mp4)
    assert len(out) == n_frames
    for a, b in zip(frames, out):
        assert a.shape == b.shape
        assert np.abs(a.astype(int) - b.astype(int)).mean() < 3.0
