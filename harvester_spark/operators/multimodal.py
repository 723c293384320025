"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The reference harvests images out-of-band (harvester/image_harvest.py:
content-type checks :67-102, md5 dedup cache :196-257); here the whole
multimodal path is in-engine: binary payload + typed metadata struct,
processed by Arrow-batched pandas UDFs over ``mapInPandas``.

Decode support comes in two tiers:

- REAL decoders needing no external libraries: PPM (P6) images via
  numpy, PCM WAV audio via the stdlib ``wave`` module, baseline JPEG
  via the in-engine pure-numpy T.81 codec (operators/jpegcodec.py:
  4:4:4 + 4:2:0, arbitrary DHT, restart markers), and PNG via stdlib
  zlib + all five scanline filters (operators/pngcodec.py) — full
  decode → features → resize/re-encode paths, exercised end-to-end.
- Video via MJPEG-in-AVI (operators/avicodec.py, RIFF demux) AND
  Motion-JPEG-in-MP4 (operators/mp4codec.py, ISO-BMFF demux): container
  walk + per-frame baseline-JPEG decode, all in-engine — real frame
  sampling, video features, frame-wise resize. The declared boundary is
  now CODEC-level, not container-level: H.26x/HEVC-coded MP4 tracks need
  ffmpeg-class entropy decode, so for those payloads ``decode_real``
  raises NotImplementedError by design and ``decode_stub_features``
  provides the deterministic stand-in, keeping the Spark-side plumbing
  (schema, partitioning, UDF signature, Arrow batch shape) real and
  tested either way.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

from harvester_spark import tables

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("mime", StringType()),          # image/png, audio/wav, ...
    StructField("payload", BinaryType()),        # opaque bytes
    StructField("width", IntegerType()),         # typed metadata
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("mime", StringType()),
    StructField("payload_sha256", StringType()),
    StructField("n_bytes", IntegerType()),
    StructField("features", ArrayType(FloatType())),  # fixed-dim embedding
])

FEATURE_DIM = 16


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (h, w, 3) uint8. Pure numpy, no libraries."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts: list[int] = []
    pos = 2
    while len(parts) < 3:
        while payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment line
            pos = payload.index(b"\n", pos) + 1
            continue
        end = pos
        while not payload[end:end + 1].isspace():
            end += 1
        parts.append(int(payload[pos:end]))
        pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                         offset=pos).reshape(h, w, 3)


def encode_wav(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """int16 mono samples → WAV bytes (stdlib wave)."""
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (float64 mono samples in [-1, 1], sample rate)."""
    import io
    import wave
    with wave.open(io.BytesIO(payload), "rb") as wv:
        rate = wv.getframerate()
        n = wv.getnframes()
        raw = np.frombuffer(wv.readframes(n), dtype="<i2")
        if wv.getnchannels() > 1:
            raw = raw.reshape(-1, wv.getnchannels()).mean(axis=1)
    return raw.astype(np.float64) / 32768.0, rate


def box_resize(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy (index gather per axis)."""
    h, w, _ = img.shape
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return img[yi][:, xi]


def make_media_table(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media rows: REAL decodable payloads for the
    library-free formats (P6 PPM images, PCM WAV audio) interleaved with
    opaque compressed-format rows for the stub path."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = i % 4
        if kind == 0:  # real PPM image
            w, h = int(rng.integers(8, 48)), int(rng.integers(8, 48))
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            rows.append((i, "image/x-portable-pixmap",
                         bytearray(encode_ppm(img)), w, h, None))
        elif kind == 2:  # real WAV audio
            dur_ms = int(rng.integers(100, 1000))
            t = np.arange(int(16_000 * dur_ms / 1000))
            freq = float(rng.integers(100, 2000))
            samples = (10_000 * np.sin(2 * np.pi * freq * t / 16_000))
            rows.append((i, "audio/wav",
                         bytearray(encode_wav(samples.astype(np.int16))),
                         None, None, dur_ms))
        elif kind == 1:  # real JPEG (pure-numpy baseline codec)
            from harvester_spark.operators.jpegcodec import encode_jpeg
            w, h = int(rng.integers(8, 48)), int(rng.integers(8, 48))
            base = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
            img = np.repeat(np.repeat(base, (h + 3) // 4, axis=0),
                            (w + 3) // 4, axis=1)[:h, :w]
            rows.append((i, "image/jpeg",
                         bytearray(encode_jpeg(img, quality=85,
                                               subsample=bool(i % 8 == 1))),
                         w, h, None))
        elif i % 16 == 3:  # real PNG (stdlib zlib codec, lossless)
            from harvester_spark.operators.pngcodec import encode_png
            w, h = int(rng.integers(8, 48)), int(rng.integers(8, 48))
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            rows.append((i, "image/png",
                         bytearray(encode_png(img, filter_type=i % 5)),
                         w, h, None))
        elif i % 16 == 7:  # real MJPEG-AVI video (in-engine RIFF demux)
            from harvester_spark.operators.avicodec import encode_avi_mjpeg
            w, h = int(rng.integers(2, 6)) * 8, int(rng.integers(2, 6)) * 8
            n_frames = int(rng.integers(2, 6))
            fps = int(rng.integers(5, 30))
            base = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
            frames = []
            for fi in range(n_frames):
                f = np.repeat(np.repeat(base, h // 4, axis=0),
                              w // 4, axis=1)[:h, :w]
                frames.append(np.clip(f.astype(np.int32) + 7 * fi, 0,
                                      255).astype(np.uint8))
            rows.append((i, "video/x-msvideo",
                         bytearray(encode_avi_mjpeg(frames, fps=fps)),
                         w, h, int(n_frames * 1000 / fps)))
        elif i % 16 == 11:  # real MJPEG-in-MP4 (in-engine ISO-BMFF demux)
            from harvester_spark.operators.mp4codec import encode_mp4_mjpeg
            w, h = int(rng.integers(2, 6)) * 8, int(rng.integers(2, 6)) * 8
            n_frames = int(rng.integers(2, 6))
            fps = int(rng.integers(5, 30))
            base = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
            frames = []
            for fi in range(n_frames):
                f = np.repeat(np.repeat(base, h // 4, axis=0),
                              w // 4, axis=1)[:h, :w]
                frames.append(np.clip(f.astype(np.int32) + 9 * fi, 0,
                                      255).astype(np.uint8))
            rows.append((i, "video/mp4",
                         bytearray(encode_mp4_mjpeg(frames, fps=fps)),
                         w, h, int(n_frames * 1000 / fps)))
        else:  # opaque compressed payload (stub path: H.26x-in-MP4 stays
            # the declared boundary — codec-level now, not container-level)
            payload = rng.bytes(64 + int(rng.integers(0, 256)))
            rows.append((i, "video/mp4", bytearray(payload), None, None,
                         int(rng.integers(100, 10_000))))
    return tables.local_frame(spark, pa.table(
        {name: [r[j] for r in rows]
         for j, name in enumerate(MEDIA_SCHEMA.names)}), MEDIA_SCHEMA)


def _video_features(frames: list[np.ndarray], meta: dict,
                    container: str) -> np.ndarray:
    """Shared video feature vector (AVI and MP4 demux paths):
    [n_frames, w, h, fps, mean/std luminance, mean inter-frame abs diff,
     8-bin brightness histogram, 1 zero]."""
    if not frames:
        # clean per-row error instead of np.stack([]) blowing up the
        # whole Arrow partition on a degenerate-but-parseable container
        raise ValueError(
            f"{container} payload contains no decodable frames")
    if meta.get("width") is None or meta.get("height") is None:
        meta = dict(meta, width=frames[0].shape[1],
                    height=frames[0].shape[0])
    lum = np.stack([f.mean(axis=2) for f in frames])  # (n, h, w)
    diffs = (np.abs(np.diff(lum, axis=0)).mean()
             if len(frames) > 1 else 0.0)
    hist = np.histogram(lum, bins=8, range=(0, 256))[0] / max(1, lum.size)
    out = np.concatenate((
        [len(frames), meta["width"], meta["height"], meta["fps"] or 0,
         lum.mean() / 255.0, lum.std() / 255.0, diffs / 255.0],
        hist, [0.0]))
    return out[:FEATURE_DIM].astype(np.float32)


def decode_real(payload: bytes, mime: str) -> np.ndarray:
    """Real decode → FEATURE_DIM floats for the in-engine codecs.

    Image (PPM via numpy; baseline JPEG via the pure-numpy T.81 codec,
    operators/jpegcodec.py): [w, h, mean/std per RGB channel, 8-bin
    brightness histogram].
    WAV audio: [duration_s, rate/48k, rms, zero-crossing rate, peak,
                8 log-spaced rFFT band energies, 3 zeros]
    Video — MJPEG-AVI (avicodec RIFF demux) and Motion-JPEG MP4
    (mp4codec ISO-BMFF demux), per-frame JPEG decode:
    [n_frames, w, h, fps, mean/std luminance, mean inter-frame abs diff,
     8-bin brightness histogram, 1 zero]
    H.26x/HEVC MP4 tracks require ffmpeg-class entropy decode — the
    declared boundary — and raise NotImplementedError by design."""
    if mime in AVI_MIMES:
        from harvester_spark.operators.avicodec import decode_avi_mjpeg
        frames, meta = decode_avi_mjpeg(payload)
        return _video_features(frames, meta, "AVI")
    if mime in MP4_MIMES:
        from harvester_spark.operators.mp4codec import decode_mp4_jpeg
        # JPEG-coded tracks decode fully in-engine (mp4codec ISO-BMFF
        # demux); H.26x tracks raise NotImplementedError inside — the
        # honest ffmpeg-class boundary, now codec-level not container-level
        frames, meta = decode_mp4_jpeg(payload)
        return _video_features(frames, meta, "MP4")
    if mime in ("image/x-portable-pixmap", "image/ppm", "image/jpeg",
                "image/png"):
        if mime == "image/jpeg":
            from harvester_spark.operators.jpegcodec import decode_jpeg
            img = decode_jpeg(payload)
        elif mime == "image/png":
            from harvester_spark.operators.pngcodec import decode_png
            img = decode_png(payload)
        else:
            img = decode_ppm(payload)
        h, w, _ = img.shape
        f = img.reshape(-1, 3).astype(np.float64)
        hist = np.histogram(f.mean(axis=1), bins=8, range=(0, 256))[0]
        hist = hist / max(1, f.shape[0])
        out = np.concatenate(([w, h], f.mean(axis=0) / 255.0,
                              f.std(axis=0) / 255.0, hist))
        return out[:FEATURE_DIM].astype(np.float32)
    if mime == "audio/wav":
        x, rate = decode_wav(payload)
        n = max(1, x.size)
        rms = float(np.sqrt((x * x).mean())) if x.size else 0.0
        zcr = float((np.diff(np.signbit(x)) != 0).mean()) if x.size > 1 else 0.0
        peak = float(np.abs(x).max()) if x.size else 0.0
        spec = np.abs(np.fft.rfft(x))
        edges = np.unique(np.geomspace(1, max(2, spec.size - 1), 9)
                          .astype(int))
        bands = np.zeros(8)
        for bi in range(min(8, len(edges) - 1)):
            seg = spec[edges[bi]:edges[bi + 1]]
            bands[bi] = float(np.log1p(seg.sum()))
        out = np.concatenate(([n / rate, rate / 48_000.0, rms, zcr, peak],
                              bands, [0.0, 0.0, 0.0]))
        return out[:FEATURE_DIM].astype(np.float32)
    raise NotImplementedError(
        f"decode for {mime!r} needs media libraries not available in this "
        "environment (H.26x/HEVC video, non-PCM audio); swap in "
        "Pillow/librosa/ffmpeg here on a real cluster")


def decode_stub_features(payload: bytes, mime: str) -> np.ndarray:
    """Deterministic fake feature vector: FEATURE_DIM floats derived from
    the sha256 of the payload — a stand-in with the same shape/dtype a real
    encoder would produce."""
    h = hashlib.sha256(payload).digest()
    raw = np.frombuffer((h * ((FEATURE_DIM * 4) // len(h) + 1))[:FEATURE_DIM * 4],
                        dtype=np.uint32).astype(np.float64)
    return ((raw % 10_000) / 10_000.0).astype(np.float32)


AVI_MIMES = ("video/x-msvideo", "video/avi")
MP4_MIMES = ("video/mp4", "video/quicktime")
REAL_DECODE_MIMES = {"image/x-portable-pixmap", "image/ppm", "audio/wav",
                     "image/jpeg", "image/png", *AVI_MIMES, *MP4_MIMES}


def _mime_decodes_real(payload: bytes, mime: str) -> bool:
    """Dispatch for ``use_stub="auto"``: can this row REALLY decode
    in-engine? For MP4 the answer is per-PAYLOAD, not per-mime — only
    JPEG-coded tracks decode (is_jpeg_coded_mp4 is a cheap table probe);
    H.26x/garbage payloads under video/mp4 stay on the stub path."""
    if mime in MP4_MIMES:
        from harvester_spark.operators.mp4codec import is_jpeg_coded_mp4
        return is_jpeg_coded_mp4(payload)
    return mime in REAL_DECODE_MIMES


def extract_features(media: DataFrame, *,
                     use_stub: bool | str = "auto") -> DataFrame:
    """media table → per-item feature rows, Arrow-batched.

    ``use_stub``: True = stub everywhere; False = decode_real everywhere
    (raises for compressed mimes); "auto" (default) = real decode for the
    library-free formats, stub for the rest. The UDF processes whole Arrow
    batches; per-item work is the decode kernel itself (unavoidably
    per-payload — codecs are not columnar)."""
    def kernel(p: bytes, m: str) -> np.ndarray:
        if use_stub is True:
            return decode_stub_features(p, m)
        if use_stub == "auto" and not _mime_decodes_real(p, m):
            return decode_stub_features(p, m)
        return decode_real(p, m)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [bytes(p) for p in pdf["payload"]]
            feats = [kernel(p, m) for p, m in zip(payloads, pdf["mime"])]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "mime": pdf["mime"],
                "payload_sha256": [hashlib.sha256(p).hexdigest()
                                   for p in payloads],
                "n_bytes": [len(p) for p in payloads],
                "features": feats,
            })

    return media.select("media_id", "mime", "payload").mapInPandas(
        run, FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int,
                  *, use_stub: bool | str = "auto") -> DataFrame:
    """Image resize: filters to image/*, maps payload→payload.

    PPM/JPEG/PNG payloads get a REAL decode → nearest-neighbor resize →
    re-encode (pure numpy; JPEG via the in-engine T.81 codec); MJPEG-AVI
    and Motion-JPEG-MP4 video are resized frame-by-frame and
    re-containerized; remaining compressed formats (H.26x MP4) keep the
    stub identity payload with updated metadata (real kernel =
    Pillow/ffmpeg drop-in). Binary-in/binary-out UDF shape either way."""
    imgs = media.filter(F.col("mime").startswith("image/")
                        | F.col("mime").isin(*AVI_MIMES, *MP4_MIMES))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from harvester_spark.operators.jpegcodec import (decode_jpeg,
                                                         encode_jpeg)
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf.copy()
            if use_stub is not True:
                payloads = []
                from harvester_spark.operators.avicodec import (
                    decode_avi_mjpeg, encode_avi_mjpeg)
                from harvester_spark.operators.mp4codec import (
                    decode_mp4_jpeg, encode_mp4_mjpeg, is_jpeg_coded_mp4)
                from harvester_spark.operators.pngcodec import (
                    decode_png, encode_png)
                for p, m in zip(out["payload"], out["mime"]):
                    if m in AVI_MIMES:
                        frames, meta = decode_avi_mjpeg(bytes(p))
                        if not frames:
                            # same degenerate-container guard as
                            # decode_real: a parseable AVI with zero
                            # decodable frames must fail with a clear
                            # per-row error, not encode_avi_mjpeg's
                            # 'need at least one frame' killing the batch
                            raise ValueError(
                                "AVI payload contains no decodable frames")
                        payloads.append(bytearray(encode_avi_mjpeg(
                            [box_resize(f, width, height) for f in frames],
                            fps=meta["fps"] or 25)))
                    elif m in MP4_MIMES and is_jpeg_coded_mp4(bytes(p)):
                        frames, meta = decode_mp4_jpeg(bytes(p))
                        if not frames:
                            raise ValueError(
                                "MP4 payload contains no decodable frames")
                        payloads.append(bytearray(encode_mp4_mjpeg(
                            [box_resize(f, width, height) for f in frames],
                            fps=meta["fps"] or 25)))
                    elif m == "image/jpeg":
                        payloads.append(bytearray(encode_jpeg(
                            box_resize(decode_jpeg(bytes(p)), width,
                                       height))))
                    elif m == "image/png":
                        payloads.append(bytearray(encode_png(
                            box_resize(decode_png(bytes(p)), width,
                                       height))))
                    elif m in ("image/x-portable-pixmap", "image/ppm"):
                        payloads.append(bytearray(encode_ppm(
                            box_resize(decode_ppm(bytes(p)), width, height))))
                    elif use_stub == "auto":
                        payloads.append(p)  # no in-engine codec: identity
                    else:
                        decode_real(bytes(p), m)  # raises: no codec libs
                out["payload"] = payloads
            out["width"] = np.int32(width)
            out["height"] = np.int32(height)
            yield out

    return imgs.mapInPandas(run, MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  *, use_stub: bool | str = "auto") -> DataFrame:
    """Video frame-sampling: one output row per sampled frame.

    MJPEG-AVI and Motion-JPEG-MP4 rows get REAL sampling (container
    demux + one JPEG decode per sampled timestamp; ``frame_sha256`` is
    the sha of the decoded RGB bytes); other video payloads (H.26x MP4)
    keep the deterministic stub row-explode shape a real ffmpeg kernel
    would produce. ``use_stub``: True = stub everywhere, False = real
    everywhere (raises for payloads with no in-engine codec), "auto" =
    real where a decoder exists."""
    vids = media.filter(F.col("mime").startswith("video/"))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("frame_sha256", StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from harvester_spark.operators.avicodec import (decode_avi_frames,
                                                        probe_avi)
        from harvester_spark.operators.mp4codec import (JPEG_CODEC_NAMES,
                                                        decode_mp4_frames,
                                                        probe_mp4)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                frames_fn = meta = None
                # stub mode never parses; real MP4 dispatch reuses ONE
                # probe for both the codec gate and the metadata (the
                # sample tables are parsed once, not three times)
                if use_stub is not True:
                    if r.mime in AVI_MIMES:
                        frames_fn = decode_avi_frames
                        meta = probe_avi(payload)
                    elif r.mime in MP4_MIMES:
                        try:
                            m0 = probe_mp4(payload)
                            if m0.get("codec") in JPEG_CODEC_NAMES:
                                frames_fn, meta = decode_mp4_frames, m0
                        except ValueError:
                            pass  # garbage/H.26x container: stub path
                if use_stub is False and frames_fn is None:
                    # no decoder for this video payload: honest failure
                    # (mirrors decode_real's declared-stub contract)
                    decode_real(payload, r.mime)
                real = frames_fn is not None
                n_frames = 0
                if real:
                    n_frames = meta["n_frames"]
                    if not n_frames:
                        # a REAL container with zero frames must not
                        # silently fall through to fabricated stub shas
                        # (r4 ADVICE)
                        raise ValueError(
                            "video payload contains no frames to sample")
                if real and n_frames:
                    fps = meta["fps"] or 25
                    dur_ms = int(n_frames * 1000 / fps)
                    n_samp = max(1, dur_ms // every_ms)
                    srcs = [min(int(fi * every_ms * fps / 1000),
                                n_frames - 1) for fi in range(n_samp)]
                    # decode ONLY the sampled frames — the JPEG entropy
                    # decode dominates; a 25 fps clip sampled at 1 Hz
                    # would otherwise decode 25x more than needed
                    decoded = frames_fn(payload, sorted(set(srcs)))
                    for fi, src in enumerate(srcs):
                        sha = hashlib.sha256(
                            decoded[src].tobytes()).hexdigest()
                        rows.append((int(r.media_id), fi, fi * every_ms,
                                     sha))
                else:
                    n_frames = max(1, int((r.duration_ms or 0) // every_ms))
                    for fi in range(n_frames):
                        fake = hashlib.sha256(
                            bytes(r.payload)
                            + fi.to_bytes(4, "big")).hexdigest()
                        rows.append((int(r.media_id), fi, fi * every_ms,
                                     fake))
            if rows:
                yield pd.DataFrame(rows, columns=["media_id", "frame_idx",
                                                  "ts_ms", "frame_sha256"])

    return vids.mapInPandas(run, schema)
