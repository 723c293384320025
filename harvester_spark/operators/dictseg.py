"""Prefix-compressed dictionary segment: the one term-lookup tier of an
opened index.

The reference serves term stats from Solr's in-memory term dictionary (its
queries hit a long-lived Solr searcher). Every index directory here carries
the dictionary as a SORTED, front-coded segment (the Lucene terms-dict
shape, public knowledge), and ``IndexHandle.lookup`` serves df, idf and the
term's score upper bound from it by binary search over block leaders + a
one-block linear decode. No hash map of the vocabulary is ever collected,
so driver memory does not grow with the vocabulary.

Layout (``manifest.json`` + one or more part files)::

    part-N.seg = [blocks][footer index][footer_offset u64][magic]
    block (default 128 terms): per term ``varint(shared_prefix_len),
      varint(suffix_len), suffix_utf8, varint(df), f64 idf, f64 max_tfnorm``
      (NaN when the writer was given no max_tfnorm)
    footer: per block ``varint(leader_len), leader_utf8, u64 offset,
      varint(n_entries)``

One writer entry point, one size switch: :func:`write_index_segment` reads
the committed ``dictionary`` and ``term_ub`` stages of an index directory,
counts terms from the parquet footers, and then

- at ≤ :data:`DRIVER_MAX_TERMS` terms encodes a single part on the driver
  from pyarrow reads, with zero Spark jobs;
- above it runs :func:`write_dict_segment_spark`, which range-partitions on
  term so each task front-codes its range into its own part file while the
  driver writes only the manifest. The driver encoder runs ~300k terms/s,
  a 53-minute serial stage at 10^9 terms; the distributed writer is one
  range shuffle + parallel encode. Tasks write to the index directory,
  which at cluster scale must be a shared filesystem (the same assumption
  every stage's parquet commit already makes).

:func:`write_dict_segment` is the encoder both paths share, usable on its
own for rows already sorted by term.

Lookup: bisect over part first-terms, bisect over that part's block
leaders, decode ≤ block_size entries — microseconds, no Spark job. Driver
memory is leaders only (1/128th of terms; 10^7 → ~78k leaders). The reader
mmaps local files, so the driver must see the index directory as a local
(or POSIX shared) filesystem.

All term comparisons happen on UTF-8 bytes: Spark's string ordering is
byte-wise UTF-8 (UTF8String.compareTo), which matches code-point order, so
segments written from Spark-sorted input binary-search correctly.
"""

from __future__ import annotations

import json
import mmap
import struct
from bisect import bisect_right
from collections import OrderedDict
from pathlib import Path
from typing import Iterable, Iterator

MAGIC = b"HSDSEG1\n"
# the tables module's marker, imported (not re-declared) so stage-resume
# treats the segment like any other stage output even if the name changes
from harvester_spark.tables import (SUCCESS_MARKER, num_rows,  # noqa: E402
                                    read_arrow, read_table)

MANIFEST = "manifest.json"


def _write_varint(buf: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(mv, pos: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        b = mv[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not (b & 0x80):
            return out, pos
        shift += 7


def _common_prefix_len(a: bytes, b: bytes) -> int:
    n = min(len(a), len(b))
    i = 0
    while i < n and a[i] == b[i]:
        i += 1
    return i


class _PartEncoder:
    """Streams sorted (term, df, idf, max_tfnorm) into one part file."""

    def __init__(self, block_size: int = 128):
        self.block_size = block_size
        self.leaders: list[tuple[bytes, int, int]] = []
        self.blocks = bytearray()
        self.cur = bytearray()
        self.cur_n = 0
        self.cur_leader = b""
        self.prev = b""
        self.last_seen: bytes | None = None
        self.first_term: bytes | None = None
        self.n_terms = 0

    def _flush_block(self) -> None:
        if self.cur_n:
            self.leaders.append((self.cur_leader, len(self.blocks),
                                 self.cur_n))
            self.blocks.extend(self.cur)
            self.cur = bytearray()
            self.cur_n = 0

    def add(self, term: str, df: int, idf: float,
            max_tfnorm: float | None) -> None:
        tb = term.encode("utf-8")
        if self.last_seen is not None and tb <= self.last_seen:
            raise ValueError(f"terms not strictly sorted: "
                             f"{self.last_seen!r} then {tb!r}")
        self.last_seen = tb
        if self.first_term is None:
            self.first_term = tb
        if self.cur_n == 0:
            self.cur_leader = tb
            self.prev = b""
        pfx = _common_prefix_len(self.prev, tb)
        _write_varint(self.cur, pfx)
        _write_varint(self.cur, len(tb) - pfx)
        self.cur += tb[pfx:]
        _write_varint(self.cur, int(df))
        self.cur += struct.pack(
            "<dd", float(idf),
            float("nan") if max_tfnorm is None else float(max_tfnorm))
        self.prev = tb
        self.cur_n += 1
        self.n_terms += 1
        if self.cur_n >= self.block_size:
            self._flush_block()

    def write(self, path: Path) -> dict:
        """Atomic write (tmp + rename); returns the manifest entry.

        The tmp name is attempt-unique: a speculative or retried Spark
        task racing the original must not interleave writes into one tmp
        file. Both attempts encode identical deterministic content, so
        whichever rename lands last is byte-identical — the race is
        harmless once the tmp files are distinct."""
        import uuid

        self._flush_block()
        footer = bytearray()
        for leader, off, n in self.leaders:
            _write_varint(footer, len(leader))
            footer += leader
            footer += struct.pack("<Q", off)
            _write_varint(footer, n)
        tmp = path.with_suffix(f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(bytes(self.blocks))
            footer_off = f.tell()
            f.write(bytes(footer))
            f.write(struct.pack("<Q", footer_off))
            f.write(MAGIC)
        tmp.rename(path)
        return {"file": path.name,
                "first_term": (self.first_term or b"").decode("utf-8"),
                "last_term": (self.last_seen or b"").decode("utf-8"),
                "n_terms": self.n_terms,
                "n_blocks": len(self.leaders),
                "bytes": path.stat().st_size}


def _stage_tmp(out: Path) -> Path:
    """Staging dir for the atomic dir swap (``tables.stage_tmp_dir``):
    everything (parts AND manifest) is built here, then swapped over
    ``out`` in one rename. Writing parts straight into a previously-
    committed ``out`` would leave NEW part files under the OLD manifest +
    success marker after a mid-write crash, and the resumed build would
    silently serve mismatched lookups."""
    from harvester_spark.tables import stage_tmp_dir

    return stage_tmp_dir(out)


def _commit(out: Path, tmp: Path, parts: list[dict],
            block_size: int) -> dict:
    """Validate part ordering, write manifest into ``tmp``, swap dirs,
    touch the success marker."""
    from harvester_spark.tables import replace_dir

    parts = [p for p in parts if p["n_terms"]]
    parts.sort(key=lambda p: p["first_term"])
    for a, b in zip(parts, parts[1:]):
        if not a["last_term"] < b["first_term"]:
            raise ValueError(f"part ranges overlap: {a['file']} "
                             f"[..{a['last_term']!r}] vs {b['file']} "
                             f"[{b['first_term']!r}..]")
    n_terms = sum(p["n_terms"] for p in parts)
    (tmp / MANIFEST).write_text(json.dumps(
        {"block_size": block_size, "n_terms": n_terms, "parts": parts}))
    replace_dir(tmp, out)
    (out / SUCCESS_MARKER).touch()
    return {"n_terms": n_terms,
            "n_blocks": sum(p["n_blocks"] for p in parts),
            "n_parts": len(parts),
            "bytes": sum(p["bytes"] for p in parts)}


def write_dict_segment(rows: Iterable, out_dir: str | Path, *,
                       block_size: int = 128) -> dict:
    """Driver-streamed single-part segment from sorted rows.

    ``rows``: iterable of Row-likes with term/df/idf/max_tfnorm fields or
    plain tuples. Terms MUST arrive sorted ascending (enforced — a
    mis-sorted segment binary-searches wrong silently)."""
    out = Path(out_dir)
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = _stage_tmp(out)
    enc = _PartEncoder(block_size)
    for r in rows:
        # field access FIRST: pyspark Row is a tuple subclass, so an
        # isinstance(tuple) check would unpack Rows positionally and a Row
        # with fields ordered other than (term, df, idf, max_tfnorm) would
        # silently write wrong df/idf values (r4 ADVICE)
        fields = getattr(r, "__fields__", None)
        if fields is not None:
            term, df, idf = r["term"], r["df"], r["idf"]
            mt = r["max_tfnorm"] if "max_tfnorm" in fields else None
        elif isinstance(r, dict):
            term, df, idf = r["term"], r["df"], r["idf"]
            mt = r.get("max_tfnorm")
        else:
            term, df, idf, mt = r
        enc.add(term, df, idf, mt)
    return _commit(out, tmp, [enc.write(tmp / "part-00000.seg")],
                   block_size)


# Dictionaries up to this many terms are encoded on the driver. Measured
# crossover: the driver encode runs ~300k terms/s (≈0.8 s at the cap)
# while the distributed writer's FIXED cost (range sampling, shuffle,
# python-worker spawn) is 1-2 s at any core count.
DRIVER_MAX_TERMS = 262_144


def write_index_segment(spark, index_dir: str | Path, out_dir: str | Path,
                        *, block_size: int = 128) -> dict:
    """Write the segment of an index directory from its committed
    ``dictionary`` and ``term_ub`` stages — the one segment writer every
    build calls.

    The term count comes from the dictionary's parquet footers (no job);
    at most :data:`DRIVER_MAX_TERMS` terms go through the driver encode,
    more through :func:`write_dict_segment_spark`. Returns the commit info
    plus ``writer`` (``"driver"`` or ``"distributed"``). Raises
    ``FileNotFoundError`` naming the stage when an input stage is absent."""
    import pandas as pd

    index_dir = Path(index_dir)
    for stage in ("dictionary", "term_ub"):
        if not (index_dir / stage).is_dir():
            raise FileNotFoundError(
                f"cannot write the dictionary segment: stage {stage!r} is "
                f"missing under {index_dir}")
    n_terms = num_rows(index_dir / "dictionary")
    if n_terms <= DRIVER_MAX_TERMS:
        dt = read_arrow(index_dir / "dictionary",
                        columns=["term", "df", "idf"]).to_pandas()
        ub = read_arrow(index_dir / "term_ub",
                        columns=["term", "max_tfnorm"]).to_pandas()
        dt = (dt.merge(ub, on="term", how="left")
              .sort_values("term", kind="mergesort"))  # == UTF-8 byte order
        rows = ((t, int(df_), float(idf), None if pd.isna(mt) else float(mt))
                for t, df_, idf, mt in zip(dt["term"], dt["df"], dt["idf"],
                                           dt["max_tfnorm"]))
        info = write_dict_segment(rows, out_dir, block_size=block_size)
        return {**info, "writer": "driver"}
    dic = read_table(spark, index_dir / "dictionary")
    ub = read_table(spark, index_dir / "term_ub").select("term", "max_tfnorm")
    info = write_dict_segment_spark(
        dic.join(ub, "term", "left").select("term", "df", "idf",
                                            "max_tfnorm"),
        out_dir, block_size=block_size, n_terms=n_terms)
    return {**info, "writer": "distributed"}


def write_dict_segment_spark(df, out_dir: str | Path, *,
                             block_size: int = 128,
                             terms_per_part: int = 65_536,
                             n_terms: int | None = None) -> dict:
    """Distributed writer: each task encodes one term range into its own
    part file (shared filesystem, like every other stage commit); the
    driver only validates ranges and writes the manifest.

    ``df``: DataFrame with term/df/idf/max_tfnorm columns (max_tfnorm
    optional). One narrow range-shuffle; encode is per-task CPU.
    ``n_terms``: the term count when the caller has it cheaply (a
    parquet-footer count of the one-row-per-term table); it only sizes the
    parts, and a ``count()`` job supplies it otherwise."""
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    out = Path(out_dir)
    out.parent.mkdir(parents=True, exist_ok=True)
    cols = df.columns
    if "max_tfnorm" not in cols:
        df = df.withColumn("max_tfnorm", F.lit(None).cast("double"))
    if n_terms is None:
        n_terms = df.count()
    tmp = _stage_tmp(out)
    n_parts = max(1, min(1024,
                         (n_terms + terms_per_part - 1)
                         // terms_per_part))
    src = (df.select("term", "df", "idf", "max_tfnorm")
           .repartitionByRange(n_parts, "term")
           .sortWithinPartitions("term"))
    out_str = str(tmp)  # tasks write into the staging dir, never `out`

    man_schema = ("file string, first_term string, last_term string, "
                  "n_terms long, n_blocks long, bytes long")

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        enc = _PartEncoder(block_size)
        for pdf in batches:
            mts = pdf["max_tfnorm"]
            for term, dfv, idf, mt in zip(pdf["term"], pdf["df"],
                                          pdf["idf"], mts):
                enc.add(term, int(dfv), float(idf),
                        None if pd.isna(mt) else float(mt))
        if not enc.n_terms:
            return
        entry = enc.write(Path(out_str) / f"part-{pid:05d}.seg")
        yield pd.DataFrame([entry])

    parts = [r.asDict() for r in
             src.mapInPandas(write_part, man_schema).collect()]
    return _commit(out, tmp, parts, block_size)


def is_committed(seg_dir: str | Path) -> bool:
    d = Path(seg_dir)
    return (d / SUCCESS_MARKER).exists() and (d / MANIFEST).exists()


class _Part:
    """mmap-backed reader for one part file."""

    def __init__(self, path: Path):
        self._f = open(path, "rb")
        self._mm = mmap.mmap(self._f.fileno(), 0, access=mmap.ACCESS_READ)
        self._touch: dict[int, int] = {}  # block -> cold-probe count
        mv = self._mm
        if mv[-len(MAGIC):] != MAGIC:
            raise ValueError(f"not a dict segment part: {path}")
        (footer_off,) = struct.unpack_from("<Q", mv, len(mv) - len(MAGIC) - 8)
        pos = footer_off
        end = len(mv) - len(MAGIC) - 8
        self.leaders: list[bytes] = []
        self.offsets: list[int] = []
        self.counts: list[int] = []
        while pos < end:
            ln, pos = _read_varint(mv, pos)
            self.leaders.append(bytes(mv[pos:pos + ln]))
            pos += ln
            (off,) = struct.unpack_from("<Q", mv, pos)
            pos += 8
            n, pos = _read_varint(mv, pos)
            self.offsets.append(off)
            self.counts.append(n)

    def close(self) -> None:
        self._mm.close()
        self._f.close()

    def block(self, bi: int) -> Iterator[tuple[bytes, int, float, float]]:
        mv = self._mm
        pos = self.offsets[bi]
        prev = b""
        for _ in range(self.counts[bi]):
            pfx, pos = _read_varint(mv, pos)
            sln, pos = _read_varint(mv, pos)
            term = prev[:pfx] + bytes(mv[pos:pos + sln])
            pos += sln
            df, pos = _read_varint(mv, pos)
            idf, mt = struct.unpack_from("<dd", mv, pos)
            pos += 16
            prev = term
            yield term, df, idf, mt

    def scan_block(self, bi: int, tb: bytes) -> dict | None:
        """Find ``tb`` in one front-coded block WITHOUT reconstructing any
        term (the classic LCP-tracking scan over a front-coded run).

        Invariant while scanning sorted entries: ``m`` = lcp(tb, previous
        term), and every previous term < tb. For an entry whose stored
        prefix length is ``p``:

        - p > m: the entry agrees with prev beyond where tb diverged, so
          entry[m] == prev[m] < tb[m] ⇒ entry < tb ⇒ skip (m unchanged).
        - p < m: entry diverges from prev before tb does, and sortedness
          gives entry[p] > prev[p] == tb[p] ⇒ entry > tb ⇒ NOT FOUND.
        - p == m: compare the stored suffix byte-wise against tb[m:] in
          the mmap — equal ⇒ found; suffix exhausted first ⇒ entry is a
          proper prefix of tb ⇒ skip with m += lcp; otherwise the first
          differing byte decides.

        A cold probe therefore costs three varints + O(lcp) byte compares
        per entry and ZERO bytes-object allocations — measured 266 →
        ~70 µs/lookup at 10^7 terms vs the full block decode (numbers in
        BENCH.md). Only an exact hit pays the struct.unpack of its two
        floats."""
        mv = self._mm
        pos = self.offsets[bi]
        m = 0
        ltb = len(tb)
        for _ in range(self.counts[bi]):
            pfx, pos = _read_varint(mv, pos)
            sln, pos = _read_varint(mv, pos)
            spos = pos
            pos += sln
            df, pos = _read_varint(mv, pos)
            vpos = pos
            pos += 16
            if pfx > m:
                continue  # entry < tb, diverging at m: keep scanning
            if pfx < m:
                return None  # entry > tb: sorted run passed the target
            # pfx == m: byte-compare suffix vs tb[m:]
            j = 0
            rem = ltb - m
            lim = sln if sln < rem else rem
            while j < lim and mv[spos + j] == tb[m + j]:
                j += 1
            if j == sln and sln == rem:
                idf, mt = struct.unpack_from("<dd", mv, vpos)
                return {"df": df, "idf": idf,
                        "max_tfnorm": None if mt != mt else mt}
            if j == sln:          # entry is a proper prefix of tb: skip
                m += sln
                continue
            if j == rem or mv[spos + j] > tb[m + j]:
                return None       # entry > tb
            m += j                # entry < tb; tb now shares m+j with it
        return None

    def get(self, tb: bytes, cache: OrderedDict, cache_key: int
            ) -> dict | None:
        bi = bisect_right(self.leaders, tb) - 1
        if bi < 0:
            return None
        # decoded-block LRU (shared across parts, owned by the
        # DictSegment): serving workloads repeat hot terms, and a cached
        # block turns the per-entry varint loop into one list scan. Keyed
        # by the caller's STABLE part index (id(self) would alias across
        # close()/reopen when CPython reuses a freed object address).
        # OrderedDict move_to_end = true LRU.
        key = (cache_key, bi)
        ents = cache.get(key)
        if ents is not None:
            cache.move_to_end(key)
            return _find_entry(ents, tb)
        # cold probe: the allocation-free scan serves it ~4× faster than a
        # full decode; a block decodes into the LRU only once it proves HOT
        # (second touch) so one-shot probes over a huge vocabulary never
        # pay decode or evict real hot blocks
        touched = self._touch.get(bi, 0) + 1
        if touched < 2:
            self._touch[bi] = touched
            return self.scan_block(bi, tb)
        self._touch.pop(bi, None)
        ents = list(self.block(bi))
        cache[key] = ents
        while len(cache) > _BLOCK_CACHE_MAX:
            cache.popitem(last=False)
        return _find_entry(ents, tb)


def _find_entry(entries, tb: bytes) -> dict | None:
    """Linear probe over decoded (term, df, idf, mt) entries."""
    for t, df, idf, mt in entries:
        if t == tb:
            return {"df": df, "idf": idf,
                    "max_tfnorm": None if mt != mt else mt}
        if t > tb:
            return None
    return None


# decoded blocks held by a DictSegment's LRU: 4096 blocks × block_size
# entries ≈ 0.5M hot terms resident, a few tens of MB — sized for a
# serving node's hot vocabulary
_BLOCK_CACHE_MAX = 4096


class DictSegment:
    """Multi-part reader: bisect part first-terms, then the part's block
    leaders, then one linear block decode (hot blocks LRU-cached)."""

    def __init__(self, seg_dir: str | Path):
        d = Path(seg_dir)
        man = json.loads((d / MANIFEST).read_text())
        self.n_terms = man["n_terms"]
        self._block_cache: OrderedDict = OrderedDict()
        entries = man["parts"]
        self._dir = d
        self._files = [p["file"] for p in entries]
        self._firsts = [p["first_term"].encode("utf-8") for p in entries]
        # parts open LAZILY: at 10^9 terms / 1024 parts, eagerly loading
        # every part's leader list is ~200 MB of driver memory for parts a
        # query stream may never touch; lazy opening keeps the resident
        # set at manifest + touched parts
        self._parts: list[_Part | None] = [None] * len(entries)

    def _part(self, pi: int) -> _Part:
        p = self._parts[pi]
        if p is None:
            p = _Part(self._dir / self._files[pi])
            self._parts[pi] = p
        return p

    def close(self) -> None:
        for p in self._parts:
            if p is not None:
                p.close()
        self._parts = [None] * len(self._files)
        self._block_cache.clear()  # decoded blocks die with their parts

    def get(self, term: str) -> dict | None:
        """{df, idf, max_tfnorm} or None — two bisects + one block."""
        if not self._files:
            return None
        tb = term.encode("utf-8")
        pi = bisect_right(self._firsts, tb) - 1
        if pi < 0:
            return None
        return self._part(pi).get(tb, cache=self._block_cache, cache_key=pi)

    def lookup(self, terms: list[str]) -> dict[str, dict]:
        """Same contract as ``IndexHandle.lookup``: present terms only."""
        out = {}
        for t in terms:
            info = self.get(t)
            if info is not None:
                out[t] = info
        return out
