"""Seeded, vectorized inputs for the engine benchmark.

Everything here is numpy/pyarrow over whole arrays, with no per-document
Python loop: about 40k documents of ~160 tokens per second on one core of
a 4-core VM. The module deliberately does not import ``harvester_spark``:
a change to the engine (or to its test fixtures) must not move the
benchmark's inputs.

Text shape follows the engine's code-corpus design input
``(repo, path, commit, lang, content)``:

- content is lowercase ``[a-z0-9_]`` words joined by single spaces, so
  whitespace splitting equals the engine's tokenizer;
- a fixed vocabulary of code keywords with a skewed (Zipf-like) weight,
  so the top keywords appear in nearly every document (df ≈ N);
- rare identifiers ``id_<n>`` at one token in ``RARE_EVERY``, from a pool
  sized so the mean identifier df is about ``RARE_DF``;
- lognormal document lengths.

Each document also keeps its token-id array (``Corpus.tok``/``offs``), which
the oracles use as ground truth instead of re-tokenizing.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

KEYWORDS = np.array([
    "import", "def", "class", "return", "self", "for", "if", "else",
    "while", "try", "except", "with", "lambda", "yield", "assert", "from",
    "print", "range", "len", "none", "true", "false", "value", "data",
    "result", "name", "type", "key", "item", "index", "node", "list", "dict",
    "str", "int", "func", "var", "const", "public", "static", "void", "new",
    "this", "package", "struct", "interface"])
KEYWORD_W = np.array([400, 200, 120, 180, 160, 140, 150, 80, 60, 50, 40, 55,
                      25, 30, 20, 90, 45, 35, 40, 15, 22, 18, 70, 75, 65, 60,
                      50, 45, 40, 35, 30, 42, 38, 33, 28, 26, 24, 20, 18, 17,
                      16, 15, 14, 12, 10, 9], dtype=np.float64)
LANGS = np.array(["python", "java", "js", "go", "c"])
LANG_P = np.array([0.45, 0.2, 0.15, 0.1, 0.1])
EXTS = np.array(["py", "java", "js", "go", "c"])
EDIT_RATES = (0.01, 0.02, 0.04)  # planted near-duplicate edit rates
PLANTED_SHARE = 0.1      # share of documents in planted near-dup pairs
CHANGE_SHARES = (0.8, 0.1, 0.1)  # edit / insert / delete share of a batch
RARE_EVERY = 40          # one token in RARE_EVERY is a rare identifier
RARE_DF = 10             # target mean document frequency of an identifier
LEN_SIGMA = 0.8          # lognormal sigma of document length (tokens)
LEN_MIN, LEN_MAX = 20, 2000
N_KW = len(KEYWORDS)


@dataclass
class Corpus:
    """Generated documents plus the token ids the oracles read.

    ``tok`` holds every document's token ids back to back (ids below
    ``N_KW`` are keywords, the rest are identifiers ``id_<tok - N_KW>``);
    document ``i`` owns ``tok[offs[i]:offs[i + 1]]``."""

    doc_ids: np.ndarray
    tok: np.ndarray
    offs: np.ndarray
    table: pa.Table

    @property
    def n(self) -> int:
        return int(self.doc_ids.size)

    def lengths(self) -> np.ndarray:
        return np.diff(self.offs)

    def content_bytes(self) -> int:
        return int(pc.sum(pc.binary_length(self.table["content"])).as_py())


def vocab_strings(n_idents: int) -> pa.Array:
    """Token id → string (keywords first, then ``id_<n>``)."""
    idents = pc.binary_join_element_wise(
        "id_", pa.array(np.arange(n_idents)).cast(pa.string()), "")
    return pa.concat_arrays([pa.array(KEYWORDS.tolist()), idents])


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> np.ndarray:
    table = np.array([f"{i:02x}" for i in range(256)], dtype="S2")
    raw = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8)
    return table[raw].view(f"S{2 * nbytes}").ravel().astype(str)


def _join_docs(tok: np.ndarray, offs: np.ndarray, vocab: pa.Array) -> pa.Array:
    words = vocab.take(pa.array(tok))
    lists = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), words)
    return pc.binary_join(lists, " ")


def _keywords(rng: np.random.Generator, n: int) -> np.ndarray:
    cdf = np.cumsum(KEYWORD_W) / KEYWORD_W.sum()
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"),
                      N_KW - 1)


def make_corpus(n_docs: int, seed, *, avg_len: int = 120,
                ident_share: float = 1.0 / RARE_EVERY, id_base: int = 0,
                n_idents: int | None = None,
                doc_ids: np.ndarray | None = None) -> Corpus:
    """``n_docs`` documents with ids ``id_base ..`` (or ``doc_ids``); the
    same seed gives the same rows. ``ident_share`` of the tokens are
    identifiers drawn from a pool of ``n_idents`` (default: sized so an
    identifier's mean df is ``RARE_DF``), the rest are keywords."""
    rng = np.random.default_rng(seed)
    lengths = np.clip(rng.lognormal(np.log(avg_len), LEN_SIGMA, n_docs)
                      .astype(np.int64), LEN_MIN, LEN_MAX)
    lang_i = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    total = int(offs[-1])
    n_idents = n_idents or max(64, int(total * ident_share) // RARE_DF)
    tok = _keywords(rng, total)
    ident = rng.random(total) < ident_share
    tok[ident] = N_KW + rng.integers(0, n_idents, int(ident.sum()))
    # most python files open with an import (corpus keyword skew)
    tok[offs[:-1][(lang_i == 0) & (rng.random(n_docs) < 0.9)]] = 0
    if doc_ids is None:
        doc_ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    repo_i = np.minimum(rng.zipf(1.5, n_docs), 10_000)
    ids_s = pa.array(doc_ids).cast(pa.string())
    repo = pc.binary_join_element_wise(
        pa.array(np.char.add("org", (repo_i % 7).astype(str))),
        pc.binary_join_element_wise("proj", pa.array(repo_i).cast(pa.string()),
                                    ""), "/")
    path = pc.binary_join_element_wise(
        pc.binary_join_element_wise("src/file_", ids_s, ""),
        pa.array(EXTS[lang_i]), ".")
    table = pa.table({
        "doc_id": pa.array(doc_ids),
        "repo": repo,
        "path": path,
        "commit": pa.array(_hex(rng, n_docs, 20)),
        "lang": pa.array(LANGS[lang_i]),
        "content": _join_docs(tok, offs, vocab_strings(n_idents)),
    })
    return Corpus(doc_ids, tok, offs, table)


# ---------------------------------------------------------------------------
# planted near-duplicates
# ---------------------------------------------------------------------------

def plant_near_dups(c: Corpus, rng, n_idents: int
                    ) -> tuple[Corpus, np.ndarray]:
    """Overwrite ``PLANTED_SHARE / 2`` of the documents with edited copies
    of another ``PLANTED_SHARE / 2`` (edit rate cycling through
    ``EDIT_RATES``); returns the new corpus and each document's cluster
    label (-1 = not planted)."""
    m = int(c.n * PLANTED_SHARE) // 2
    rows = rng.permutation(c.n)[:2 * m]
    src, dst = rows[:m], rows[m:]
    pick = np.arange(c.n)
    pick[dst] = src
    lengths = c.lengths()[pick]
    offs = np.zeros(c.n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    tok = c.tok[_gather_index(c.offs, pick, lengths)]
    row_rate = np.zeros(c.n)
    row_rate[dst] = np.resize(np.asarray(EDIT_RATES), m)
    hit = rng.random(tok.size) < np.repeat(row_rate, lengths)
    tok[hit] = N_KW + rng.integers(0, n_idents, int(hit.sum()))
    clusters = np.full(c.n, -1)
    clusters[src] = clusters[dst] = np.arange(m)
    table = c.table.set_column(
        c.table.schema.get_field_index("content"), "content",
        _join_docs(tok, offs, vocab_strings(n_idents)))
    return Corpus(c.doc_ids, tok, offs, table), clusters


def _gather_index(offs: np.ndarray, order: np.ndarray,
                  lengths: np.ndarray) -> np.ndarray:
    """Flat token index that lays out documents ``order`` back to back."""
    starts = offs[:-1][order]
    new_offs = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=new_offs[1:])
    return (np.arange(int(new_offs[-1]), dtype=np.int64)
            - np.repeat(new_offs[:-1] - starts, lengths))


# ---------------------------------------------------------------------------
# change stream (ingest workload)
# ---------------------------------------------------------------------------

@dataclass
class ChangeBatch:
    seq: int
    doc_ids: np.ndarray        # changed ids, distinct within the batch
    deleted: np.ndarray        # bool per changed id
    upserts: Corpus            # new versions, in ``doc_ids[~deleted]`` order
    clusters: np.ndarray       # planted near-duplicate cluster per upsert

    def table(self) -> pa.Table:
        """``(doc_id, deleted, content)`` rows as ``apply_changes`` takes."""
        pos = np.cumsum(~self.deleted) - 1
        content = self.upserts.table["content"].take(
            pa.array(pos, mask=self.deleted))
        return pa.table({"doc_id": pa.array(self.doc_ids),
                         "deleted": pa.array(self.deleted),
                         "content": content})


class ChangeStream:
    """Seeded edit/insert/delete batches over a base corpus, tracking which
    version of each document is live (the oracle's view)."""

    def __init__(self, base: Corpus, seed, *, batch_size: int = 1000):
        self.rng = np.random.default_rng(seed)
        self.batch_size = batch_size
        self.n_idents = int(base.tok.max()) - N_KW + 1
        self.versions: list[Corpus] = [base]
        cap = base.n + 64 * batch_size
        self.live = np.zeros(cap, dtype=bool)
        self.live[base.doc_ids] = True
        self.src = np.zeros(cap, dtype=np.int64)      # version list index
        self.row = np.full(cap, -1, dtype=np.int64)   # row in that version
        self.row[base.doc_ids] = np.arange(base.n)
        self.next_id = int(base.doc_ids.max()) + 1
        self.seq = 0

    def next_batch(self) -> ChangeBatch:
        n = self.batch_size
        n_edit = int(round(n * CHANGE_SHARES[0]))
        n_ins = int(round(n * CHANGE_SHARES[1]))
        n_del = n - n_edit - n_ins
        live_ids = np.flatnonzero(self.live)
        old = self.rng.choice(live_ids, n_edit + n_del, replace=False)
        new = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        ids = np.concatenate([old, new])
        deleted = np.zeros(ids.size, dtype=bool)
        deleted[n_edit:n_edit + n_del] = True
        perm = self.rng.permutation(ids.size)
        ids, deleted = ids[perm], deleted[perm]
        self.seq += 1
        up_ids = ids[~deleted]
        upserts = make_corpus(up_ids.size, self.rng.integers(1 << 62),
                              n_idents=self.n_idents, doc_ids=up_ids)
        upserts, clusters = plant_near_dups(upserts, self.rng, self.n_idents)
        self.versions.append(upserts)
        self.live[ids[deleted]] = False
        self.live[up_ids] = True
        self.src[up_ids] = len(self.versions) - 1
        self.row[up_ids] = np.arange(up_ids.size)
        return ChangeBatch(self.seq, ids, deleted, upserts, clusters)

    def live_corpus(self) -> Corpus:
        """The live version of every live document, ordered by doc_id."""
        ids = np.flatnonzero(self.live)
        parts = []
        for v, corpus in enumerate(self.versions):
            sel = ids[self.src[ids] == v]
            if sel.size:
                parts.append(take_rows(corpus, self.row[sel]))
        merged = concat(parts)
        order = np.argsort(merged.doc_ids, kind="stable")
        return take_rows(merged, order)


def take_rows(c: Corpus, rows: np.ndarray) -> Corpus:
    lengths = c.lengths()[rows]
    idx = _gather_index(c.offs, rows, lengths)
    offs = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    return Corpus(c.doc_ids[rows], c.tok[idx], offs,
                  c.table.take(pa.array(rows)))


def concat(parts: list[Corpus]) -> Corpus:
    lengths = np.concatenate([p.lengths() for p in parts])
    offs = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    return Corpus(np.concatenate([p.doc_ids for p in parts]),
                  np.concatenate([p.tok for p in parts]), offs,
                  pa.concat_tables([p.table for p in parts]))
