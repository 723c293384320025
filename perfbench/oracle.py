"""Independent oracles for the benchmark's outputs.

They work from the generator's token ids, never from engine code, and run
outside the timed regions.

- :class:`BM25` scores every document of a corpus exhaustively in numpy
  (k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5)), ties by
  doc_id ascending) and checks a returned top-k against it.
- :func:`jaccard3` is the exact 3-shingle Jaccard of two documents.
- :func:`planted_recall` scores pair lists against planted clusters per
  connected component, because the engine's pair lists are
  component-complete, not edge-complete.
"""

from __future__ import annotations

import numpy as np

from gen import KEYWORDS, N_KW, Corpus

K1, B = 1.2, 0.75
REL_TOL = 1e-6
_KW_ID = {w: i for i, w in enumerate(KEYWORDS.tolist())}


def term_id(word: str) -> int | None:
    """Token id of a vocabulary word, or None if it cannot occur."""
    if word in _KW_ID:
        return _KW_ID[word]
    if word.startswith("id_") and word[3:].isdigit():
        return N_KW + int(word[3:])
    return None


def query_terms(query: str) -> list[str]:
    """Unique whitespace terms in first-seen order (the generated text and
    queries hold only ``[a-z0-9_]`` words, so this is the tokenizer)."""
    return list(dict.fromkeys(query.split()))


class BM25:
    """Exhaustive BM25 over one corpus."""

    def __init__(self, corpus: Corpus):
        self.n = corpus.n
        self.doc_ids = corpus.doc_ids
        lengths = corpus.lengths()
        self.dl = lengths.astype(np.float64)
        self.avgdl = float(lengths.sum()) / self.n if self.n else 0.0
        order = np.argsort(corpus.tok, kind="stable")
        self._sorted_tok = corpus.tok[order]
        self._sorted_doc = np.repeat(np.arange(self.n), lengths)[order]

    def postings(self, tid: int) -> tuple[np.ndarray, np.ndarray]:
        """(row positions, term frequencies) of the documents holding
        token ``tid``."""
        lo, hi = np.searchsorted(self._sorted_tok, [tid, tid + 1])
        docs, tf = np.unique(self._sorted_doc[lo:hi], return_counts=True)
        return docs, tf.astype(np.float64)

    def scores(self, query: str, mode: str = "or"
               ) -> tuple[np.ndarray, np.ndarray]:
        """(matching row positions, scores) for every matching document."""
        terms = query_terms(query)
        acc = np.zeros(self.n)
        hits = np.zeros(self.n, dtype=np.int64)
        present = 0
        for w in terms:
            tid = term_id(w)
            docs, tf = self.postings(tid) if tid is not None else (
                np.empty(0, np.int64), np.empty(0))
            if docs.size == 0:
                continue
            present += 1
            df = docs.size
            idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            dl = self.dl[docs]
            acc[docs] += idf * (tf * (K1 + 1.0)
                                / (tf + K1 * (1.0 - B + B * dl / self.avgdl)))
            hits[docs] += 1
        if mode == "and":
            if present < len(terms) or not terms:
                return np.empty(0, np.int64), np.empty(0)
            match = np.flatnonzero(hits == len(terms))
        else:
            match = np.flatnonzero(hits > 0)
        return match, acc[match]

    def topk(self, query: str, k: int, mode: str = "or"
             ) -> tuple[np.ndarray, np.ndarray]:
        rows, sc = self.scores(query, mode)
        ids = self.doc_ids[rows]
        order = np.lexsort((ids, -sc))[:k]
        return ids[order], sc[order]

    def check(self, query: str, k: int, mode: str, ids, scores) -> str | None:
        """None when ``(ids, scores)`` is the exact top-k, else a reason."""
        return check_topk(self.topk(query, k, mode), self.scores(query, mode),
                          self.doc_ids, np.asarray(ids, dtype=np.int64),
                          np.asarray(scores, dtype=np.float64))


def check_topk(expected, all_scores, doc_ids, ids, scores) -> str | None:
    """Rank identity with a relative score tolerance.

    Positions may hold different documents only where the oracle's scores
    of those documents tie within the tolerance (float summation order
    differs between engine and oracle)."""
    exp_ids, exp_sc = expected
    if ids.size != exp_ids.size:
        return f"{ids.size} results, expected {exp_ids.size}"
    if ids.size == 0:
        return None
    rows, sc = all_scores
    by_id = dict(zip(doc_ids[rows].tolist(), sc.tolist()))
    scale = max(abs(float(exp_sc[0])), 1e-300)
    for i, (got, want) in enumerate(zip(ids.tolist(), exp_ids.tolist())):
        s_got = by_id.get(got)
        if s_got is None:
            return f"rank {i}: doc {got} does not match the query"
        if abs(scores[i] - s_got) > REL_TOL * scale:
            return f"rank {i}: doc {got} score {scores[i]!r} != {s_got!r}"
        if got != want and abs(s_got - by_id[want]) > REL_TOL * scale:
            return f"rank {i}: doc {got}, expected {want}"
    if len(set(ids.tolist())) != ids.size:
        return "duplicate doc ids"
    return None


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def shingle_sets(corpus: Corpus, rows: np.ndarray, n: int = 3) -> dict:
    """Row position → set of token-id n-grams (the engine's shingles:
    documents shorter than ``n`` tokens have one shingle, themselves)."""
    out = {}
    for r in np.unique(rows).tolist():
        t = corpus.tok[corpus.offs[r]:corpus.offs[r + 1]]
        if t.size >= n:
            out[r] = set(zip(*(t[j:t.size - n + 1 + j].tolist()
                               for j in range(n))))
        else:
            out[r] = {tuple(t.tolist())} if t.size else set()
    return out


def jaccard3(sets: dict, a: int, b: int) -> float:
    sa, sb = sets[a], sets[b]
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Connected-component label (smallest member) per node of an
    undirected edge list, by min-label propagation with pointer jumping."""
    label = np.arange(n)
    while True:
        m = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def planted_recall(clusters: np.ndarray, a: np.ndarray, b: np.ndarray
                   ) -> float:
    """Share of planted clusters whose members all land in one connected
    component of the returned pair graph (``a``/``b`` are row positions)."""
    planted = np.flatnonzero(clusters >= 0)
    if planted.size == 0:
        return 1.0
    comp = components(clusters.size, a, b)
    pairs = np.unique(np.stack([clusters[planted], comp[planted]]), axis=1)
    labels, n_comps = np.unique(pairs[0], return_counts=True)
    return float((n_comps == 1).sum()) / labels.size
