"""The benchmark's workloads and the metrics computed from their runs.

Each workload is one set of seeded inputs plus a closed loop with one
client: it sends its next operation only after the previous one returned.
The engine receives only the generated DataFrames (read from parquet files
the benchmark writes), never the generator.

- ``search``: a 12k-doc code corpus is indexed and opened during set-up;
  each operation is one query, answered on the serving path
  (``IndexHandle.lookup``, then ``IndexHandle.topk_local``) and then on
  the Spark path (``query_topk_index``). Query classes cycle through rare
  identifiers, keyword + identifier, one keyword, 2-3 keywords in OR and
  in AND mode, and terms absent from the index. Traced runs add keyword
  snippets whose postings exceed the engine's 262,144-posting small-query
  budget, so they take the pruned distributed path (seconds per query at
  this size, too slow for the timed loop).
- ``ingest``: a 5k-doc base index is built with ``init_root`` during
  set-up; each operation is one 1,000-change batch (80% edits, 10%
  inserts, 10% deletes, with planted near-duplicate pairs among the new
  versions): ``minhash_lsh_pairs`` and ``simhash_near_pairs`` over the
  batch's new versions (a fresh input per call, so Spark never answers
  from an earlier call's cached intermediates; below the engine's 32 MB
  driver budget, so the driver pair path runs), then
  ``apply_changes(auto_compact_max_deltas=4)``, then one
  ``query_topk_incremental``. The first batch is an untimed warm-up; the
  run then times whole delta-merge cycles (two plain applies, then one
  that merges). Every run ends with a compaction whose query answers are
  checked against the oracle; traced runs then add a near-duplicate check
  above the driver budget (distributed pair path).

The workloads are few and small because every run pays a JVM start and
two set-ups, and the benchmark's whole schedule of runs must fit a fixed
time budget on a 4-core host.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from harvester_spark.operators.bm25 import open_index, query_topk_index
from harvester_spark.operators.dedup import (minhash_lsh_pairs, simhash,
                                             simhash_near_pairs)
from harvester_spark.operators.index_build import build_index
from harvester_spark.streaming.incremental import (apply_changes, compact,
                                                   init_root,
                                                   query_topk_incremental)

import gen
import oracle
from spans import (JobWindow, Tracer, geomean, host_steal_share, jvm_pid,
                   median, peak_rss_mb, percentile, tail_percentile,
                   tree_cpu_s)

TOP_K = 10
SMALL_QUERY_POSTINGS = 262_144   # engine's small-query budget (bm25.py)
DEDUP_DRIVER_BYTES = 32 << 20    # engine's driver pair-path budget
EXTRAS_START_S = 90              # latest start of a traced-only extra step


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def _pct_summary(values_s: list[float]) -> dict:
    """Median and rule-chosen tail percentile (ms) with the sample count."""
    if not values_s:
        return {"n": 0}
    ms = [v * 1e3 for v in values_s]
    out = {"n": len(ms), "p50_ms": percentile(ms, 50)}
    p = tail_percentile(len(ms))
    if p is not None and p > 50:
        out[f"p{p:g}_ms"] = percentile(ms, p)
    return out


class Workload:
    """One workload: its set-up, operation, oracle check and figures."""

    cycle = 1                 # a run sends whole cycles of this many ops
    min_ops = 1               # operations a run times at the least
    warmup_ops = 0            # checked but untimed operations first

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer,
                 started: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.started = started    # perf_counter() at process start

    # -- hooks ---------------------------------------------------------------
    def params(self) -> dict:
        raise NotImplementedError

    def prepare(self, rep: int) -> None:
        """One set-up repetition; the last one's product is used."""
        raise NotImplementedError

    def op(self, i: int) -> int:
        """One timed operation; returns the number of items it handled."""
        raise NotImplementedError

    def check(self, i: int) -> str | None:
        """Untimed oracle check of operation ``i``; a reason on mismatch."""
        raise NotImplementedError

    def finish(self) -> list[str]:
        """Untimed end-of-run checks; returns failure reasons."""
        return []

    def layers(self) -> dict:
        return {}

    def step_seconds(self) -> dict[str, list[float]]:
        """Per-step latencies (s) of the timed operations, one list per
        step; ``step_geomean_ms`` is the geometric mean of their
        medians."""
        raise NotImplementedError

    # -- helpers -------------------------------------------------------------
    def read(self, table, name: str):
        path = self.work / f"{name}.parquet"
        pq.write_table(table, path)
        return self.spark.read.parquet(str(path))


# ---------------------------------------------------------------------------
# search: one static index, both query paths
# ---------------------------------------------------------------------------

CLASSES = ("rare", "mixed", "kw1", "kw_or", "kw_and", "absent")
SNIPPETS = ("snippet_or", "snippet_and")
LOCAL, SPARK = "topk_local", "query_topk_index"


class Search(Workload):
    """A 12k-doc code index built and opened during set-up; each operation
    is one query of a class drawn in whole seeded cycles of ``MIX`` (each
    class of ``CLASSES`` at least once), answered on the serving path
    (``IndexHandle.lookup``, then ``IndexHandle.topk_local``) and then on
    the Spark path (``query_topk_index(...).collect()``). Traced runs add
    keyword snippets whose postings exceed the engine's small-query
    budget, so they take the pruned distributed path (seconds per query at
    this size, too slow for the timed loop)."""

    # selective queries twice per cycle: on the Spark path the three
    # selective classes cost about the same and the keyword and absent
    # classes more, so with a 6-class cycle the median fell on the gap
    # between the two groups and swung with either; here it falls inside
    # the selective group
    MIX = CLASSES + ("rare", "mixed", "kw1")
    N_DOCS = 12_000
    cycle = len(MIX)
    # one untimed cycle: the JIT and the Python workers settle after the
    # set-up's first queries
    warmup_ops = len(MIX)
    # every run holds the whole mix at least twice, however fast a cycle ran
    min_ops = 2 * len(MIX)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.corpus = gen.make_corpus(self.N_DOCS, (self.seed, 1))
        self.oracle = oracle.BM25(self.corpus)
        self.rng = np.random.default_rng((self.seed, 2))
        self.kw_df = np.array([self.oracle.postings(t)[0].size
                               for t in range(gen.N_KW)])
        self.handle = None
        self.results: dict[int, tuple] = {}
        self.seen_queries: set[str] = set()
        self.seen_terms: set[str] = set()
        self.log: list[dict] = []
        self.warm_errors: list[str] = []
        self.sent: dict[str, int] = {}

    def params(self) -> dict:
        return {"n_docs": self.N_DOCS, "avg_len": 120,
                "len_sigma": gen.LEN_SIGMA, "rare_every": gen.RARE_EVERY,
                "rare_df": gen.RARE_DF, "n_keywords": gen.N_KW,
                "content_mb": round(self.corpus.content_bytes() / 1e6, 2),
                "mix": list(self.MIX), "k": TOP_K, "paths": [LOCAL, SPARK],
                "traced_classes": list(SNIPPETS),
                "snippet_min_postings": int(1.25 * SMALL_QUERY_POSTINGS)}

    def prepare(self, rep: int) -> None:
        if self.handle is not None:
            self.handle.unpersist()
            self.handle = None
        corpus = gen.make_corpus(self.N_DOCS, (self.seed, 1))
        docs = self.read(corpus.table, f"corpus-{rep}")
        index_dir = self.work / f"index-{rep}"
        report, span = self.tr.call("index_build.build_index", build_index,
                                    self.spark, docs, index_dir)
        self.build_report, self.build_span = report, span
        self.handle, span = self.tr.call("bm25.open_index", open_index,
                                         self.spark, index_dir)
        self.open_span = span
        self.index_dir = index_dir
        self.text_bytes = corpus.content_bytes()
        # one query per class on the new handle, checked on both paths: the
        # one-time cost of a class's first query in a fresh session
        # (planning, code generation, py4j set-up; up to seconds on the
        # Spark path) lands in setup_s instead of in the timed loop. Then
        # all keywords at once on the serving path: the keywords are its
        # hot set and fit the term cache, so the timed loop starts from
        # that steady state and still misses on every fresh identifier
        self.seen_terms = set()
        rng = np.random.default_rng((self.seed, 9, rep))
        self.warm_errors = []
        warm = [(*self._query(cls, rng), (LOCAL, SPARK)) for cls in CLASSES]
        warm.append((" ".join(gen.KEYWORDS), "or", (LOCAL,)))
        for q, mode, paths in warm:
            terms = oracle.query_terms(q)
            self.seen_terms.update(terms)
            for path, err in self._check(
                    q, mode, self._answer(None, q, terms, mode, {}, paths)):
                self.warm_errors.append(f"warm-up {path} {q[:40]!r}: {err}")

    def _query(self, cls: str, rng=None, extra: int = 0) -> tuple[str, str]:
        """One query of class ``cls``; ``extra`` (0 or 1) adds a term to the
        classes of 1-2 or 2-3 terms."""
        rng, c = rng or self.rng, self.corpus
        idents = c.tok[c.tok >= gen.N_KW]

        def ident() -> str:
            return f"id_{int(rng.choice(idents)) - gen.N_KW}"

        def keyword() -> str:
            return str(gen.KEYWORDS[rng.integers(gen.N_KW)])

        if cls == "rare":
            return " ".join(ident() for _ in range(1 + extra)), "or"
        if cls == "mixed":
            return f"{keyword()} {ident()}", "or"
        if cls == "kw1":
            return str(gen.KEYWORDS[rng.integers(12)]), "or"
        if cls in ("kw_or", "kw_and"):
            words = rng.choice(gen.KEYWORDS[:12], 2 + extra, replace=False)
            return " ".join(words), ("or" if cls == "kw_or" else "and")
        if cls in ("snippet_or", "snippet_and"):
            # enough keywords that their postings exceed the small-query
            # budget: the pruned distributed path
            order = rng.permutation(gen.N_KW)
            need = np.searchsorted(np.cumsum(self.kw_df[order]),
                                   1.25 * SMALL_QUERY_POSTINGS) + 1
            return (" ".join(gen.KEYWORDS[order[:need]]),
                    "or" if cls == "snippet_or" else "and")
        return " ".join(f"zq_{rng.integers(1 << 30)}"
                        for _ in range(1 + extra)), "or"

    def op(self, i: int) -> int:
        if i % self.cycle == 0:
            self._order = self.rng.permutation(self.cycle)
        return self._request(i, self.MIX[self._order[i % self.cycle]])

    def _request(self, i: int, cls: str, paths=(LOCAL, SPARK)) -> int:
        # each class alternates its term count, so every run sends the same
        # share of longer queries whatever the seed
        sent = self.sent.get(cls, 0)
        self.sent[cls] = sent + 1
        q, mode = self._query(cls, extra=sent % 2)
        terms = oracle.query_terms(q)
        first = not (set(terms) & self.seen_terms)
        self.seen_terms.update(terms)
        rec = {"i": i, "cls": cls, "first": first,
               "repeat": q in self.seen_queries}
        self.seen_queries.add(q)
        self.results[i] = (q, mode, self._answer(i, q, terms, mode, rec,
                                                 paths))
        self.log.append(rec)
        return 1

    def _answer(self, i, q, terms, mode, rec, paths) -> dict:
        """Answer one query on each of ``paths``; returns ``{path: (doc
        ids, scores)}`` and records the spans in ``rec``."""
        out = {}
        if LOCAL in paths:
            _, rec["lookup"] = self.tr.call(
                "dictseg.lookup", self.handle.lookup, terms, request=i)
            local, rec[LOCAL] = self.tr.call(
                "bm25.topk_local", self.handle.topk_local, q, TOP_K,
                mode=mode, request=i)
            out[LOCAL] = (local["doc_id"].to_numpy(),
                          local["score"].to_numpy())
        if SPARK in paths:
            rows, rec[SPARK] = self.tr.call(
                "bm25.query_topk_index",
                lambda: query_topk_index(self.spark, self.handle, q, TOP_K,
                                         mode=mode).collect(), request=i)
            out[SPARK] = ([r["doc_id"] for r in rows],
                          [r["score"] for r in rows])
        return out

    def _check(self, q, mode, answers: dict) -> list[tuple[str, str]]:
        errors = []
        for path, (ids, scores) in answers.items():
            err = self.oracle.check(q, TOP_K, mode, ids, scores)
            if err:
                errors.append((path, err))
        return errors

    def check(self, i: int) -> str | None:
        q, mode, answers = self.results.pop(i)
        errors = self._check(q, mode, answers)
        return "; ".join(f"{path} {q[:40]!r} {mode}: {err}"
                         for path, err in errors) or None

    def finish(self) -> list[str]:
        errors = list(self.warm_errors)
        if self.tr.window is None:
            return errors
        for cls in SNIPPETS:
            self._request(-1, cls, paths=(SPARK,))
            err = self.check(-1)
            if err:
                errors.append(f"{cls}: {err}")
        return errors

    def step_seconds(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for r in self.log:
            if r["i"] >= self.warmup_ops:
                out.setdefault(f"{LOCAL}.{r['cls']}", []).append(
                    r["lookup"].seconds + r[LOCAL].seconds)
                out.setdefault(f"{SPARK}.{r['cls']}", []).append(
                    r[SPARK].seconds)
        return out

    def layers(self) -> dict:
        d: dict = {"bm25.open_index_s": self.open_span.seconds}
        d.update(_build_figures(self.build_report, self.build_span,
                                self.index_dir, self.text_bytes))
        timed = [r for r in self.log if r["i"] >= self.warmup_ops]
        if not timed:
            return d
        d["search.repeat_query_share"] = (sum(r["repeat"] for r in timed)
                                          / len(timed))
        for cls in CLASSES:
            recs = [r for r in timed if r["cls"] == cls]
            if recs:
                d[f"bm25.local.{cls}_ms"] = median(
                    r[LOCAL].seconds * 1e3 for r in recs)
        for key, first in (("first_touch", True), ("repeat", False)):
            ms = [r[LOCAL].seconds * 1e3 for r in timed
                  if r["first"] == first]
            if ms:
                d[f"bm25.local.{key}_ms"] = median(ms)
        d["dictseg.lookup_us"] = median(r["lookup"].seconds * 1e6
                                        for r in timed)
        d["search_local"] = _pct_summary([r[LOCAL].seconds for r in timed])
        for cls in CLASSES + SNIPPETS:
            # the snippets are sent after the timed loop, traced only
            recs = [r for r in (timed if cls in CLASSES else self.log)
                    if r["cls"] == cls]
            if not recs:
                continue
            d[f"bm25.spark.{cls}_ms"] = median(
                r[SPARK].seconds * 1e3 for r in recs)
            _span_figures(d, f"bm25.spark.{cls}", [r[SPARK] for r in recs],
                          unit="ms")
        d["search_spark"] = _pct_summary([r[SPARK].seconds for r in timed])
        return d


def _span_figures(d: dict, prefix: str, spans: list, unit: str = "s"):
    """Median job figures of traced spans (no-op for untraced spans)."""
    spans = [s for s in spans if "jobs" in s.attrs]
    if not spans:
        return
    f = 1e3 if unit == "ms" else 1.0
    d[f"{prefix}.jobs"] = median(s.attrs["jobs"] for s in spans)
    d[f"{prefix}.tasks"] = median(s.attrs["tasks"] for s in spans)
    d[f"{prefix}.in_jobs_{unit}"] = median(s.attrs["in_jobs_s"] * f
                                           for s in spans)
    d[f"{prefix}.driver_{unit}"] = median(s.attrs["driver_s"] * f
                                          for s in spans)


def _build_figures(report, span, index_dir: Path, text_bytes: int) -> dict:
    d = {"build_docs_per_s": report.n_docs / span.seconds}
    for st in report.stages:
        if "seconds" in st:
            d[f"index_build.{st['stage']}_s"] = st["seconds"]
    total = 0
    for sub in sorted(Path(index_dir).iterdir()):
        if sub.is_dir():
            b = _dir_bytes(sub)
            total += b
            d[f"tables.bytes.{sub.name}"] = b
    d["index_bytes_per_text_byte"] = total / text_bytes
    if "jobs" in span.attrs:
        a = span.attrs
        d.update({"index_build.jobs": a["jobs"], "index_build.tasks": a["tasks"],
                  "index_build.in_jobs_s": a["in_jobs_s"],
                  "index_build.driver_s": a["driver_s"],
                  "index_build.task_s": a["task_s"],
                  "index_build.core_util": a["task_s"] / (
                      span.seconds * len(os.sched_getaffinity(0))),
                  "index_build.shuffle_bytes": a["shuffle_bytes"],
                  # longest / median task of the build's heaviest stage
                  "index_build.task_skew": a["skew"]})
    return d


# ---------------------------------------------------------------------------
# ingest: change feed with near-duplicate checks
# ---------------------------------------------------------------------------

CDC_QUERY_CLASSES = ("rare", "mixed", "kw1")


class Ingest(Workload):
    # the first batch warms every step up untimed; after it a delta merge
    # fires every third batch, so each run times whole merge cycles of
    # two plain applies and one merging apply
    warmup_ops = 1
    cycle = 3
    min_ops = 3
    N_BASE = 5_000
    BATCH = 1_000
    MAX_DELTAS = 4
    JACCARD = 0.7
    MAX_HAMMING = 3
    LARGE_DOCS = 11_000       # traced runs: above the driver budget

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rng = np.random.default_rng((self.seed, 4))
        self.stream = None
        self.results: dict[int, tuple] = {}
        self.asked: list[str] = []
        self.log: list[dict] = []
        self.skipped: list[str] = []
        self.checks_run: dict[str, int] = {}

    def params(self) -> dict:
        return {"n_base": self.N_BASE, "batch": self.BATCH,
                "shares": dict(zip(("edit", "insert", "delete"),
                                   gen.CHANGE_SHARES)),
                "planted_share": gen.PLANTED_SHARE,
                "edit_rates": list(gen.EDIT_RATES),
                "auto_compact_max_deltas": self.MAX_DELTAS, "k": TOP_K,
                "jaccard_threshold": self.JACCARD,
                "max_hamming": self.MAX_HAMMING,
                "large_dedup_docs_traced": self.LARGE_DOCS}

    def prepare(self, rep: int) -> None:
        base = gen.make_corpus(self.N_BASE, (self.seed, 3))
        docs = self.read(base.table, f"base-{rep}")
        self.root = self.work / f"root-{rep}"
        _, self.init_span = self.tr.call("incremental.init_root", init_root,
                                         self.spark, docs, self.root)
        self.stream = gen.ChangeStream(base, (self.seed, 5),
                                       batch_size=self.BATCH)
        self.batches = []
        self.rep = rep
        self._next_batch()

    def _next_batch(self) -> None:
        """Generate the next change batch and write it for the engine; runs
        in set-up and after each operation's check, never while timed."""
        b = self.stream.next_batch()
        self.batches.append((
            b, self.read(b.table(), f"changes-{self.rep}-{b.seq}"),
            self.read(b.upserts.table.select(["doc_id", "content"]),
                      f"upserts-{self.rep}-{b.seq}"),
            self.stream.live.copy()))

    def _query(self, i: int, live_tokens) -> str:
        # one class per position in the merge cycle, so every run asks the
        # same classes at the same delta counts
        kind = CDC_QUERY_CLASSES[i % len(CDC_QUERY_CLASSES)]
        idents = live_tokens[live_tokens >= gen.N_KW]
        if kind == "kw1" or idents.size == 0:
            return str(gen.KEYWORDS[self.rng.integers(12)])
        ident = f"id_{int(self.rng.choice(idents)) - gen.N_KW}"
        if kind == "rare":
            return ident
        return f"{gen.KEYWORDS[self.rng.integers(gen.N_KW)]} {ident}"

    def _pair_ops(self, docs, size: str, request):
        def minhash():
            pairs, m = minhash_lsh_pairs(docs, jaccard_threshold=self.JACCARD,
                                         with_metrics=True)
            return pairs.toArrow(), m.collect()[0].asDict()

        def simhash():
            pairs, m = simhash_near_pairs(docs, max_hamming=self.MAX_HAMMING,
                                          with_metrics=True)
            return pairs.toArrow(), m.collect()[0].asDict()

        mh, s_mh = self.tr.call(f"dedup.minhash.{size}", minhash,
                                request=request)
        sh, s_sh = self.tr.call(f"dedup.simhash.{size}", simhash,
                                request=request)
        return {"kind": "dedup", "size": size, "mh": mh, "sh": sh,
                "minhash": s_mh, "simhash": s_sh}

    def _apply(self, i: int, batch, changes):
        res, span = self.tr.call(
            "incremental.apply_changes", apply_changes, self.spark,
            self.root, changes, batch.seq,
            auto_compact_max_deltas=self.MAX_DELTAS, request=i)
        self.log.append({"kind": "apply", "span": span,
                         "compacted": bool(res.get("compacted"))})
        return res

    def op(self, i: int) -> int:
        batch, changes, upserts, live = self.batches[i]
        dd = self._pair_ops(upserts, "batch", i)
        res = self._apply(i, batch, changes)
        segs = len(_segments(self.root))
        q = self._query(i, batch.upserts.tok)
        rows, s_q = self.tr.call(
            "incremental.query_topk_incremental",
            lambda: query_topk_incremental(self.spark, self.root, q,
                                           TOP_K).collect(), request=i)
        self.asked.append(q)
        self.log.append({"kind": "query", "span": s_q, "segs": segs})
        self.log.append(dd)
        self.results[i] = (batch, upserts, dd, res, q, rows, live)
        return self.BATCH

    def check(self, i: int) -> str | None:
        self._next_batch()
        self._ran("batch")
        batch, upserts, dd, res, q, rows, live = self.results.pop(i)
        if res.get("compacted"):
            self._ran("merge_fired")
        if res.get("n_changes") != self.BATCH:
            return f"apply_changes counted {res.get('n_changes')} changes"
        ids = [r["doc_id"] for r in rows]
        scores = [r["score"] for r in rows]
        if len(ids) > TOP_K or len(set(ids)) != len(ids):
            return f"query {q!r}: {len(ids)} results or duplicates"
        if any(x < y for x, y in zip(scores, scores[1:])):
            return f"query {q!r}: scores not descending"
        dead = [d for d in ids if d >= live.size or not live[d]]
        if dead:
            return f"query {q!r}: returned deleted docs {dead[:5]}"
        return self._check_pairs(batch.upserts, batch.clusters, upserts, dd)

    def _check_pairs(self, corpus, clusters, docs, dd) -> str | None:
        """Exact Jaccard of every minhash pair; every simhash pair's
        popcount against ``simhash()`` fingerprints; planted recall."""
        row_of = {d: r for r, d in enumerate(corpus.doc_ids.tolist())}

        def rows(col) -> np.ndarray:
            return np.array([row_of[d] for d in col.to_pylist()],
                            dtype=np.int64)

        mh, sh = dd["mh"][0], dd["sh"][0]
        a, b = rows(mh["doc_a"]), rows(mh["doc_b"])
        if (mh["doc_a"].to_numpy() >= mh["doc_b"].to_numpy()).any():
            return "minhash pair with doc_a >= doc_b"
        sets = oracle.shingle_sets(corpus, np.concatenate([a, b]))
        for x, y, j in zip(a.tolist(), b.tolist(),
                           mh["jaccard"].to_pylist()):
            exact = oracle.jaccard3(sets, x, y)
            if exact < self.JACCARD or abs(exact - j) > 1e-9:
                return f"minhash pair jaccard {j} but exact {exact}"
        fp = simhash(docs).toArrow()
        fps = np.zeros(corpus.n, dtype=np.uint64)
        fps[rows(fp["doc_id"])] = fp["simhash"].to_numpy().view(np.uint64)
        sa, sb = rows(sh["doc_a"]), rows(sh["doc_b"])
        ham = sh["hamming"].to_numpy()
        x = (fps[sa] ^ fps[sb]).view(np.uint8).reshape(-1, 8)
        if ((np.unpackbits(x, axis=1).sum(1) != ham).any()
                or (ham > self.MAX_HAMMING).any()):
            return "simhash pair hamming differs from simhash() fingerprints"
        dd["mh_pairs"], dd["sh_pairs"] = int(a.size), int(sa.size)
        dd["mh_recall"] = oracle.planted_recall(clusters, a, b)
        dd["sh_recall"] = oracle.planted_recall(clusters, sa, sb)
        return None

    def finish(self) -> list[str]:
        """Every run: a compaction checked against the oracle, which is
        where incremental query ranks and scores meet exhaustive BM25.
        Traced runs then add a near-dup check above the driver budget (the
        distributed pair path, tens of seconds here), skipped and named in
        ``DETAIL`` if it would start after ``EXTRAS_START_S`` seconds of
        the run, so a slow host still ends the run within its time
        limit."""
        errors = self._compacted_check()
        if self.tr.window is None:
            return errors
        if time.perf_counter() - self.started > EXTRAS_START_S:
            self.skipped.append("large_dedup")
            return errors
        return errors + self._large_dedup()

    def _large_dedup(self) -> list[str]:
        corpus = gen.make_corpus(self.LARGE_DOCS, (self.seed, 7), avg_len=400,
                                 ident_share=0.5, id_base=10_000_000)
        corpus, clusters = gen.plant_near_dups(
            corpus, np.random.default_rng((self.seed, 8)),
            int(corpus.tok.max()) - gen.N_KW + 1)
        if corpus.content_bytes() <= DEDUP_DRIVER_BYTES:
            return ["large dedup input is under the driver budget"]
        docs = self.read(corpus.table.select(["doc_id", "content"]),
                         "dedup-large")
        dd = self._pair_ops(docs, "large", -1)
        self.log.append(dd)
        self._ran("large_dedup_pairs")
        err = self._check_pairs(corpus, clusters, docs, dd)
        return [f"large dedup: {err}"] if err else []

    def _compacted_check(self) -> list[str]:
        """Compact onto the live docs; then queries must equal the
        exhaustive oracle over the live documents."""
        applied = sum(1 for r in self.log if r["kind"] == "apply")
        if not applied:
            return []
        # replay the generator's live state as of the last applied batch
        stream = gen.ChangeStream(self.stream.versions[0], (self.seed, 5),
                                  batch_size=self.BATCH)
        for _ in range(applied):
            stream.next_batch()
        live = stream.live_corpus()
        docs = self.read(live.table, "live")
        self.tr.call("incremental.compact", compact, self.spark, self.root,
                     docs, request=-1)
        orc = oracle.BM25(live)
        rng = np.random.default_rng((self.seed, 6))
        idents = live.tok[live.tok >= gen.N_KW]
        final = [f"id_{int(rng.choice(idents)) - gen.N_KW}",
                 f"import id_{int(rng.choice(idents)) - gen.N_KW}",
                 str(gen.KEYWORDS[rng.integers(12)])]
        errors = []
        for q in dict.fromkeys(final + self.asked[-2:]):
            rows = query_topk_incremental(self.spark, self.root, q,
                                          TOP_K).collect()
            err = orc.check(q, TOP_K, "or", [r["doc_id"] for r in rows],
                            [r["score"] for r in rows])
            self._ran("compacted_vs_oracle")
            if err:
                errors.append(f"compacted {q!r}: {err}")
        return errors

    def _ran(self, name: str) -> None:
        self.checks_run[name] = self.checks_run.get(name, 0) + 1

    def _timed(self, span) -> bool:
        # request -1 marks the untimed end-of-run steps
        return span.request is not None and span.request >= self.warmup_ops

    def step_seconds(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for r in self.log:
            steps = ({"minhash": r["minhash"], "simhash": r["simhash"]}
                     if r["kind"] == "dedup" else {r["kind"]: r["span"]})
            for step, span in steps.items():
                if self._timed(span):
                    out.setdefault(step, []).append(span.seconds)
        return out

    def layers(self) -> dict:
        d: dict = {}
        applies = [r for r in self.log
                   if r["kind"] == "apply" and self._timed(r["span"])]
        queries = [r for r in self.log
                   if r["kind"] == "query" and self._timed(r["span"])]
        plain = [r["span"].seconds for r in applies if not r["compacted"]]
        merged = [r["span"].seconds for r in applies if r["compacted"]]
        if plain:
            d["incremental.apply_plain_s"] = median(plain)
        if merged:
            d["incremental.apply_merge_s"] = median(merged)
        timed = applies
        if timed:
            d["cdc_apply_p50_s"] = median(r["span"].seconds for r in timed)
            d["cdc_changes_per_s"] = (len(timed) * self.BATCH / sum(
                r["span"].seconds for r in timed))
            _span_figures(d, "incremental.apply", [r["span"] for r in timed])
        if queries:
            d["cdc_query_p50_ms"] = median(r["span"].seconds * 1e3
                                           for r in queries)
            for n in sorted({r["segs"] for r in queries}):
                d[f"incremental.query_ms.seg{n}"] = median(
                    r["span"].seconds * 1e3 for r in queries
                    if r["segs"] == n)
            _span_figures(d, "incremental.query", [r["span"] for r in queries],
                          unit="ms")
        d["incremental.init_root_s"] = self.init_span.seconds
        d["checks_run"] = self.checks_run
        if self.skipped:
            d["traced_steps_skipped"] = self.skipped
        for size in ("batch", "large"):
            recs = [r for r in self.log
                    if r["kind"] == "dedup" and r["size"] == size
                    and (size == "large" or self._timed(r["minhash"]))]
            if not recs:
                continue
            d[f"dedup_{size}_s"] = median(
                r["minhash"].seconds + r["simhash"].seconds for r in recs)
            for op, key in (("minhash", "mh"), ("simhash", "sh")):
                p = f"dedup.{op}.{size}"
                d[f"{p}_s"] = median(r[op].seconds for r in recs)
                _span_figures(d, p, [r[op] for r in recs])
                spans = [r[op] for r in recs if "jobs" in r[op].attrs]
                if spans:
                    d[f"{p}.shuffle_bytes"] = median(
                        s.attrs["shuffle_bytes"] for s in spans)
                checked = [r for r in recs if f"{key}_pairs" in r]
                if checked:
                    d[f"{p}.pairs"] = median(r[f"{key}_pairs"]
                                             for r in checked)
                    d[f"{p}.planted_recall"] = median(
                        r[f"{key}_recall"] for r in checked)
                d[f"{p}.dropped_buckets"] = median(
                    r[key][1]["dropped_buckets"] for r in recs)
        return d


def _segments(root: Path) -> list[str]:
    p = Path(root) / "segments.json"
    return json.loads(p.read_text()) if p.exists() else []


WORKLOADS = {"search": Search, "ingest": Ingest}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def run(name: str, spark, *, work: Path, seed: int, seconds: float,
        trace: bool, host: dict, session_s: float, k_setups: int,
        spans_path: Path, started: float) -> dict:
    window = JobWindow(spark) if trace else None
    tracer = Tracer(window)
    wl = WORKLOADS[name](spark, work, seed, tracer, started)
    print("PARAMS " + _json({"workload": name, "seed": seed,
                             "seconds": seconds, "trace": trace,
                             "generator": wl.params(), "host": host}))
    setups = []
    for rep in range(k_setups):
        t0 = time.perf_counter()
        wl.prepare(rep)
        setups.append(time.perf_counter() - t0)

    failures: list[str] = []
    lat: list[float] = []
    overhead: list[float] = []
    items = 0
    busy = 0.0
    cpu = 0.0
    attempted = 0

    def send(i: int, timed: bool) -> None:
        nonlocal attempted, items, busy, cpu
        attempted += 1
        o0 = tracer.overhead_s
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            n = wl.op(i)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            failures.append(f"op {i}: {type(e).__name__}: {e}")
            return
        dt = time.perf_counter() - t0
        if timed:
            cpu += tree_cpu_s() - c0
            lat.append(dt)
            overhead.append(tracer.overhead_s - o0)
            items += n
            busy += dt
        err = wl.check(i)
        if err:
            failures.append(f"op {i}: {err}")

    for i in range(wl.warmup_ops):
        send(i, timed=False)
    steal = host_steal_share()
    deadline = time.perf_counter() + seconds
    n = 0
    # whole cycles, so every run sends the same mix
    while time.perf_counter() < deadline or n < wl.min_ops or n % wl.cycle:
        send(wl.warmup_ops + n, timed=True)
        n += 1
    steal_share = steal()
    failures += wl.finish()
    py_mb, jvm_mb = peak_rss_mb(jvm_pid())

    for f in failures[:20]:
        print("FAILED " + f)
    detail = {"workload": name, "seed": seed, "ops": len(lat),
              "setup_runs_s": setups, "session_s": session_s,
              "rss.python_mb": py_mb, "rss.jvm_mb": jvm_mb,
              "op": _pct_summary(lat), "failures": failures[:20],
              "host.steal_share": steal_share}
    detail.update(wl.layers())
    # the end-to-end figures, kept in traced runs too (in the result file)
    # so that overhead.py can set traced against untraced medians. Peak RSS
    # is not one of them: the JVM's share follows G1's timing-driven heap
    # sizing (committed heap 576-1242 MB over five seeds of the search
    # workload, 4-core VM, 3 GB maximum heap), so its spread between runs
    # exceeded any bound a regression gate may have; it is in DETAIL and
    # among the per-layer metrics
    end_to_end = {
        "setup_s": (session_s + median(setups), "s"),
        "op_p50_ms": (median(lat) * 1e3 if lat else 0.0, "ms"),
        # every step weighs the same whatever its share of an operation
        "step_geomean_ms": (geomean(median(v) * 1e3 for v in
                                    wl.step_seconds().values())
                            if lat else 0.0, "ms"),
        "items_per_s": (items / busy if busy else 0.0, "1/s"),
        "cpu_ms_per_item": (cpu * 1e3 / items if items else 0.0, "ms"),
    }
    if not trace:
        metrics = end_to_end
    else:
        tracer.dump(spans_path)
        metrics = _layer_metrics(tracer, wl.warmup_ops, host["cores"],
                                 session_s, py_mb, jvm_mb)
        # in-run proxy: the tracer's own status-store reads inside the timed
        # operations, against the same operations without them; indirect
        # costs and set-up are outside it (overhead.py compares medians)
        bare = [t - o for t, o in zip(lat, overhead)]
        metrics["trace_overhead_pct"] = (
            (sum(lat) / sum(bare) - 1.0) * 100.0 if lat else 0.0, "%")

    def as_json(ms: dict) -> dict:
        return {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}

    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "detail": detail,
            "op_ms": [t * 1e3 for t in lat],
            "end_to_end": as_json(end_to_end), "metrics": as_json(metrics)}


def _layer_metrics(tracer: Tracer, warmup_ops: int, cores: int,
                   session_s: float, py_mb: float, jvm_mb: float) -> dict:
    """Per-layer figures shared by every workload: the Spark work launched
    per timed operation (sum over the operation's layer calls) and during
    set-up."""
    by_req: dict[int, list] = {}
    setup = []
    for s in tracer.spans:
        # request -1 marks untimed end-of-run checks; requests below
        # warmup_ops are the untimed warm-up operations
        if "jobs" not in s.attrs or (s.request is not None
                                     and s.request < warmup_ops):
            continue
        if s.request is None:
            setup.append(s)
        else:
            by_req.setdefault(s.request, []).append(s)
    per_op = []
    for spans in by_req.values():
        agg = {k: sum(s.attrs[k] for s in spans) for k in
               ("jobs", "tasks", "in_jobs_s", "driver_s", "task_s",
                "shuffle_bytes")}
        agg["wall"] = sum(s.seconds for s in spans)
        agg["skew"] = max(s.attrs["skew"] for s in spans)
        per_op.append(agg)

    def med(key, scale=1.0):
        return median(o[key] * scale for o in per_op) if per_op else 0.0

    wall = sum(o["wall"] for o in per_op)
    return {
        "get_spark_s": (session_s, "s"),
        "setup_jobs": (sum(s.attrs["jobs"] for s in setup), "count"),
        "setup_driver_s": (sum(s.attrs["driver_s"] for s in setup), "s"),
        "op_jobs": (med("jobs"), "count"),
        "op_tasks": (med("tasks"), "count"),
        "op_in_jobs_ms": (med("in_jobs_s", 1e3), "ms"),
        "op_driver_ms": (med("driver_s", 1e3), "ms"),
        "op_task_ms": (med("task_s", 1e3), "ms"),
        "op_core_util": (sum(o["task_s"] for o in per_op)
                         / (wall * cores) if wall else 0.0, "ratio"),
        "op_shuffle_mb": (med("shuffle_bytes", 1e-6), "MB"),
        "op_task_skew": (med("skew"), "ratio"),
        "rss_python_mb": (py_mb, "MB"),
        "rss_jvm_mb": (jvm_mb, "MB"),
    }


def _json(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)
