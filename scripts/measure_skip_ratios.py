#!/usr/bin/env python
"""Measure WAND block-skip ratios + warm query latency on the bench corpus.

Builds (or reuses) an index over .bench/corpus on /dev/shm, then runs the
reference query set in OR and AND modes with metrics_out accounting.
Prints one JSON line consumed into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    from harvester_spark.fixtures.corpus import QUERY_SET
    from harvester_spark.operators.bm25 import open_index, query_topk_index
    from harvester_spark.operators.index_build import (IndexConfig,
                                                       build_index)
    from harvester_spark.session import get_spark

    corpus = REPO / ".bench" / "corpus"
    idx = Path("/dev/shm/bench/skip_idx")
    spark = get_spark("skip-ratios", cores=int(os.environ.get("CORES", "8")),
                      shuffle_partitions=64,
                      extra_conf={"spark.local.dir": "/dev/shm/bench/sl"})
    docs = spark.read.parquet(str(corpus))
    n = docs.count()
    cfg = IndexConfig(salt_df_threshold=max(1000, n // 20),
                      salt_range_docs=max(4096, n // 64),
                      shuffle_partitions=64)
    build_index(spark, docs, idx, cfg=cfg)  # resumes if already committed

    # the pinned runs get a handle of their own: the driver gate counts
    # only postings missing from the handle's term cache, so a handle the
    # unpinned runs warmed would answer small_query_postings=0 queries on
    # the driver and record a skip ratio of 0
    h, pinned = open_index(spark, idx), open_index(spark, idx)
    query_topk_index(spark, pinned, "import", 10,
                     small_query_postings=0).collect()  # warm its postings

    out: dict[str, dict] = {}
    for mode in ("or", "and"):
        for q, k in QUERY_SET:
            terms = q.split()
            if mode == "and" and len(set(terms)) < 2:
                continue
            full = query_topk_index(spark, h, q, k, mode=mode,
                                    prune=False).collect()
            rec: dict = {}
            for label, refine in (("seed", False), ("refined", True)):
                m: dict = {}
                t0 = time.time()
                # range width sized to the corpus (~150 ranges); the
                # 1<<20 default is sized for 10^12-doc tables
                rows = query_topk_index(spark, pinned, q, k, mode=mode,
                                        range_docs=max(2048, n // 150),
                                        refine_theta=refine,
                                        refine_min_postings=0,
                                        small_query_postings=0,
                                        metrics_out=m).collect()
                assert [(r.doc_id, round(r.score, 9)) for r in rows] == \
                       [(r.doc_id, round(r.score, 9)) for r in full], \
                       (q, mode, label)
                sec = round(time.time() - t0, 3)
                if "blocks_total" in m and m["blocks_total"]:
                    rec[label] = {
                        "blocks_total": m["blocks_total"],
                        "blocks_scored": m["blocks_scored"],
                        "skip": m["block_skip_ratio"], "sec": sec}
            if rec:
                out[f"{mode}:{q}"] = rec
    print("SKIPS " + json.dumps({"n_docs": n, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
