#!/usr/bin/env python
"""Round-6 instrumentation harness. ``bench.py`` is FROZEN for measurement,
so the extra telemetry lives here: same corpus/warmup methodology, but each
suite query runs under a job group with the Spark UI enabled, and after each
run the per-job wall times come back from the UI REST API — which is what
tells us whether a query's time is N micro-jobs of fixed overhead or one big
stage of real work (guide §1.1/§1.5).

Usage:
  python bench_extra.py                 # time suite queries + job breakdown
  python bench_extra.py --explain DIR   # also dump plans + the report to DIR
  python bench_extra.py --only minhash_lsh_dedup --trials 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _ui_jobs(port: int) -> list[dict]:
    base = f"http://localhost:{port}/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    app_id = apps[0]["id"]
    return json.load(urllib.request.urlopen(
        f"{base}/applications/{app_id}/jobs?status=succeeded"))


def _group_stats(jobs: list[dict], group: str) -> dict:
    from datetime import datetime

    def dur(j):
        f = "%Y-%m-%dT%H:%M:%S.%f%Z"
        t0 = datetime.strptime(j["submissionTime"], f)
        t1 = datetime.strptime(j["completionTime"], f)
        return (t1 - t0).total_seconds()

    mine = [j for j in jobs if j.get("jobGroup") == group]
    mine.sort(key=lambda j: j["jobId"])
    return {
        "n_jobs": len(mine),
        "jobs": [{"id": j["jobId"], "sec": round(dur(j), 3),
                  "tasks": j["numTasks"],
                  "desc": (j.get("description") or j["name"])[:90]}
                 for j in mine],
        "sum_job_sec": round(sum(dur(j) for j in mine), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", metavar="DIR", default=None,
                    help="write each query's formatted plan and the "
                         "_bench_extra_last.json report into DIR")
    ap.add_argument("--only", default=None)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--skip-build", action="store_true",
                    help="don't time the index build separately")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from harvester_spark.operators.bm25 import (open_index,
                                                query_topk_dataframe,
                                                query_topk_index)
    from harvester_spark.operators.dedup import (minhash_lsh_pairs,
                                                 simhash_near_pairs)
    from harvester_spark.operators.index_build import IndexConfig, build_index
    from harvester_spark.operators.similarity import (build_ann_index,
                                                      build_ivfpq_index,
                                                      cosine_topk,
                                                      query_ann_index,
                                                      query_ivfpq_index)
    from harvester_spark.operators.textstats import quality_features
    from harvester_spark.session import get_spark

    spark = get_spark("bench_extra", cores=cpus,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.retainedJobs": "5000"})
    sc = spark.sparkContext
    ui_port = int(sc.uiWebUrl.rsplit(":", 1)[1]) if sc.uiWebUrl else 4040

    probe = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = probe.count()
    n_parts = max(8, min(2 * cpus, n_docs // 250))
    docs = probe.repartition(n_parts).cache()
    docs.count()
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .repartition(max(4, n_parts // 2)).cache())
    emb.count()

    cfg = IndexConfig(salt_df_threshold=max(200, n_docs // 10),
                      salt_range_docs=max(256, n_docs // 32),
                      shuffle_partitions=n_parts)

    warm_dir = tempfile.mkdtemp(prefix="bx_warm_") + "/idx"
    build_index(spark, docs.limit(max(500, n_docs // 10)), warm_dir, cfg=cfg,
                content_col="text")

    idx_dir = tempfile.mkdtemp(prefix="bx_idx_") + "/idx"
    build_sec = None
    if not args.skip_build:
        sc.setJobGroup("index_build", "index_build")
        t0 = time.time()
        build_index(spark, docs, idx_dir, content_col="text", cfg=cfg)
        build_sec = round(time.time() - t0, 3)
        sc.setJobGroup(None, None)
    else:
        build_index(spark, docs, idx_dir, content_col="text", cfg=cfg)

    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    idx = open_index(spark, idx_dir)
    idx.topk_local("query data join", 10)
    query_topk_dataframe(docs, "warmup shape only", 10,
                         content_col="text").collect()

    ann_dir = tempfile.mkdtemp(prefix="bx_ann_")
    build_ann_index(emb, ann_dir, n_planes=10)
    query_ann_index(spark, ann_dir, qv, 10, n_probe_bits=1).collect()
    pq_dir = tempfile.mkdtemp(prefix="bx_pq_")
    build_ivfpq_index(emb, pq_dir, n_centroids=16, m_subvectors=8,
                      train_sample=4000)
    query_ivfpq_index(spark, pq_dir, qv, 10, nprobe=2, rerank=4).collect()

    # builders return the DataFrame (for --explain) and a runner
    def df_wand_common():
        return query_topk_index(spark, idx, "batch", 10)

    def df_wand_multi():
        return query_topk_index(spark, idx, "query data join", 10)

    def df_wand_and():
        return query_topk_index(spark, idx, "table scan", 10, mode="and")

    def df_scorer():
        return query_topk_dataframe(docs, "query data join", 10,
                                    content_col="text")

    def df_minhash():
        return minhash_lsh_pairs(docs, content_col="text",
                                 jaccard_threshold=0.7,
                                 with_metrics=True)[0]

    def df_simhash():
        return simhash_near_pairs(docs, content_col="text", max_hamming=3,
                                  with_metrics=True)[0]

    def df_cosine():
        return cosine_topk(emb, qv, 10)

    def df_ann():
        return query_ann_index(spark, ann_dir, qv, 10, n_probe_bits=1)

    def df_ivfpq():
        return query_ivfpq_index(spark, pq_dir, qv, 10, nprobe=2, rerank=4)

    def df_quality():
        return quality_features(docs, content_col="text") \
            .agg(F.avg("quality_score"))

    def df_pricing():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("l_quantity"), F.sum("l_extendedprice"),
                     F.count("*")))

    # count-vs-collect matters for the dedup ops (bench counts them)
    suite = {
        "bm25_wand_common": (df_wand_common, "collect"),
        "bm25_wand_multi": (df_wand_multi, "collect"),
        "bm25_wand_and": (df_wand_and, "collect"),
        "bm25_dataframe": (df_scorer, "collect"),
        "cosine_topk": (df_cosine, "collect"),
        "ann_index_topk": (df_ann, "collect"),
        "ivfpq_topk": (df_ivfpq, "collect"),
        "quality_scores": (df_quality, "collect"),
        "pricing_summary": (df_pricing, "collect"),
        "minhash_lsh_dedup": (df_minhash, "count"),
        "simhash_dedup": (df_simhash, "count"),
    }

    # dedup warmup (same as bench.py)
    warm_slice = docs.limit(300)
    minhash_lsh_pairs(warm_slice, content_col="text", jaccard_threshold=0.7,
                      with_metrics=True)[0].count()
    simhash_near_pairs(warm_slice, content_col="text", max_hamming=3,
                       with_metrics=True)[0].count()

    names = args.only.split(",") if args.only else list(suite)
    out: dict[str, dict] = {}
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    for name in names:
        fn, action = suite[name]
        trials = []
        for t in range(args.trials):
            group = f"{name}#{t}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            df = fn()
            getattr(df, action)()
            wall = round(time.time() - t0, 3)
            sc.setJobGroup(None, None)
            try:
                gs = _group_stats(_ui_jobs(ui_port), group)
            except Exception as e:  # UI scrape must never fail the bench
                gs = {"err": str(e)}
            gs["wall"] = wall
            trials.append(gs)
        out[name] = {"walls": [t["wall"] for t in trials],
                     "trials": trials}
        print(f"== {name}: walls={out[name]['walls']} "
              f"n_jobs={trials[-1].get('n_jobs')} "
              f"sum_job_sec={trials[-1].get('sum_job_sec')}", flush=True)
        if args.explain:
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn().explain("formatted")
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())

    if build_sec is not None:
        try:
            gs = _group_stats(_ui_jobs(ui_port), "index_build")
        except Exception as e:
            gs = {"err": str(e)}
        gs["wall"] = build_sec
        out["index_build"] = {"walls": [build_sec], "jobs_last": gs}
        print(f"== index_build: wall={build_sec} "
              f"n_jobs={gs.get('n_jobs')} sum={gs.get('sum_job_sec')}",
              flush=True)

    if args.explain:
        report = os.path.join(args.explain, "_bench_extra_last.json")
        with open(report, "w") as f:
            json.dump({"sf": sf_dir, "cpus": cpus, "results": out}, f,
                      indent=1)
    print(json.dumps({k: v["walls"] for k, v in out.items()}))


if __name__ == "__main__":
    main()
