"""Deterministic dense doc-id assignment without a global sort.

The analogue of the reference's stable pretty-id scheme
(harvester/solr_updater.py:362-385 ``get_solr_id``): every document gets a
reproducible global ordinal — here, its rank under ``ORDER BY`` the natural
key (repo, path, commit for the code corpus).

Scale design (SURVEY §4.4): a naive ``row_number() OVER (ORDER BY …)`` is a
single-reducer global sort. Instead: range-repartition by the key (Spark
samples boundaries — partition p's keys all precede partition p+1's), count
rows per partition, prefix-sum those counts on the driver (one tiny row per
partition), then rank within partitions and add the offset. Also derives
``content_sha256`` — the per-row invariant the input_hint mandates.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harvester_spark import tables


def assign_doc_ids(docs: DataFrame, key_cols: list[str] | None = None, *,
                   content_col: str = "content",
                   num_partitions: int | None = None,
                   with_sha: bool = True) -> DataFrame:
    """Add ``doc_id`` = global 0-based rank by ``key_cols`` (+ sha256).

    Equivalent to ``row_number() OVER (ORDER BY key_cols) - 1`` but scales:
    the only global coordination is collecting one count per partition.
    """
    key_cols = key_cols or ["repo", "path", "commit"]
    num_partitions = num_partitions or int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    ranged = (docs.repartitionByRange(num_partitions, *[F.col(c) for c in key_cols])
              .withColumn("__pid", F.spark_partition_id()))
    # Two jobs read `ranged` (the count collect below + the final rank
    # plan). Materialize it once: re-executing repartitionByRange re-samples
    # range boundaries, so a non-deterministic upstream could land rows in
    # different partitions per job → duplicate/non-dense ids. A lost block
    # after localCheckpoint fails loudly instead of silently re-deriving.
    ranged = ranged.localCheckpoint(eager=True)
    counts = {r["__pid"]: r["cnt"] for r in
              ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    pids = sorted(counts)
    sizes = [counts[pid] for pid in pids]
    offs_df = tables.local_frame(
        ranged.sparkSession,
        pa.table({"__pid": pids,
                  "__off": np.cumsum(sizes, dtype=np.int64) - sizes}),
        "__pid int, __off long")

    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in key_cols])
    out = (ranged.join(F.broadcast(offs_df), "__pid")
           .withColumn("doc_id", F.row_number().over(w) - 1 + F.col("__off"))
           .drop("__pid", "__off"))
    if with_sha:
        out = out.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
    return out


def verify_content_sha256(results: DataFrame, docs: DataFrame, *,
                          id_col: str = "doc_id",
                          content_col: str = "content",
                          sha_col: str = "content_sha256") -> dict:
    """Per-row content-integrity check for query results against the
    source table (the north-rule invariant: every returned row's content
    sha256 must equal the stored hash). One broadcast-able semi-join +
    aggregation; returns {"n_rows", "n_matched", "missing", "ok"} —
    ``missing`` counts result ids absent from the source entirely."""
    src = docs.select(F.col(id_col).alias("__vid"),
                      F.sha2(F.col(content_col), 256).alias("__recomputed"),
                      F.col(sha_col).alias("__stored"),
                      F.lit(True).alias("__present"))
    joined = (results.select(F.col(id_col).alias("__vid"))
              .join(src, "__vid", "left"))
    # absence is detected by the join MARKER, not a NULL stored hash — a
    # source row whose sha column is NULL is a hash MISMATCH (integrity
    # problem in the source), not a missing result id
    row = joined.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("__recomputed") == F.col("__stored"), 1)
              .otherwise(0)).alias("n_matched"),
        F.sum(F.when(F.col("__present").isNull(), 1).otherwise(0))
        .alias("missing")).collect()[0]
    n, m, miss = int(row["n_rows"]), int(row["n_matched"] or 0), \
        int(row["missing"] or 0)
    return {"n_rows": n, "n_matched": m, "missing": miss,
            "ok": n == m and miss == 0}
