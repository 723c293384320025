"""Build-state introspection: lineage + checkpoint status.

The reference tracks runs with per-run ingest documents (status, counts,
error, timings — harvester/fetcher/controller.py:159-212) and reports via
SNS (harvester/sns_message.py:29-41). Here every build writes a lineage
table (per merge-partition term ranges and byte counts) and per-stage
atomic commits; this module reads that state back — the "what happened /
where would a resume pick up" API.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from harvester_spark import tables

STAGES = ["packed", "stats", "dictionary", "postings", "term_ub", "dictseg",
          "lineage"]


def build_status(index_dir: str | Path) -> dict:
    """Per-stage commit state + the stage a resumed build would start at."""
    index_dir = Path(index_dir)
    state = {s: tables.is_committed(index_dir / s) for s in STAGES}
    parts = index_dir / "postings_parts"
    groups = {}
    if parts.exists():
        groups = {d.name: tables.is_committed(d)
                  for d in sorted(parts.glob("group=*"))}
    pending = [s for s in STAGES if not state[s]]
    return {"stages": state, "postings_groups": groups,
            "resume_at": pending[0] if pending else None,
            "complete": not pending}


def read_lineage(spark: SparkSession, index_dir: str | Path) -> DataFrame:
    return tables.read_table(spark, Path(index_dir) / "lineage")


def lineage_summary(spark: SparkSession, index_dir: str | Path) -> dict:
    """Aggregate provenance — the SNS completion-report analogue."""
    from pyspark.sql import functions as F
    lin = read_lineage(spark, index_dir)
    row = lin.agg(F.sum("postings").alias("postings"),
                  F.sum("blocks").alias("blocks"),
                  F.sum("bytes_encoded").alias("bytes_encoded"),
                  F.count("*").alias("partitions"),
                  F.min("term_min").alias("term_min"),
                  F.max("term_max").alias("term_max")).collect()[0]
    meta = tables.read_meta(Path(index_dir) / "postings")
    return {**row.asDict(), "N": meta["N"], "avgdl": meta["avgdl"],
            "status": "complete"}
