"""Table storage with atomic-commit semantics.

Production target is Iceberg (atomic snapshot commits, row-level deletes,
incremental scans — the capabilities the reference gets from Solr commits at
harvester/solr_updater.py:864,955 and CouchDB revisions). This sandbox has no
Iceberg runtime jar, so locally we use plain parquet directories with a
write-to-temp + atomic-rename commit protocol and a ``_STAGE_SUCCESS`` marker
— the same contract an Iceberg snapshot commit gives us, at directory
granularity. Swapping ``format("parquet")`` for ``format("iceberg")`` +
``MERGE INTO`` is the only change needed on a real cluster.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

SUCCESS_MARKER = "_STAGE_SUCCESS"

# Driver placement budget, shared by the dedup pair ops and the index
# build/merge: inputs up to these sizes are collected once and run through
# the same numpy/pyarrow kernels on the driver, skipping the distributed
# stages whose fixed per-stage costs dominate wall time at sub-GB sizes.
# The byte cap sits at the MEASURED crossover, not a memory limit: the
# driver kernels cost ~0.2-0.35 s/MB single-core while the distributed
# path pays seconds of fixed stage/scheduling overhead before its
# parallelism helps (numbers in OPTIMIZATION_r06.md; an index build
# crosses over at ~30 MB of text too). Above the caps the distributed path
# runs, which is the only path a 100 TB corpus can ever take.
DRIVER_MAX_DOCS = 262_144
DRIVER_MAX_BYTES = 32 << 20


def is_committed(path: str | Path) -> bool:
    return (Path(path) / SUCCESS_MARKER).exists()


def stage_tmp_dir(path: str | Path) -> Path:
    """Fresh ``<path>.__tmp__`` staging dir for an atomic dir swap."""
    tmp = Path(str(path) + ".__tmp__")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    return tmp


def replace_dir(tmp: Path, path: Path) -> None:
    """Atomically publish a fully-built staging dir over ``path`` — the
    crash-safety primitive behind every stage commit (a crash mid-build
    never leaves partial output behind a valid success marker)."""
    if path.exists():
        shutil.rmtree(path)
    os.rename(tmp, path)


def write_table(df: DataFrame, path: str | Path, *, sort_cols: list[str] | None = None,
                meta: dict | None = None, compression: str | None = None) -> None:
    """Atomically materialize ``df`` as a parquet table at ``path``.

    Writes to ``<path>.__tmp__`` then renames — a crash mid-write never
    leaves a half-table behind the success marker, which is what makes the
    stage runner resumable (north_rule: resume from checkpoint).
    ``sort_cols`` sorts within partitions so parquet row-group min/max stats
    make downstream predicate pushdown (e.g. ``term = 'x'``) effective.
    ``compression`` overrides the session parquet codec — intermediate
    tables that live on fast storage (shm/NVMe) and are read once trade
    ratio for speed (lz4/uncompressed); durable tables keep the default.
    """
    path = Path(path)
    tmp = stage_tmp_dir(path)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    w = df.write.mode("overwrite")
    if compression is not None:
        w = w.option("compression", compression)
    w.parquet(str(tmp))
    replace_dir(tmp, path)
    if meta is not None:
        (path / "_table_meta.json").write_text(json.dumps(meta, indent=2))
    (path / SUCCESS_MARKER).touch()


def read_table(spark: SparkSession, path: str | Path) -> DataFrame:
    return spark.read.parquet(str(path))


def read_meta(path: str | Path) -> dict:
    return json.loads((Path(path) / "_table_meta.json").read_text())


def fits_driver(n_docs: int, n_bytes: int) -> bool:
    """Whether an input of this size takes the driver placement."""
    return n_docs <= DRIVER_MAX_DOCS and n_bytes <= DRIVER_MAX_BYTES


def collect_small(df: DataFrame, id_col: str, content_col: str, *,
                  extra: tuple = (), probed: dict | None = None):
    """``(doc_id int64, *extra, content string)`` of ``df`` as one
    ``pa.Table`` when it fits the driver budget, else None. One bounded
    probe job (reads at most ``DRIVER_MAX_DOCS + 1`` rows' byte lengths;
    a row with null content counts as a doc of 0 bytes) plus one collect.
    ``extra`` names columns collected as they are, between the id and the
    content. ``probed``, when given, receives the probe's ``docs`` and
    ``text_bytes`` (lower bounds when over budget)."""
    cap = DRIVER_MAX_DOCS
    # limit().collect() executes as an INCREMENTAL take (executeTake: one
    # partition, then 4x more per round) — a 100 TB corpus finds its
    # cap+1-th row after a handful of partitions and falls through; a
    # limit().agg() form would instead run a LocalLimit task in EVERY
    # partition. Only byte lengths travel, not content.
    lens = (df.select(F.coalesce(F.octet_length(F.col(content_col)),
                                 F.lit(0)).alias("nb"))
            .limit(cap + 1).collect())
    n_bytes = sum(r["nb"] for r in lens)
    if probed is not None:
        probed.update(docs=len(lens), text_bytes=n_bytes)
    if not fits_driver(len(lens), n_bytes):
        return None
    # the collected table stays CHUNKED (one chunk per collected batch):
    # pyarrow compute parallelizes across chunks
    return df.select(F.col(id_col).cast("long").alias("doc_id"), *extra,
                     F.col(content_col).alias("content")).toArrow()


def local_frame(spark: SparkSession, table: pa.Table, schema) -> DataFrame:
    """A table built on the driver as a DataFrame of ``schema``
    (StructType or DDL string): Spark casts ``table`` to the schema's
    Arrow types and holds it as one Arrow local relation, so collecting it
    launches no Spark job (``createDataFrame`` over a list of tuples runs
    a job of Python-worker tasks to unpickle the rows, even for one row).
    The package's only ``createDataFrame`` call."""
    return spark.createDataFrame(table, schema)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """A zero-row :func:`local_frame` of ``schema`` (StructType or DDL
    string)."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return local_frame(spark, to_arrow_schema(schema).empty_table(), schema)


def parquet_files(path: str | Path) -> list[Path]:
    return sorted(Path(path).glob("*.parquet"))


def num_rows(path: str | Path) -> int:
    """Row count of a committed table from its parquet footers (no job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def read_arrow(path: str | Path, columns: list[str] | None = None):
    """A committed table read on the driver with pyarrow (no job)."""
    import pyarrow.parquet as pq

    return pq.read_table(parquet_files(path), columns=columns,
                         partitioning=None)


def write_arrow(tbl, path: str | Path, *, sort_cols: list[str] | None = None,
                meta: dict | None = None) -> None:
    """:func:`write_table` for a ``pa.Table`` built on the driver: the same
    staged tmp dir, atomic rename, meta file and success marker, written
    as one parquet file with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    path = Path(path)
    tmp = stage_tmp_dir(path)
    if sort_cols:
        tbl = tbl.sort_by([(c, "ascending") for c in sort_cols])
    pq.write_table(tbl, tmp / "part-00000.parquet")
    replace_dir(tmp, path)
    if meta is not None:
        (path / "_table_meta.json").write_text(json.dumps(meta, indent=2))
    (path / SUCCESS_MARKER).touch()
