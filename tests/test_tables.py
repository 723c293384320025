"""Driver-built tables: one construction site, Arrow local relations."""

from pathlib import Path

import numpy as np
import pyarrow as pa

from harvester_spark import tables
from harvester_spark.operators.multimodal import MEDIA_SCHEMA


def test_create_dataframe_only_in_tables():
    """Every table the driver hands to Spark goes through
    ``tables.local_frame``: no other module builds a DataFrame from
    driver data."""
    pkg = Path(tables.__file__).parent
    hits = sorted(str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
                  if "createDataFrame(" in p.read_text())
    assert hits == ["tables.py"]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_frame_casts_to_schema_and_keeps_nulls_and_binary(spark):
    """A DDL ``int`` column given as int64 numpy lands as ``int``; null
    ints, null binaries and raw bytes survive (the ``multimodal`` row
    shape); collecting the relation runs no job, and an empty table gives
    the schema with no rows."""
    df = tables.local_frame(
        spark, pa.table({"k": np.array([1, 2, 3], np.int64),
                         "v": [7, None, 9]}), "k int, v long")
    assert df.dtypes == [("k", "int"), ("v", "bigint")]
    rows, n_jobs = _jobs(spark, "local-frame-ddl", df.collect)
    assert [tuple(r) for r in rows] == [(1, 7), (2, None), (3, 9)]
    assert n_jobs == 0

    media = tables.local_frame(spark, pa.table({
        "media_id": np.array([0, 1], np.int64), "mime": ["a/b", None],
        "payload": [bytearray(b"\x00\xff"), None], "width": [8, None],
        "height": [None, None], "duration_ms": [None, 5]}), MEDIA_SCHEMA)
    assert media.schema == MEDIA_SCHEMA
    assert [tuple(r) for r in media.collect()] == [
        (0, "a/b", bytearray(b"\x00\xff"), 8, None, None),
        (1, None, None, None, None, 5)]

    empty = tables.empty_frame(spark, "k int, v long")
    assert empty.dtypes == [("k", "int"), ("v", "bigint")]
    assert _jobs(spark, "local-frame-empty", empty.collect) == ([], 0)
