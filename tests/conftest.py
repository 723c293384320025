from __future__ import annotations

import pytest

from harvester_spark import tables
from harvester_spark.fixtures.corpus import make_corpus
from harvester_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark("harvester_spark_tests", cores=4, shuffle_partitions=8,
                  extra_conf={"spark.sql.warehouse.dir": str(wh)})
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    return make_corpus(400, seed=42)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    from harvester_spark.operators.docids import assign_doc_ids
    df = assign_doc_ids(spark.createDataFrame(corpus_pdf), num_partitions=4)
    df = df.cache()
    df.count()
    return df


def _pin_distributed(mp: pytest.MonkeyPatch) -> None:
    """Set the driver budget below every input, an empty one included, so
    builds, merges and dedup take the distributed placement."""
    mp.setattr(tables, "DRIVER_MAX_DOCS", 0)
    mp.setattr(tables, "DRIVER_MAX_BYTES", -1)


@pytest.fixture(params=["driver", "distributed"])
def build_side(request, monkeypatch):
    """Runs a test once per placement of the index build and merge."""
    if request.param == "distributed":
        _pin_distributed(monkeypatch)
    return request.param


@pytest.fixture
def pin_distributed(monkeypatch):
    """Call it to send the test's later builds and merges to the
    distributed placement."""
    return lambda: _pin_distributed(monkeypatch)


@pytest.fixture(scope="session")
def index_dir(tmp_path_factory, spark, corpus_df):
    from harvester_spark.operators.index_build import IndexConfig, build_index
    out = tmp_path_factory.mktemp("index")
    cfg = IndexConfig(salt_df_threshold=50, salt_range_docs=100, block_size=32)
    # hot-term salting exists only on the distributed side, and tests read
    # this index's salts
    with pytest.MonkeyPatch.context() as mp:
        _pin_distributed(mp)
        build_index(spark, corpus_df, out, content_col="content", cfg=cfg)
    return out
