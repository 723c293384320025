"""Front-coded dictionary segment: roundtrip, edge cases, both writers on
the same input, and IndexHandle lookups served from it."""

import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from harvester_spark.operators.dictseg import (DictSegment, is_committed,
                                               write_dict_segment)


def _rows(terms):
    return [(t, i + 1, 1.0 / (i + 1), 0.5 * (i + 1)) for i, t in
            enumerate(sorted(terms))]


def test_roundtrip_small(tmp_path):
    terms = ["apple", "apply", "banana", "band", "bandit", "z"]
    info = write_dict_segment(_rows(terms), tmp_path, block_size=2)
    assert info["n_terms"] == 6 and info["n_blocks"] == 3
    assert is_committed(tmp_path)
    seg = DictSegment(tmp_path)
    for i, t in enumerate(sorted(terms)):
        got = seg.get(t)
        assert got == {"df": i + 1, "idf": 1.0 / (i + 1),
                       "max_tfnorm": 0.5 * (i + 1)}
    assert seg.get("appl") is None          # prefix of a present term
    assert seg.get("applya") is None        # extension of a present term
    assert seg.get("aa") is None            # before the first leader
    assert seg.get("zz") is None            # after the last term
    assert seg.lookup(["band", "nope", "z"]).keys() == {"band", "z"}
    seg.close()


def test_nan_max_tfnorm_means_absent(tmp_path):
    write_dict_segment([("t", 3, 2.5, None)], tmp_path)
    seg = DictSegment(tmp_path)
    assert seg.get("t") == {"df": 3, "idf": 2.5, "max_tfnorm": None}
    seg.close()


def test_scan_block_equals_decoded_lookup(tmp_path):
    """The allocation-free LCP scan (cold path) must agree with the full
    block decode on hits, misses, proper prefixes and extensions."""
    terms = sorted({"a", "ab", "abc", "abcd", "abd", "ac", "b", "ba",
                    "bab", "bz", "z", "zz", "zzz"})
    rows = [(t, i + 1, float(i), 0.25 * i if i % 2 else None)
            for i, t in enumerate(terms)]
    write_dict_segment(rows, tmp_path, block_size=4)
    seg = DictSegment(tmp_path)
    part = seg._part(0)
    probes = terms + ["", "aa", "abcde", "abce", "ad", "bzz", "y", "zzzz",
                      "a\x00", "abb", "b" * 40]
    from bisect import bisect_right
    for p in probes:
        tb = p.encode()
        bi = bisect_right(part.leaders, tb) - 1
        if bi < 0:
            continue
        decoded = {t: (df, idf, mt) for t, df, idf, mt in part.block(bi)}
        want = None
        if tb in decoded:
            df, idf, mt = decoded[tb]
            want = {"df": df, "idf": idf,
                    "max_tfnorm": None if mt != mt else mt}
        assert part.scan_block(bi, tb) == want, p
    seg.close()


def test_cold_scan_promotes_hot_blocks(tmp_path):
    """First probe of a block uses the no-alloc scan; the second decodes
    it into the LRU, after which lookups serve from the cache."""
    terms = [f"term{i:04d}" for i in range(256)]
    write_dict_segment([(t, 1, 1.0, None) for t in terms], tmp_path,
                       block_size=16)
    seg = DictSegment(tmp_path)
    assert seg.lookup(["term0005"])["term0005"]["df"] == 1
    assert len(seg._block_cache) == 0          # cold: scan only
    assert seg.lookup(["term0007"])["term0007"]["df"] == 1
    assert len(seg._block_cache) == 1          # second touch: promoted
    assert seg.lookup(["term0005"])["term0005"]["df"] == 1  # from cache
    seg.close()


def test_row_field_order_respected(tmp_path):
    """r4 ADVICE: pyspark Row is a tuple subclass — the writer must
    dispatch on FIELDS first, or a Row ordered other than
    (term, df, idf, max_tfnorm) silently writes wrong df/idf."""
    from pyspark.sql import Row

    rows = [Row(idf=2.5, term="a", max_tfnorm=1.25, df=7),
            Row(idf=1.5, term="b", max_tfnorm=None, df=3)]
    write_dict_segment(rows, tmp_path)
    seg = DictSegment(tmp_path)
    assert seg.get("a") == {"df": 7, "idf": 2.5, "max_tfnorm": 1.25}
    assert seg.get("b") == {"df": 3, "idf": 1.5, "max_tfnorm": None}
    seg.close()
    # Rows WITHOUT the optional max_tfnorm field default it to None
    import shutil
    shutil.rmtree(tmp_path)
    write_dict_segment([Row(df=4, term="c", idf=0.5)], tmp_path)
    seg = DictSegment(tmp_path)
    assert seg.get("c") == {"df": 4, "idf": 0.5, "max_tfnorm": None}
    seg.close()


def test_unsorted_input_rejected(tmp_path):
    with pytest.raises(ValueError, match="sorted"):
        write_dict_segment([("b", 1, 1.0, None), ("a", 1, 1.0, None)],
                           tmp_path)
    with pytest.raises(ValueError, match="sorted"):
        write_dict_segment([("a", 1, 1.0, None), ("a", 1, 1.0, None)],
                           tmp_path)


@settings(max_examples=30, deadline=None)
@given(st.sets(st.text(alphabet="ab_0é", min_size=1, max_size=12),
               min_size=1, max_size=300),
       st.integers(min_value=1, max_value=17))
def test_roundtrip_property(tmp_path_factory, terms, block_size):
    tmp = tmp_path_factory.mktemp("seg")
    rows = _rows(terms)
    write_dict_segment(rows, tmp, block_size=block_size)
    seg = DictSegment(tmp)
    for t, df, idf, mt in rows:
        assert seg.get(t) == {"df": df, "idf": idf, "max_tfnorm": mt}
    # absent probes: mutations of present terms
    for t, *_ in rows[:50]:
        if t + "x" not in terms:
            assert seg.get(t + "x") is None
    seg.close()


def test_index_handle_uses_segment(spark, tmp_path):
    """An index built with the dictseg stage must serve lookups from the
    segment (no collected map) and stay rank-identical."""
    from harvester_spark.fixtures.corpus import make_corpus
    from harvester_spark.operators.bm25 import open_index
    from harvester_spark.operators.docids import assign_doc_ids
    from harvester_spark.operators.index_build import IndexConfig, build_index

    docs = assign_doc_ids(spark.createDataFrame(make_corpus(300, seed=7)))
    d = str(tmp_path / "idx")
    build_index(spark, docs, d,
                cfg=IndexConfig(salt_df_threshold=200, salt_range_docs=500))
    h = open_index(spark, d)
    assert h.dict_segment is not None
    seg_info = h.lookup(["import", "def", "qqzz_absent"])
    assert "qqzz_absent" not in seg_info and "import" in seg_info

    # parity with the dictionary table the segment was written from
    from harvester_spark import tables
    dic = tables.read_table(spark, f"{d}/dictionary")
    rows = dic.filter(dic.term.isin(["import", "def"])).collect()
    want = {r["term"]: r for r in rows}
    for t in ("import", "def"):
        assert seg_info[t]["df"] == want[t]["df"]
        assert math.isclose(seg_info[t]["idf"], want[t]["idf"],
                            rel_tol=1e-12)
    got = h.topk_local("import numpy", 5)
    assert len(got) == 5
    h.unpersist()
    # without a committed segment the index cannot be opened
    (tmp_path / "idx" / "dictseg" / tables.SUCCESS_MARKER).unlink()
    with pytest.raises(FileNotFoundError, match="dictseg"):
        open_index(spark, d)


def test_parquet_fast_path_matches_spark_writer(spark, tmp_path,
                                                monkeypatch):
    """The zero-Spark-job pyarrow writer (small vocabularies) and the
    distributed writer must produce segments with identical lookups on the
    same stage tables, including absent max_tfnorm; the dispatcher picks
    the distributed writer above its term cap and raises when the
    dictionary stage is missing."""
    import pandas as pd

    from harvester_spark.operators import dictseg

    terms = [f"t{i:05d}" for i in range(997)]
    dic = pd.DataFrame({"term": terms,
                        "df": [(i % 50) + 1 for i in range(997)],
                        "idf": [1.0 + (i % 7) / 7 for i in range(997)]})
    ub = pd.DataFrame({"term": terms[::2],   # half the terms have a UB
                       "max_tfnorm": [0.25 + (i % 3) for i in
                                      range(len(terms[::2]))]})
    spark.createDataFrame(dic).write.parquet(str(tmp_path / "dictionary"))
    spark.createDataFrame(ub).write.parquet(str(tmp_path / "term_ub"))

    out_a = tmp_path / "seg_pyarrow"
    info = dictseg.write_index_segment(spark, tmp_path, out_a)
    assert info["writer"] == "driver" and info["n_terms"] == 997

    sdf = (spark.read.parquet(str(tmp_path / "dictionary"))
           .join(spark.read.parquet(str(tmp_path / "term_ub")), "term",
                 "left")
           .select("term", "df", "idf", "max_tfnorm"))
    out_b = tmp_path / "seg_spark"
    dictseg.write_dict_segment_spark(sdf, out_b, n_terms=997)

    sa, sb = DictSegment(out_a), DictSegment(out_b)
    for t in terms:
        assert sa.get(t) == sb.get(t), t
    assert sa.get(terms[1])["max_tfnorm"] is None  # odd index: no UB row
    sa.close(), sb.close()

    # above the term cap: the dispatcher takes the distributed writer
    monkeypatch.setattr(dictseg, "DRIVER_MAX_TERMS", 100)
    out_c = tmp_path / "seg_dispatched"
    info = dictseg.write_index_segment(spark, tmp_path, out_c)
    assert info["writer"] == "distributed" and info["n_terms"] == 997
    sc = DictSegment(out_c)
    assert all(sc.get(t) == sb.get(t) for t in terms)
    sc.close()
    # a missing dictionary stage raises, naming the stage
    with pytest.raises(FileNotFoundError, match="dictionary"):
        dictseg.write_index_segment(spark, tmp_path / "nope",
                                    tmp_path / "y")


def test_distributed_writer_matches_driver_writer(spark, tmp_path):
    """write_dict_segment_spark must produce a segment with identical
    lookup results to the driver-streamed writer, across part splits."""
    import random

    from harvester_spark.operators.dictseg import write_dict_segment_spark

    rng = random.Random(5)
    terms = sorted({"".join(rng.choices("abcdef_", k=rng.randint(2, 9)))
                    for _ in range(3000)})
    rows = _rows(terms)
    d1 = tmp_path / "driver"
    write_dict_segment(rows, d1, block_size=16)

    df = spark.createDataFrame(rows, "term string, df long, idf double, "
                                     "max_tfnorm double")
    d2 = tmp_path / "spark"
    info = write_dict_segment_spark(df.orderBy(F.rand(seed=1)), d2,
                                    block_size=16, terms_per_part=500)
    assert info["n_terms"] == len(terms)
    assert info["n_parts"] > 1, "want a real multi-part segment"
    assert is_committed(d2)

    s1, s2 = DictSegment(d1), DictSegment(d2)
    for t, df_, idf, mt in rows:
        assert s2.get(t) == s1.get(t) == {"df": df_, "idf": idf,
                                          "max_tfnorm": mt}
    for t in list(terms)[:200]:
        assert s2.get(t + "zz") is None
    s1.close()
    s2.close()


def test_close_reopen_serves_fresh_blocks(tmp_path):
    """Regression: the decoded-block LRU must not serve stale entries
    after close()/reopen (old id()-keyed cache could alias a freed part's
    address); close clears the cache and lookups stay correct."""
    terms = sorted(f"term{i:04d}" for i in range(500))
    rows = _rows(terms)
    write_dict_segment(rows, tmp_path, block_size=8)
    seg = DictSegment(tmp_path)
    before = {t: seg.get(t) for t, *_ in rows[:50]}
    assert len(seg._block_cache) > 0
    seg.close()
    assert len(seg._block_cache) == 0
    after = {t: seg.get(t) for t, *_ in rows[:50]}  # lazily reopens
    assert after == before
    seg.close()
