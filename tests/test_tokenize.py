import duckdb
import pandas as pd
from pyspark.sql import functions as F

from harvester_spark.functions.tokenize import (TOKENIZE_SQL, doc_len_expr,
                                                term_frequencies_pandas,
                                                tokenize_pandas, tokens_expr)

SAMPLES = [
    "import numpy as np",
    "  Def Foo_Bar(x):  return x+1 ",
    "",
    "a;b,c.d//e",
    "UPPER lower 123 _under __dunder__",
    "tab\tnewline\nmix",
]


def test_pandas_tokenizer_golden():
    out = tokenize_pandas(pd.Series(SAMPLES))
    assert out.iloc[0] == ["import", "numpy", "as", "np"]
    assert out.iloc[1] == ["def", "foo_bar", "x", "return", "x", "1"]
    assert out.iloc[2] == []
    assert out.iloc[3] == ["a", "b", "c", "d", "e"]
    assert out.iloc[4] == ["upper", "lower", "123", "_under", "__dunder__"]


def test_spark_matches_pandas(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)],
                               "i int, content string")
    got = {r["i"]: r["toks"] for r in
           df.select("i", tokens_expr("content").alias("toks")).collect()}
    want = tokenize_pandas(pd.Series(SAMPLES))
    for i in range(len(SAMPLES)):
        assert got[i] == want.iloc[i], SAMPLES[i]


def test_duckdb_matches_pandas():
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(SAMPLES)), "content": SAMPLES}))
    expr = TOKENIZE_SQL.format(col="content")
    rows = con.sql(f"select i, {expr} as toks from t order by i").fetchall()
    want = tokenize_pandas(pd.Series(SAMPLES))
    for i, toks in rows:
        assert toks == want.iloc[i], SAMPLES[i]


def test_term_frequencies():
    tf = term_frequencies_pandas(pd.Series(["a b a c a", "b b", ""]))
    d = {(p, t): int(c) for p, t, c in zip(tf["_pos"], tf["term"], tf["tf"])}
    assert d == {(0, "a"): 3, (0, "b"): 1, (0, "c"): 1, (1, "b"): 2}


def test_three_engine_fuzz_parity(spark):
    """Seeded random strings (ASCII + punctuation + whitespace + long
    runs) must tokenize identically in Spark, pandas/pyarrow, and DuckDB."""
    import random
    rng = random.Random(42)
    alphabet = ("abcXYZ019_ \t\n.,;:!?/\\()[]{}<>#@$%^&*-+='\"`~|"
                + "é中")  # é, 中 — non-ASCII must split cleanly
    samples = ["".join(rng.choice(alphabet)
                       for _ in range(rng.randint(0, 120)))
               for _ in range(300)]
    want = tokenize_pandas(pd.Series(samples))

    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "i int, content string")
    got_spark = {r["i"]: r["t"] for r in
                 df.select("i", tokens_expr("content").alias("t")).collect()}
    for i in range(len(samples)):
        assert got_spark[i] == want.iloc[i], repr(samples[i])

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(samples)),
                                    "content": samples}))
    expr = TOKENIZE_SQL.format(col="content")
    for i, toks in con.sql(f"select i, {expr} from t order by i").fetchall():
        assert toks == want.iloc[i], repr(samples[i])


def test_doc_len_expr(spark):
    df = spark.createDataFrame([("a b  c",), ("",)], "content string")
    assert [r[0] for r in df.select(doc_len_expr("content")).collect()] == [3, 0]


def test_xxh64_numpy_matches_spark(spark, monkeypatch):
    """The vectorized numpy XXH64 must be BIT-EXACT vs Spark's xxhash64
    (seed 42) — every length class (empty, <4, 4..7, 8..31, exact 32,
    multi-stripe, stripe+every tail combination) plus unicode and random
    fuzz, on both the generic padded path and the length-class fast path
    that real shingle batches (≥2048 strings in few lengths) take.
    Exactness is what lets the dedup kernels swap in without moving a
    single signature."""
    import random
    import string

    import pyarrow as pa
    from pyspark.sql import functions as F

    from harvester_spark.functions.xxh64 import xxh64_arrow

    rng = random.Random(42)
    fixed = ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
             "abcdefghi", "0123456789abcdef", "x" * 31, "y" * 32,
             "z" * 33, "w" * 63, "v" * 64, "u" * 65, "t" * 100,
             "Mixed CASE with spaces", "uni-ïçødé-中文-🎉", "tok_7 42"]
    fuzz = ["".join(rng.choice(string.printable) for _ in range(rng.randrange(0, 120)))
            for _ in range(500)]
    vals = fixed + fuzz
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    want = [r["h"] for r in
            df.select(F.xxhash64("s").alias("h")).collect()]
    got = xxh64_arrow(pa.array(vals, type=pa.string())).tolist()
    assert got == want

    # length-class fast path: ≥2048 strings bunched in a few lengths
    from harvester_spark.functions import xxh64 as xx
    lengths = [0, 3, 7, 8, 31, 32, 33, 45, 70]
    bunched = ["".join(rng.choice(string.ascii_letters + "_ 0")
                       for _ in range(lengths[i % len(lengths)]))
               for i in range(2304)]
    by_length = xx._xxh64_by_length
    calls = []

    def spy(*a, **kw):
        calls.append(1)
        return by_length(*a, **kw)

    monkeypatch.setattr(xx, "_xxh64_by_length", spy)
    df = spark.createDataFrame([(v,) for v in bunched], "s string")
    want = [r["h"] for r in
            df.select(F.xxhash64("s").alias("h")).collect()]
    got = xxh64_arrow(pa.array(bunched, type=pa.string())).tolist()
    assert calls, "the length-class fast path did not run"
    assert got == want
