"""Driver contract for the spark-graft builder (PySpark target).

Every entry pairs a Spark implementation (harvester_spark operators) with an
independently-written DuckDB oracle over the same parquet tables. Float
outputs are exported as ``*_x10k`` bigints (round(value*10000)) and top-k
selections order on the rounded value + id so both engines pick identical
row sets. Entries without an ``oracle_sql`` (MinHash/SimHash/LSH/WAND) are
approximation or hash-scheme paths verified instead by pytest against
in-repo exhaustive oracles (tests/test_dedup.py, tests/test_bm25.py).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvester_spark.functions.text import (add_slash, ark_extract,
                                            facet_decade, fix_repeated_year,
                                            make_date, normalize_type,
                                            sort_title)
from harvester_spark.functions.tokenize import doc_len_expr, tokens_expr
from harvester_spark.operators.bm25 import (bm25_scores, query_topk_index,
                                            tokenize_query)
from harvester_spark.operators.dedup import (minhash_lsh_pairs, shingles_expr,
                                             simhash_near_pairs)
from harvester_spark.operators.index_build import IndexConfig, build_index
from harvester_spark.operators.similarity import (cosine_topk, lsh_cosine_topk)
from harvester_spark.operators.textstats import (LANG_STOPWORDS, fingerprint,
                                                 langid, quality_features)

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

TOKS = "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9_]+'), t -> t <> '')"
DOC_TOKS = TOKS.format(c="text")

X10K = "CAST(round(({v}) * 10000) AS BIGINT)"


def _x10k(col: F.Column) -> F.Column:
    return F.round(col * 10000).cast("long")


def _bm25_sql(terms: list[str], k: int, mode: str = "or") -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    and_filter = f"WHERE nt = {len(terms)}" if mode == "and" else ""
    return f"""
WITH dl AS (
  SELECT doc_id, len({DOC_TOKS}) AS dl FROM documents
),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
toks AS (
  SELECT doc_id, unnest({DOC_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS part
  FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
agg AS (SELECT doc_id, sum(part) AS score, count(*) AS nt FROM scored GROUP BY doc_id)
SELECT doc_id, {X10K.format(v='score')} AS score_x10k
FROM agg {and_filter}
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _dejson_deep_sql(x: str, d: int) -> str:
    """Bounded-depth dejson recursion as a DuckDB JSON expression —
    independently derived from the same published algorithm
    (solr_updater.py:137-180) that harvester_spark.functions.nested.
    dejson_deep implements over VariantType: arrays map element-wise,
    objects pick first non-null of item/name/text (falsy keeps the dict),
    string scalars that parse as JSON objects unpack their name."""
    if d <= 0:
        return x
    inner = _dejson_deep_sql(f"x{d}", d - 1)
    arr = (f"CASE WHEN json_type({x}) = 'ARRAY' THEN "
           f"to_json(list_transform(CAST({x} AS JSON[]), "
           f"x{d} -> {inner}))::JSON END")
    pick = (f"CASE WHEN json_type({x}) = 'OBJECT' THEN list_transform("
            f"[coalesce(json_extract({x}, '$.item'), "
            f"json_extract({x}, '$.name'), json_extract({x}, '$.text'))], "
            f"g{d} -> CASE WHEN g{d} IS NOT NULL "
            f"AND NOT (json_type(g{d}) = 'VARCHAR' AND g{d}::VARCHAR = '\"\"') "
            f"AND NOT (json_type(g{d}) = 'ARRAY' "
            f"AND json_array_length(g{d}) = 0) THEN g{d} END)[1] END")
    emb = (f"CASE WHEN json_type({x}) = 'VARCHAR' "
           f"AND json_valid(json_extract_string({x}, '$')) THEN "
           f"json_extract(json_extract_string({x}, '$')::JSON, '$.name') END")
    return f"coalesce({arr}, {pick}, {emb}, {x})"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _bm25_entry(query: str, k: int, mode: str = "or"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        scores = bm25_scores(_docs(spark, sf_dir), query,
                             content_col="text", mode=mode)
        return (scores.select("doc_id", _x10k(F.col("score")).alias("score_x10k"))
                .orderBy(F.desc("score_x10k"), F.asc("doc_id")).limit(k))
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a 3-term query over sf0.001 documents."""
    return _bm25_entry("query data join", 10)(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- index-build statistics (SURVEY §2.5 df/cf/N/avgdl) ----
    def corpus_stats(spark, sf):
        return _docs(spark, sf).agg(
            F.count("*").alias("n_docs"),
            _x10k(F.avg(doc_len_expr("text"))).alias("avgdl_x10k"))
    q["corpus_stats"] = corpus_stats

    def doc_lengths(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", doc_len_expr("text").cast("long").alias("dl"))
    q["doc_lengths"] = doc_lengths

    def term_stats(spark, sf):
        toks = _docs(spark, sf).select(
            "doc_id", F.explode(tokens_expr("text")).alias("term"))
        tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        return (tf.groupBy("term")
                .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
                .orderBy(F.desc("df"), F.asc("term")).limit(100))
    q["term_stats"] = term_stats

    # ---- BM25 ranked retrieval (the Solr-query replacement) ----
    q["bm25_topk_common"] = _bm25_entry("batch", 10)
    q["bm25_topk_rare"] = _bm25_entry("dup", 10)
    q["bm25_topk_multi"] = _bm25_entry("query data join", 10)
    q["bm25_topk_and"] = _bm25_entry("table scan", 10, mode="and")

    def bm25_index_topk(spark, sf):
        # full physical path: build compressed index → decode → score
        docs = _docs(spark, sf)
        d = tempfile.mkdtemp(prefix="hs_idx_") + "/idx"
        build_index(spark, docs, d, content_col="text",
                    cfg=IndexConfig(salt_df_threshold=200, salt_range_docs=256))
        scores = query_topk_index(spark, d, "query data join",
                                  k=10_000_000, prune=False)
        return (scores.select("doc_id", _x10k(F.col("score")).alias("score_x10k"))
                .orderBy(F.desc("score_x10k"), F.asc("doc_id")).limit(10))
    q["bm25_index_topk"] = bm25_index_topk

    def bm25_wand_topk(spark, sf):
        # pruned WAND path. Pruning is exact on raw-score rank (pytest
        # proves pruned == exhaustive), so the oracle is the same BM25 SQL;
        # over-fetch raw top-200 then re-rank on rounded score so boundary
        # rounding ties resolve identically in both engines.
        docs = _docs(spark, sf)
        d = tempfile.mkdtemp(prefix="hs_wand_") + "/idx"
        build_index(spark, docs, d, content_col="text",
                    cfg=IndexConfig(salt_df_threshold=200, salt_range_docs=256))
        scores = query_topk_index(spark, d, "query data join", 200,
                                  prune=True)
        return (scores.select("doc_id",
                              _x10k(F.col("score")).alias("score_x10k"))
                .orderBy(F.desc("score_x10k"), F.asc("doc_id")).limit(10))
    q["bm25_wand_topk"] = bm25_wand_topk

    # ---- exact lookup + delete-by-query (solr_updater.py:793-817,929) ----
    def doc_lookup(spark, sf):
        return (_docs(spark, sf).filter(F.col("doc_id") == 42)
                .select("doc_id", "lang", "source", "n_chars"))
    q["doc_lookup"] = doc_lookup

    def delete_by_query(spark, sf):
        docs = _docs(spark, sf)
        hits = (docs.select("doc_id",
                            F.explode(tokens_expr("text")).alias("t"))
                .filter(F.col("t") == "slow").select("doc_id").distinct())
        kept = docs.join(hits, "doc_id", "left_anti")
        return kept.groupBy("lang").agg(F.count("*").alias("n")).orderBy("lang")
    q["delete_by_query"] = delete_by_query

    # ---- dedup family ----
    def exact_dup_stats(spark, sf):
        docs = _docs(spark, sf)
        return docs.agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_unique"))
    q["exact_dup_stats"] = exact_dup_stats

    def fingerprints(spark, sf):
        return (fingerprint(_docs(spark, sf).filter(F.col("doc_id") < 50),
                            content_col="text")
                .orderBy("doc_id"))
    q["fingerprints"] = fingerprints

    def ngram_jaccard_probe(spark, sf):
        docs = _docs(spark, sf)
        probe = docs.filter(F.col("doc_id") == 0) \
                    .select(shingles_expr("text", 3).alias("shs_b"))
        rest = docs.filter((F.col("doc_id") > 0) & (F.col("doc_id") < 200)) \
                   .select("doc_id", shingles_expr("text", 3).alias("shs_a"))
        return (rest.crossJoin(F.broadcast(probe))
                .select("doc_id", _x10k(
                    F.size(F.array_intersect("shs_a", "shs_b"))
                    / F.size(F.array_union("shs_a", "shs_b")))
                    .alias("jaccard_x10k")))
    q["ngram_jaccard_probe"] = ngram_jaccard_probe

    def minhash_pairs(spark, sf):
        # oracle-checkable: exact-Jaccard-verified pairs over LSH
        # candidates; at driver SF the corpus's similarity gap (pairs are
        # either >=0.8 or <0.5) makes banded recall deterministically 1,
        # so the output equals DuckDB's exhaustive shingle-join (asserted
        # in tests/test_dedup.py against the exhaustive pair set).
        # Component-complete: byte-identical docs collapse to star pairs
        # (jaccard 1.0) around a representative, mirrored in the oracle.
        return (minhash_lsh_pairs(_docs(spark, sf), content_col="text",
                                  jaccard_threshold=0.7)
                .select("doc_a", "doc_b",
                        _x10k(F.col("jaccard")).alias("jaccard_x10k")))
    q["minhash_pairs"] = minhash_pairs

    def simhash_pairs(spark, sf):
        # oracle-checkable: fingerprints built on the md5-prefix token
        # hash (bit-identical in DuckDB — token_hash="md5"), and Manku
        # blocking is exhaustive-recall by pigeonhole, so pairs equal the
        # oracle's all-pairs popcount scan. Output is component-complete:
        # identical fingerprints collapse to star pairs (hamming 0).
        return simhash_near_pairs(_docs(spark, sf), content_col="text",
                                  max_hamming=3, token_hash="md5")
    q["simhash_pairs"] = simhash_pairs

    # ---- text analysis ----
    def quality_feature_ints(spark, sf):
        docs = _docs(spark, sf).filter(F.col("doc_id") < 100)
        toks = tokens_expr("text")
        en = LANG_STOPWORDS["en"]
        return docs.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
            .cast("long").alias("n_alpha"),
            F.length(F.regexp_replace("text", r"[A-Za-z0-9_\s]", ""))
            .cast("long").alias("n_punct"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            F.size(F.filter(toks, lambda t: t.isin(en)))
            .cast("long").alias("n_stop"))
    q["quality_feature_ints"] = quality_feature_ints

    def quality_scores(spark, sf):
        return (quality_features(_docs(spark, sf), content_col="text")
                .select("doc_id", _x10k(F.col("quality_score")).alias("q_x10k")))
    q["quality_scores"] = quality_scores

    def langid_dist(spark, sf):
        return (langid(_docs(spark, sf), content_col="text")
                .groupBy("lang_pred").agg(F.count("*").alias("n"))
                .orderBy("lang_pred"))
    q["langid_dist"] = langid_dist

    def token_counts(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", doc_len_expr("text").cast("long").alias("n_tokens"),
            F.size(F.array_distinct(tokens_expr("text")))
            .cast("long").alias("n_distinct"))
    q["token_counts"] = token_counts

    def dedupe_tokens_first_wins(spark, sf):
        # order-preserving in-list dedup (dedupe_sourceresource.py:4-17)
        return (_docs(spark, sf).filter(F.col("doc_id") < 50)
                .select("doc_id",
                        F.concat_ws(" ", F.array_distinct(tokens_expr("text")))
                        .alias("deduped")))
    q["dedupe_tokens_first_wins"] = dedupe_tokens_first_wins

    # ---- similarity search ----
    def cosine_topk_q(spark, sf):
        emb = _emb(spark, sf)
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        scores = cosine_topk(emb, qv, k=10_000_000)
        return (scores.select("vec_id", _x10k(F.col("cosine")).alias("cos_x10k"))
                .orderBy(F.desc("cos_x10k"), F.asc("vec_id")).limit(10))
    q["cosine_topk"] = cosine_topk_q

    def ivf_cosine_topk(spark, sf):
        # IVF inverted-file ANN; nprobe = n_centroids degrades to EXACT
        # brute force, so the oracle is the same cosine SQL
        from harvester_spark.operators.similarity import (build_ivf_index,
                                                          query_ivf_index)
        emb = _emb(spark, sf)
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        d = tempfile.mkdtemp(prefix="hs_ivf_")
        build_ivf_index(emb, d, n_centroids=8, seed=42)
        scores = query_ivf_index(spark, d, qv, 10_000_000, nprobe=8)
        return (scores.select("vec_id",
                              _x10k(F.col("cosine")).alias("cos_x10k"))
                .orderBy(F.desc("cos_x10k"), F.asc("vec_id")).limit(10))
    q["ivf_cosine_topk"] = ivf_cosine_topk

    def lsh_cosine_q(spark, sf):
        # exact-anchor entry (same pattern as ivf_cosine_topk): probe
        # radius == n_planes probes every bucket, so the LSH machinery
        # (hyperplane bucketing + probe enumeration + semi-join) runs but
        # the candidate set degrades to the full table — output is exact
        # cosine top-k, shared oracle. ANN selectivity/recall at partial
        # probe radii is measured in tests/test_textstats_similarity.py.
        emb = _emb(spark, sf)
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        scores = lsh_cosine_topk(emb, qv, 10_000_000,
                                 n_planes=6, n_probe_bits=6)
        return (scores.select("vec_id", _x10k(F.col("cosine")).alias("cos_x10k"))
                .orderBy(F.desc("cos_x10k"), F.asc("vec_id")).limit(10))
    q["lsh_cosine_topk"] = lsh_cosine_q

    # ---- harvester scalar-function parity (SURVEY §2.9) ----
    def sort_titles(spark, sf):
        return (_docs(spark, sf).filter(F.col("doc_id") < 100)
                .select("doc_id", sort_title(F.col("text")).alias("sort_key")))
    q["sort_titles"] = sort_titles

    def facet_decades(spark, sf):
        return (_events(spark, sf)
                .select(facet_decade(F.year("ts")).alias("decade"))
                .groupBy("decade").agg(F.count("*").alias("n"))
                .orderBy("decade"))
    q["facet_decades"] = facet_decades

    def props_extract(spark, sf):
        return (_events(spark, sf)
                .select(F.get_json_object("props", "$.k").cast("long")
                        .alias("k_val"))
                .groupBy("k_val").agg(F.count("*").alias("n"))
                .orderBy("k_val"))
    q["props_extract"] = props_extract

    def required_fields(spark, sf):
        # required-field predicate (solr_updater.py:445-473): docs must
        # have a title-ish text, an id, and a well-formed URL; rejects
        # tallied per reason like the reference's report (:841-871)
        url = (F.when(F.col("doc_id") % 7 == 0, F.lit("notaurl"))
               .otherwise(F.concat(F.lit("https://h.org/d/"),
                                   F.col("doc_id").cast("string"))))
        d = _docs(spark, sf).select(
            "doc_id",
            F.when(F.length("text") > 0, F.lit(None).cast("string"))
             .otherwise(F.lit("missing_title")).alias("r1"),
            F.when(url.rlike(r"^https?://[^/\s]+/.+"),
                   F.lit(None).cast("string"))
             .otherwise(F.lit("bad_url")).alias("r2"))
        reason = F.coalesce(F.col("r1"), F.col("r2"), F.lit("ok"))
        return (d.select(reason.alias("reason"))
                .groupBy("reason").agg(F.count("*").alias("n"))
                .orderBy("reason"))
    q["required_fields"] = required_fields

    # ---- nested/dynamic metadata + enrichment chain (SURVEY §2.9/§2.11) ----
    def dejson_flatten(spark, sf):
        # heterogeneous metadata values: JSON-with-name, JSON-without-name,
        # scalar JSON, plain string (dejson, solr_updater.py:137-180)
        from harvester_spark.functions.nested import dejson_str
        s = (F.when(F.col("event_id") % 4 == 0,
                    F.concat(F.lit('{"name": "n'),
                             (F.col("event_id") % 7).cast("string"),
                             F.lit('"}')))
             .when(F.col("event_id") % 4 == 1, F.lit('{"id": 3}'))
             .when(F.col("event_id") % 4 == 2, F.lit("plain text"))
             .otherwise(F.lit("17")))
        return (_events(spark, sf).filter(F.col("event_id") < 400)
                .select("event_id", dejson_str(s).alias("flat")))
    q["dejson_flatten"] = dejson_flatten

    def dejson_deep(spark, sf):
        # arbitrary-depth heterogeneous flatten via VariantType
        # (dejson recursion, solr_updater.py:137-180): 3+ nesting levels,
        # lists of dicts of lists, embedded JSON strings, falsy-extract
        # guard — per-row shape decided by event_id
        from harvester_spark.functions.nested import dejson_deep_str
        e = F.col("event_id")
        k = (e % 10).cast("string")
        j = (F.when(e % 6 == 0, F.concat(
                F.lit('[["s0", {"item": ["a'), k,
                F.lit('", "b"]}], {"name": "n'), k, F.lit('"}]')))
             .when(e % 6 == 1, F.concat(F.lit('{"text": "t'), k,
                                        F.lit('"}')))
             .when(e % 6 == 2, F.concat(
                F.lit('["{\\"name\\": \\"e'), k,
                F.lit('\\"}", "plain", 7]')))
             .when(e % 6 == 3, F.concat(F.lit('[[["deep'), k,
                                        F.lit('"]]]')))
             .when(e % 6 == 4, F.lit('[{"id": 9}, {"item": ""}]'))
             .otherwise(F.concat(F.lit('{"item": {"name": "inner'), k,
                                 F.lit('"}}'))))
        return (_events(spark, sf).filter(e < 300)
                .select("event_id", dejson_deep_str(j).alias("flat")))
    q["dejson_deep"] = dejson_deep

    def setprop_patch(spark, sf):
        # path-addressed nested mutation with substring replace
        # (batch_update_couchdb_by_collection.py:11-48)
        from harvester_spark.functions.nested import setprop
        nested = _docs(spark, sf).filter(F.col("doc_id") < 100).select(
            "doc_id",
            F.struct(
                F.struct(F.concat(F.lit("http://old-host/p/"),
                                  F.col("source")).alias("url"),
                         F.array(F.concat(F.col("source"), F.lit("@old")),
                                 F.lit("keep@old")).alias("tags"))
                .alias("meta")).alias("props"))
        patched = setprop(nested, "props/meta/url", "https://new-host",
                          substring="http://old-host")
        patched = setprop(patched, "props/meta/tags", "new", substring="old")
        return patched.select(
            "doc_id", F.col("props.meta.url").alias("url"),
            F.concat_ws(",", F.col("props.meta.tags")).alias("tags"))
    q["setprop_patch"] = setprop_patch

    def map_dates_nested(spark, sf):
        # date structs/lists → displays + min-start/min-end with symmetric
        # fill (unpack_date/map_date, solr_updater.py:228-299)
        from harvester_spark.functions.nested import map_date_expr
        e = F.col("event_id")
        d1 = F.struct(
            F.concat(F.lit("c. "), (1900 + e % 80).cast("string"))
            .alias("displayDate"),
            F.when(e % 3 != 0, (1900 + e % 80).cast("string")).alias("begin"),
            F.when(e % 5 != 0, F.concat((1900 + e % 80).cast("string"),
                                        F.lit("-06-30"))).alias("end"))
        d2 = F.struct(F.lit("later").alias("displayDate"),
                      (1950 + e % 10).cast("string").alias("begin"),
                      F.lit(None).cast("string").alias("end"))
        m = map_date_expr(F.array(d1, d2))
        return (_events(spark, sf).filter(e < 300)
                .select("event_id",
                        F.concat_ws("|", m["date"]).alias("displays"),
                        F.coalesce(F.date_format(m["sort_date_start"],
                                                 "yyyy-MM-dd"), F.lit("none"))
                        .alias("start_date"),
                        F.coalesce(F.date_format(m["sort_date_end"],
                                                 "yyyy-MM-dd"), F.lit("none"))
                        .alias("end_date")))
    q["map_dates_nested"] = map_dates_nested

    def facet_decade_full(spark, sf):
        # display-date STRINGS incl. ranges → decade buckets + 'unknown'
        # (public facet_decade semantics behind solr_updater.py:547-558)
        from harvester_spark.functions.nested import facet_decade_display
        e = F.col("event_id")
        s = (F.when(e % 5 == 0,
                    F.concat(F.lit("circa "), (1900 + e % 60).cast("string"),
                             F.lit("-"), (1910 + e % 60).cast("string")))
             .when(e % 5 == 1, (1800 + e % 100).cast("string"))
             .when(e % 5 == 2, F.lit("n.d."))
             .when(e % 5 == 3, F.concat(F.lit("between 999 and 99999 in "),
                                        (1950 + e % 9).cast("string")))
             .otherwise(F.lit("21054")))
        return (_events(spark, sf)
                .select(F.explode(facet_decade_display(s)).alias("decade"))
                .groupBy("decade").agg(F.count("*").alias("n"))
                .orderBy("decade"))
    q["facet_decade_full"] = facet_decade_full

    def props_map_keys(spark, sf):
        # dynamic-schema metadata → MapType; key histogram
        # (emuseum_fetcher.py:26-63 dynamic field names)
        from harvester_spark.functions.nested import json_to_map
        return (_events(spark, sf)
                .select(F.explode(F.map_keys(json_to_map("props")))
                        .alias("key"))
                .groupBy("key").agg(F.count("*").alias("n")).orderBy("key"))
    q["props_map_keys"] = props_map_keys

    def media_exists(spark, sf):
        # media-exists predicate as a manifest anti-join
        # (check_nuxeo_media, solr_updater.py:665-685)
        from harvester_spark.plans.transforms import media_exists_split
        docs = _docs(spark, sf).withColumn(
            "media_url",
            F.when(F.col("doc_id") % 5 != 0,
                   F.concat(F.lit("s3://assets/"),
                            F.col("doc_id").cast("string"))))
        manifest = (_docs(spark, sf).filter(F.col("doc_id") % 3 != 0)
                    .select(F.concat(F.lit("s3://assets/"),
                                     F.col("doc_id").cast("string"))
                            .alias("media_url")))
        kept, omitted = media_exists_split(docs, manifest)
        return (kept.select(F.lit("kept").alias("status"))
                .unionByName(omitted.select(F.lit("omitted").alias("status")))
                .groupBy("status").agg(F.count("*").alias("n"))
                .orderBy("status"))
    q["media_exists"] = media_exists

    def transform_chain(spark, sf):
        # the per-collection enrichment chain, profile-style specs
        # (enrich_existing_couch_doc.py:22-62 + registry profile
        # collection_registry_client.py:123-140)
        from harvester_spark.plans.transforms import apply_chain
        src = _docs(spark, sf).filter(F.col("doc_id") < 200).select(
            "doc_id",
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit('{"name": "The '), F.col("source"),
                            F.lit(' Archive"}')))
             .otherwise(F.col("source")).alias("title_raw"),
            F.concat(F.lit("https://reg/"), F.col("source")).alias("url"))
        out = apply_chain(src, [
            "dejson?col=title_raw&dest=title",
            "sort_title?col=title&dest=sort_key",
            "add_slash?col=url",
            "constant?dest=rights&value=public",
            "require_fields?cols=title,url",
        ])
        return out.select("doc_id", "title", "sort_key", "url", "rights")
    q["transform_chain"] = transform_chain

    def xml_records_extract(spark, sf):
        # XML grouped scan → badgerfish records → field extraction
        # (oac/cmis/static-XML fetchers; etree→dict conversion)
        from harvester_spark.sources.xmlmarc import parse_xml_records
        e = F.col("event_id")
        xml = F.concat(
            F.lit('<set><rec id="r'), e.cast("string"),
            F.lit('"><title>T '), e.cast("string"),
            F.lit("</title><subject>s"), (e % 3).cast("string"),
            F.lit("</subject></rec></set>"))
        src = (_events(spark, sf).filter(e < 300)
               .select("event_id", xml.alias("xml")))
        recs = parse_xml_records(src, "xml", "rec", id_col="event_id")
        return recs.select(
            F.col("id").alias("event_id"),
            F.get_json_object("record_json", "$['@id']").alias("rid"),
            F.get_json_object("record_json", "$.title").alias("title"),
            F.get_json_object("record_json", "$.subject").alias("subject"))
    q["xml_records_extract"] = xml_records_extract

    def marc_title_extract(spark, sf):
        # binary ISO 2709 MARC scan → parsed fields → 245$a
        # (marc_fetcher.py / pymarc role, stdlib byte-slicing kernel)
        import pandas as _pd

        from harvester_spark.sources.xmlmarc import (marc_bytes,
                                                     parse_marc_records)

        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                yield _pd.DataFrame({
                    "event_id": pdf["event_id"].astype("int64"),
                    "blob": [bytearray(marc_bytes(
                        {"001": f"id{int(i)}"},
                        [("245", "0", "0", [("a", f"Title {int(i)}")])]))
                        for i in pdf["event_id"]]})

        src = (_events(spark, sf).filter(F.col("event_id") < 300)
               .select("event_id")
               .mapInPandas(gen, "event_id long, blob binary"))
        recs = parse_marc_records(src, "blob", id_col="event_id")
        return recs.select(
            F.col("id").alias("event_id"),
            F.get_json_object("marc_json", "$.controls.001").alias("ctl"),
            F.get_json_object("marc_json",
                              "$.fields[0].subfields.a[0]").alias("title"))
    q["marc_title_extract"] = marc_title_extract

    def ark_synthesis(spark, sf):
        # campus-specific ark synthesis (solr_updater.py:320-359)
        from harvester_spark.functions.text import ucla_ark, ucsd_ark
        d = F.col("doc_id")
        frag = F.when(d % 3 == 0, F.concat(F.lit("bb"), d.cast("string")))
        mangled = (F.when(d % 3 == 1,
                          F.concat(F.lit("21198-zz"), d.cast("string")))
                   .when(d % 3 == 2, F.lit("badid")))
        return (_docs(spark, sf).filter(d < 200)
                .select("doc_id",
                        F.coalesce(ucsd_ark(frag), ucla_ark(mangled),
                                   F.lit("none")).alias("ark")))
    q["ark_synthesis"] = ark_synthesis

    def fallback_chain(spark, sf):
        # 4-way coalesce fallback over alternative source fields
        # (nuxeo deep-scan href chain)
        from harvester_spark.functions.text import first_non_blank
        d = F.col("doc_id")
        a = F.when(d % 4 == 0, F.concat(F.lit("a:"), F.col("source")))
        b = F.when(d % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("b:"), F.col("source")))
        c = F.lit("")
        fallback = F.concat(F.lit("f:"), d.cast("string"))
        return (_docs(spark, sf).filter(d < 200)
                .select("doc_id",
                        first_non_blank(a, b, c, fallback).alias("href")))
    q["fallback_chain"] = fallback_chain

    def upsert_tally_q(spark, sf):
        # created/updated/unchanged sync tally
        # (couchdb_sync_db_by_collection.py:120-131)
        from harvester_spark.plans.transforms import upsert_tally
        docs = _docs(spark, sf)
        existing = docs.filter(F.col("doc_id") % 5 != 0) \
                       .select("doc_id", "text")
        incoming = docs.filter(F.col("doc_id") < 400).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.col("text"), F.lit(" changed")))
             .otherwise(F.col("text")).alias("text"))
        return upsert_tally(existing, incoming, "doc_id", ["text"])
    q["upsert_tally"] = upsert_tally_q

    def per_collection_chains(spark, sf):
        # one enrichment chain per collection (couchdb_runner.py:93-164)
        from harvester_spark.plans.transforms import apply_chains_by_collection
        src = _docs(spark, sf).filter(F.col("doc_id") < 300).select(
            "doc_id", "lang", F.col("source").alias("title"))
        out = apply_chains_by_collection(
            src, "lang",
            {"en": ["sort_title?col=title&dest=k",
                    "constant?dest=rights&value=cc-by"],
             "fr": ["constant?dest=rights&value=etalab"]},
            default=["constant?dest=rights&value=unknown"])
        return (out.select("doc_id", "lang",
                           F.coalesce(F.col("k"), F.lit("-")).alias("k"),
                           "rights"))
    q["per_collection_chains"] = per_collection_chains

    def sort_collection_key(spark, sf):
        # composite sort key 'sortname:name:url' (solr_updater.py:576-587)
        return (_docs(spark, sf).filter(F.col("doc_id") < 100)
                .select("doc_id", F.concat_ws(
                    ":", sort_title(F.col("source")), F.col("source"),
                    F.concat(F.lit("https://registry/"), F.col("source")))
                    .alias("sort_key")))
    q["sort_collection_key"] = sort_collection_key

    def registry_collect(spark, sf):
        # registry explode→agg composite (map_registry_data,
        # solr_updater.py:485-544): array-of-collection-structs → parallel
        # url/name/url::name[::campus] display arrays, shuffle-free
        from harvester_spark.functions.nested import map_registry_data_expr
        d = F.col("doc_id")
        k7 = (d % 7).cast("string")
        k5 = (d % 5).cast("string")
        campus_t = "array<struct<id:string,name:string>>"
        rcampus_t = "array<struct<name:string>>"
        repo1 = F.struct(
            F.concat(F.lit("http://registry/repo/"), k5).alias("id"),
            F.concat(F.lit("Repo "), k5).alias("name"),
            F.when(d % 2 == 0, F.array(F.struct(F.lit("UCX").alias("name"))))
            .otherwise(F.lit(None).cast(rcampus_t)).alias("campus"))
        repo2 = F.struct(
            F.concat(F.lit("http://registry/repo2/"), k7).alias("id"),
            F.lit("R2").alias("name"),
            F.lit(None).cast(rcampus_t).alias("campus"))
        c1 = F.struct(
            F.concat(F.lit("http://registry/api/coll/"), k7).alias("id"),
            F.concat(F.lit("Coll "), k7).alias("name"),
            F.when(d % 3 == 0, F.array(F.struct(
                F.lit("http://registry/campus/1").alias("id"),
                F.lit("UC One").alias("name"))))
            .otherwise(F.lit(None).cast(campus_t)).alias("campus"),
            F.array(repo1).alias("repository"))
        c2 = F.struct(
            F.concat(F.lit("http://registry/api/c2/"), k7).alias("id"),
            F.lit("Second").alias("name"),
            F.lit(None).cast(campus_t).alias("campus"),
            F.array(repo2).alias("repository"))
        colls = F.when(d % 4 == 0, F.array(c1, c2)).otherwise(F.array(c1))
        m = map_registry_data_expr(colls)
        return (_docs(spark, sf).filter(d < 200)
                .select("doc_id",
                        F.concat_ws("|", m["collection_data"])
                        .alias("coll_data"),
                        F.concat_ws("|", m["repository_data"])
                        .alias("repo_data"),
                        F.when(m["campus_data"].isNotNull(),
                               F.concat_ws("|", m["campus_data"]))
                        .otherwise("-").alias("campus_data")))
    q["registry_collect"] = registry_collect

    # ---- window / agg / pagination parity (SURVEY §2.5-2.7) ----
    def first_event_per_user(spark, sf):
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (_events(spark, sf)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", "event_id").orderBy("user_id"))
    q["first_event_per_user"] = first_event_per_user

    def events_histogram(spark, sf):
        return (_events(spark, sf).groupBy("event_type")
                .agg(F.count("*").alias("n")).orderBy("event_type"))
    q["events_histogram"] = events_histogram

    def events_hourly(spark, sf):
        return (_events(spark, sf)
                .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                       "yyyy-MM-dd HH:mm:ss").alias("hour"),
                         "event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value") * 100).cast("long")
                     .alias("sum_value_x100"))
                .orderBy("hour", "event_type").limit(500))
    q["events_hourly"] = events_hourly

    def keyset_page(spark, sf):
        # cursor-paginated scan (solr_fetcher.py:29-78 keyset pagination)
        return (_docs(spark, sf).orderBy("doc_id")
                .select("doc_id", "lang", "n_chars")
                .offset(100).limit(50))
    q["keyset_page"] = keyset_page

    def top_customers(spark, sf):
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        return (orders.join(F.broadcast(cust),
                            orders["o_custkey"] == cust["c_custkey"])
                .groupBy("c_mktsegment")
                .agg(F.count("*").alias("n_orders"),
                     F.round(F.sum("o_totalprice") * 100).cast("long")
                     .alias("total_x100"))
                .orderBy("c_mktsegment"))
    q["top_customers"] = top_customers

    def pricing_summary(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum("l_quantity") * 100).cast("long")
                     .alias("sum_qty_x100"),
                     F.round(F.sum("l_extendedprice") * 100).cast("long")
                     .alias("sum_price_x100"),
                     F.count("*").alias("count_order"))
                .orderBy("l_returnflag", "l_linestatus"))
    q["pricing_summary"] = pricing_summary

    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_QSCORE = (
    "least(n_tokens / 100.0, 1.0) * 0.3 "
    "+ (n_alpha / greatest(n_chars, 1)) * 0.3 "
    "+ (1.0 - least((n_punct / greatest(n_chars, 1)) * 4.0, 1.0)) * 0.2 "
    "+ (n_distinct / greatest(n_tokens, 1)) * 0.2")


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["corpus_stats"] = f"""
SELECT count(*) AS n_docs,
       {X10K.format(v=f'avg(len({DOC_TOKS}))')} AS avgdl_x10k
FROM documents
"""

    o["doc_lengths"] = f"SELECT doc_id, len({DOC_TOKS}) AS dl FROM documents"

    o["term_stats"] = f"""
WITH toks AS (SELECT doc_id, unnest({DOC_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
SELECT term, count(*) AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term
ORDER BY df DESC, term ASC LIMIT 100
"""

    o["bm25_topk_common"] = _bm25_sql(["batch"], 10)
    o["bm25_topk_rare"] = _bm25_sql(["dup"], 10)
    o["bm25_topk_multi"] = _bm25_sql(["query", "data", "join"], 10)
    o["bm25_topk_and"] = _bm25_sql(["table", "scan"], 10, mode="and")
    o["bm25_index_topk"] = _bm25_sql(["query", "data", "join"], 10)
    o["bm25_wand_topk"] = _bm25_sql(["query", "data", "join"], 10)

    o["doc_lookup"] = ("SELECT doc_id, lang, source, n_chars FROM documents "
                       "WHERE doc_id = 42")

    o["delete_by_query"] = f"""
WITH hits AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({DOC_TOKS}) AS t FROM documents) WHERE t = 'slow')
SELECT lang, count(*) AS n FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM hits)
GROUP BY lang ORDER BY lang
"""

    o["exact_dup_stats"] = ("SELECT count(*) AS n_docs, "
                            "count(DISTINCT sha256(text)) AS n_unique "
                            "FROM documents")

    o["fingerprints"] = f"""
SELECT doc_id,
       list_min(list_transform({DOC_TOKS}, t -> md5(t))) AS min_token_md5,
       md5(array_to_string(list_sort(list_distinct({DOC_TOKS})), ' ')) AS content_md5
FROM documents WHERE doc_id < 50 ORDER BY doc_id
"""

    # zero-token docs → empty shingle set (parity with shingles_expr)
    SHINGLES = (f"CASE WHEN len({DOC_TOKS}) = 0 THEN []::VARCHAR[] "
                f"ELSE list_distinct(list_transform("
                f"range(1, greatest(len({DOC_TOKS}) - 2, 1) + 1), "
                f"i -> concat_ws(' ', {DOC_TOKS}[i], {DOC_TOKS}[i+1], "
                f"{DOC_TOKS}[i+2]))) END")
    o["ngram_jaccard_probe"] = f"""
WITH sh AS (SELECT doc_id, {SHINGLES} AS shs FROM documents),
probe AS (SELECT shs AS shs_b FROM sh WHERE doc_id = 0)
SELECT sh.doc_id,
       {X10K.format(v="len(list_intersect(sh.shs, probe.shs_b))::DOUBLE / "
                      "(len(sh.shs) + len(probe.shs_b) "
                      "- len(list_intersect(sh.shs, probe.shs_b)))")}
         AS jaccard_x10k
FROM sh CROSS JOIN probe WHERE sh.doc_id > 0 AND sh.doc_id < 200
"""

    # exhaustive pairwise Jaccard via an inverted shingle join — the
    # corpus's similarity gap (>=0.8 or <0.5) makes LSH recall 1, so the
    # Spark LSH+verify output equals this exact computation. Byte-identical
    # docs mirror the Spark op's rep-collapse (component-complete output):
    # members emit (rep, member) star pairs at jaccard exactly 1.0, and the
    # exhaustive join runs over representatives only.
    o["minhash_pairs"] = f"""
WITH grp AS (
  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS rep
  FROM documents),
star AS (
  SELECT rep AS doc_a, doc_id AS doc_b, 1.0::DOUBLE AS jac
  FROM grp WHERE doc_id <> rep AND len({DOC_TOKS}) > 0),
sh AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM grp WHERE doc_id = rep),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT doc_a, doc_b, i::DOUBLE / (sa.n + sb.n - i) AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.7
  UNION ALL SELECT doc_a, doc_b, jac FROM star)
SELECT doc_a, doc_b, {X10K.format(v='jac')} AS jaccard_x10k FROM j
"""

    # simhash on the md5-prefix token hash (bit-identical to the Spark
    # op's token_hash="md5"); fingerprint kept as two 32-bit halves because
    # DuckDB's << overflows at bit 63. Star pairs mirror the Spark op's
    # identical-fingerprint rep-collapse (component-complete output).
    o["simhash_pairs"] = f"""
WITH tok AS (
  SELECT doc_id, t, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest({DOC_TOKS}) AS t FROM documents)
  GROUP BY doc_id, t),
h AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
  FROM tok),
votes AS (
  SELECT doc_id, bb.b AS b,
         sum(CASE WHEN ((CASE WHEN bb.b < 32 THEN lo ELSE hi END)
                        >> (bb.b % 32)) & 1 = 1
             THEN tf ELSE -tf END) AS s
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bb
  GROUP BY doc_id, bb.b),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 AND b < 32
             THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS fp_lo,
         sum(CASE WHEN s > 0 AND b >= 32
             THEN (1::BIGINT << (b - 32)) ELSE 0 END)::BIGINT AS fp_hi
  FROM votes GROUP BY doc_id),
grp AS (
  SELECT doc_id, fp_lo, fp_hi,
         min(doc_id) OVER (PARTITION BY fp_lo, fp_hi) AS rep
  FROM fp),
star AS (
  SELECT rep AS doc_a, doc_id AS doc_b, 0 AS hamming
  FROM grp WHERE doc_id <> rep),
reps AS (SELECT doc_id, fp_lo, fp_hi FROM grp WHERE doc_id = rep),
near AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.fp_lo, b.fp_lo))
              + bit_count(xor(a.fp_hi, b.fp_hi)) AS INTEGER) AS hamming
  FROM reps a JOIN reps b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM near WHERE hamming <= 3
UNION ALL
SELECT doc_a, doc_b, hamming FROM star
"""

    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    o["quality_feature_ints"] = f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({DOC_TOKS}) AS n_tokens,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       length(regexp_replace(text, '[A-Za-z0-9_\\s]', '', 'g')) AS n_punct,
       len(list_distinct({DOC_TOKS})) AS n_distinct,
       len(list_filter({DOC_TOKS}, t -> t IN ({en}))) AS n_stop
FROM documents WHERE doc_id < 100
"""

    o["quality_scores"] = f"""
WITH f AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         len({DOC_TOKS})::DOUBLE AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS n_alpha,
         length(regexp_replace(text, '[A-Za-z0-9_\\s]', '', 'g'))::DOUBLE AS n_punct,
         len(list_distinct({DOC_TOKS}))::DOUBLE AS n_distinct
  FROM documents)
SELECT doc_id, {X10K.format(v=_QSCORE)} AS q_x10k
FROM f
"""

    hits = {lg: f"len(list_filter({DOC_TOKS}, t -> t IN "
                f"({', '.join(repr(w) for w in ws)})))"
            for lg, ws in LANG_STOPWORDS.items()}
    o["langid_dist"] = f"""
WITH h AS (
  SELECT doc_id, {hits['en']} AS h_en, {hits['fr']} AS h_fr,
         {hits['es']} AS h_es, {hits['de']} AS h_de, {hits['zh']} AS h_zh
  FROM documents),
pred AS (
  SELECT CASE
    WHEN greatest(h_en, h_fr, h_es, h_de, h_zh) = 0 THEN 'und'
    WHEN h_zh >= h_fr AND h_zh >= h_es AND h_zh >= h_en AND h_zh >= h_de THEN 'zh'
    WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
    WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
    WHEN h_en >= h_de THEN 'en'
    ELSE 'de' END AS lang_pred
  FROM h)
SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred ORDER BY lang_pred
"""

    o["token_counts"] = f"""
SELECT doc_id, len({DOC_TOKS}) AS n_tokens,
       len(list_distinct({DOC_TOKS})) AS n_distinct
FROM documents
"""

    o["dedupe_tokens_first_wins"] = f"""
SELECT doc_id,
       array_to_string(
         list_filter({DOC_TOKS},
                     (t, i) -> list_position({DOC_TOKS}, t) = i), ' ') AS deduped
FROM documents WHERE doc_id < 50
"""

    o["cosine_topk"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS a, unnest(q.qv)::DOUBLE AS b
  FROM embeddings e CROSS JOIN q),
dots AS (
  SELECT vec_id, sum(a * b) AS ab, sqrt(sum(a * a)) AS na,
         sqrt(sum(b * b)) AS nb
  FROM pairs GROUP BY vec_id)
SELECT vec_id, {X10K.format(v='ab / (na * nb)')} AS cos_x10k
FROM dots ORDER BY cos_x10k DESC, vec_id ASC LIMIT 10
"""

    # IVF at full probe is exact: same oracle as brute-force cosine
    o["ivf_cosine_topk"] = o["cosine_topk"]
    # LSH at probe radius == n_planes probes every bucket: also exact
    o["lsh_cosine_topk"] = o["cosine_topk"]

    o["sort_titles"] = r"""
WITH s AS (
  SELECT doc_id,
         regexp_replace(
           trim(regexp_replace(
             regexp_replace(lower(text), '[^0-9a-z\s]', '', 'g'),
             '\s+', ' ', 'g')),
           '^(the|a|an) ', '') AS k
  FROM documents WHERE doc_id < 100)
SELECT doc_id, CASE WHEN k = '' THEN '~title unknown' ELSE k END AS sort_key
FROM s
"""

    o["facet_decades"] = """
SELECT concat(CAST((year(ts) // 10) * 10 AS VARCHAR), 's') AS decade,
       count(*) AS n
FROM events GROUP BY 1 ORDER BY decade
"""

    o["props_extract"] = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       count(*) AS n
FROM events GROUP BY k_val ORDER BY k_val
"""

    o["required_fields"] = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(text) > 0 THEN NULL
              ELSE 'missing_title' END AS r1,
         CASE WHEN regexp_matches(
                CASE WHEN doc_id % 7 = 0 THEN 'notaurl'
                     ELSE 'https://h.org/d/' || CAST(doc_id AS VARCHAR) END,
                '^https?://[^/\\s]+/.+') THEN NULL
              ELSE 'bad_url' END AS r2
  FROM documents)
SELECT coalesce(r1, r2, 'ok') AS reason, count(*) AS n
FROM d GROUP BY 1 ORDER BY reason
"""

    o["dejson_flatten"] = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 4 = 0
                THEN '{"name": "n' || CAST(event_id % 7 AS VARCHAR) || '"}'
              WHEN event_id % 4 = 1 THEN '{"id": 3}'
              WHEN event_id % 4 = 2 THEN 'plain text'
              ELSE '17' END AS v
  FROM events WHERE event_id < 400)
SELECT event_id,
       CASE WHEN json_valid(v)
            THEN coalesce(json_extract_string(v, '$.name'), v)
            ELSE v END AS flat
FROM s
"""

    o["dejson_deep"] = f"""
WITH s AS (
  SELECT event_id,
         CAST(event_id % 10 AS VARCHAR) AS k,
         event_id % 6 AS m
  FROM events WHERE event_id < 300),
j AS (
  SELECT event_id,
         CASE WHEN m = 0 THEN '[["s0", {{"item": ["a' || k
                || '", "b"]}}], {{"name": "n' || k || '"}}]'
              WHEN m = 1 THEN '{{"text": "t' || k || '"}}'
              WHEN m = 2 THEN '["{{\\"name\\": \\"e' || k
                || '\\"}}", "plain", 7]'
              WHEN m = 3 THEN '[[["deep' || k || '"]]]'
              WHEN m = 4 THEN '[{{"id": 9}}, {{"item": ""}}]'
              ELSE '{{"item": {{"name": "inner' || k || '"}}}}'
         END::JSON AS v
  FROM s),
r AS (SELECT event_id, {_dejson_deep_sql("v", 6)} AS res FROM j)
SELECT event_id,
       CASE WHEN json_type(res) = 'VARCHAR'
            THEN json_extract_string(res, '$')
            ELSE res::VARCHAR END AS flat
FROM r
"""

    o["setprop_patch"] = """
SELECT doc_id,
       replace('http://old-host/p/' || source,
               'http://old-host', 'https://new-host') AS url,
       replace(source || '@old', 'old', 'new') || ','
         || replace('keep@old', 'old', 'new') AS tags
FROM documents WHERE doc_id < 100
"""

    o["map_dates_nested"] = """
WITH d AS (
  SELECT event_id,
         1900 + event_id % 80 AS y1,
         1950 + event_id % 10 AS y2
  FROM events WHERE event_id < 300),
m AS (
  SELECT event_id,
         'c. ' || CAST(y1 AS VARCHAR) || '|later' AS displays,
         CASE WHEN event_id % 3 <> 0
              THEN least(make_date(y1, 1, 1), make_date(y2, 1, 1))
              ELSE make_date(y2, 1, 1) END AS start_dt,
         CASE WHEN event_id % 5 <> 0 THEN make_date(y1, 6, 30) END AS end_dt
  FROM d)
SELECT event_id, displays,
       coalesce(strftime(start_dt, '%Y-%m-%d'), 'none') AS start_date,
       coalesce(strftime(coalesce(end_dt, start_dt), '%Y-%m-%d'), 'none')
         AS end_date
FROM m
"""

    o["facet_decade_full"] = r"""
WITH s AS (
  SELECT CASE
    WHEN event_id % 5 = 0 THEN 'circa '
         || CAST(1900 + event_id % 60 AS VARCHAR) || '-'
         || CAST(1910 + event_id % 60 AS VARCHAR)
    WHEN event_id % 5 = 1 THEN CAST(1800 + event_id % 100 AS VARCHAR)
    WHEN event_id % 5 = 2 THEN 'n.d.'
    WHEN event_id % 5 = 3 THEN 'between 999 and 99999 in '
         || CAST(1950 + event_id % 9 AS VARCHAR)
    ELSE '21054' END AS v
  FROM events),
y AS (
  SELECT list_filter(
           list_transform(
             regexp_extract_all(regexp_replace(v, '\d{5,}', ' ', 'g'),
                                '(\d{4})', 1),
             x -> x::INT),
           x -> x >= 1000 AND x <= 2026) AS ys
  FROM s),
d AS (
  SELECT CASE WHEN len(ys) = 0 THEN ['unknown']
              ELSE list_transform(
                     range((list_min(ys) // 10) * 10, list_max(ys) + 1, 10),
                     x -> CAST(x AS VARCHAR) || 's') END AS ds
  FROM y)
SELECT decade, count(*) AS n
FROM (SELECT unnest(ds) AS decade FROM d)
GROUP BY decade ORDER BY decade
"""

    o["props_map_keys"] = """
SELECT key, count(*) AS n
FROM (SELECT unnest(json_keys(props)) AS key FROM events)
GROUP BY key ORDER BY key
"""

    o["media_exists"] = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 <> 0 THEN
           CASE WHEN doc_id % 3 <> 0 THEN 'kept' ELSE 'omitted' END
         ELSE 'kept' END AS status
  FROM documents)
SELECT status, count(*) AS n FROM d GROUP BY status ORDER BY status
"""

    o["transform_chain"] = r"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN '{"name": "The ' || source || ' Archive"}'
              ELSE source END AS title_raw,
         'https://reg/' || source AS url
  FROM documents WHERE doc_id < 200),
t AS (
  SELECT doc_id,
         CASE WHEN json_valid(title_raw)
              THEN coalesce(json_extract_string(title_raw, '$.name'),
                            title_raw)
              ELSE title_raw END AS title,
         url
  FROM src),
k AS (
  SELECT doc_id, title,
         regexp_replace(
           trim(regexp_replace(
             regexp_replace(lower(title), '[^0-9a-z\s]', '', 'g'),
             '\s+', ' ', 'g')),
           '^(the|a|an) ', '') AS sk,
         url
  FROM t)
SELECT doc_id, title,
       CASE WHEN sk = '' THEN '~title unknown' ELSE sk END AS sort_key,
       CASE WHEN url LIKE '%/' THEN url ELSE url || '/' END AS url,
       'public' AS rights
FROM k
WHERE title IS NOT NULL AND title <> '' AND url <> ''
"""

    o["xml_records_extract"] = """
SELECT event_id,
       'r' || CAST(event_id AS VARCHAR) AS rid,
       'T ' || CAST(event_id AS VARCHAR) AS title,
       's' || CAST(event_id % 3 AS VARCHAR) AS subject
FROM events WHERE event_id < 300
"""

    o["marc_title_extract"] = """
SELECT event_id,
       'id' || CAST(event_id AS VARCHAR) AS ctl,
       'Title ' || CAST(event_id AS VARCHAR) AS title
FROM events WHERE event_id < 300
"""

    o["ark_synthesis"] = """
SELECT doc_id,
       coalesce(
         CASE WHEN doc_id % 3 = 0
              THEN 'ark:/20775/bb' || CAST(doc_id AS VARCHAR) END,
         CASE WHEN doc_id % 3 = 1
              THEN 'ark:/21198/zz' || CAST(doc_id AS VARCHAR) END,
         'none') AS ark
FROM documents WHERE doc_id < 200
"""

    o["fallback_chain"] = """
SELECT doc_id,
       coalesce(
         CASE WHEN doc_id % 4 = 0 THEN 'a:' || source END,
         nullif(CASE WHEN doc_id % 3 = 0 THEN ''
                     ELSE 'b:' || source END, ''),
         NULL,
         'f:' || CAST(doc_id AS VARCHAR)) AS href
FROM documents WHERE doc_id < 200
"""

    o["upsert_tally"] = """
WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
inc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' changed' ELSE text END AS t
  FROM documents WHERE doc_id < 400),
j AS (
  SELECT inc.t, ex.text AS e, ex.doc_id IS NOT NULL AS ex_exists
  FROM inc LEFT JOIN ex USING (doc_id))
SELECT count(*) AS n_incoming,
       sum(CASE WHEN NOT ex_exists THEN 1 ELSE 0 END)::BIGINT AS created,
       sum(CASE WHEN ex_exists AND t IS DISTINCT FROM e
                THEN 1 ELSE 0 END)::BIGINT AS updated,
       sum(CASE WHEN ex_exists AND t IS NOT DISTINCT FROM e
                THEN 1 ELSE 0 END)::BIGINT AS unchanged
FROM j
"""

    o["per_collection_chains"] = r"""
WITH src AS (
  SELECT doc_id, lang, source AS title FROM documents WHERE doc_id < 300),
en AS (
  SELECT doc_id, lang,
         regexp_replace(
           trim(regexp_replace(
             regexp_replace(lower(title), '[^0-9a-z\s]', '', 'g'),
             '\s+', ' ', 'g')),
           '^(the|a|an) ', '') AS k0,
         'cc-by' AS rights
  FROM src WHERE lang = 'en'),
en2 AS (
  SELECT doc_id, lang,
         CASE WHEN k0 = '' THEN '~title unknown' ELSE k0 END AS k, rights
  FROM en),
fr AS (SELECT doc_id, lang, '-' AS k, 'etalab' AS rights
       FROM src WHERE lang = 'fr'),
rest AS (SELECT doc_id, lang, '-' AS k, 'unknown' AS rights
         FROM src WHERE lang NOT IN ('en', 'fr'))
SELECT * FROM en2 UNION ALL SELECT * FROM fr UNION ALL SELECT * FROM rest
"""

    o["sort_collection_key"] = r"""
WITH s AS (
  SELECT doc_id, source,
         regexp_replace(
           trim(regexp_replace(
             regexp_replace(lower(source), '[^0-9a-z\s]', '', 'g'),
             '\s+', ' ', 'g')),
           '^(the|a|an) ', '') AS k
  FROM documents WHERE doc_id < 100)
SELECT doc_id,
       concat_ws(':',
                 CASE WHEN k = '' THEN '~title unknown' ELSE k END,
                 source, 'https://registry/' || source) AS sort_key
FROM s
"""

    o["registry_collect"] = """
SELECT doc_id,
       'http://registry/api/coll/' || CAST(doc_id % 7 AS VARCHAR)
         || '/::Coll ' || CAST(doc_id % 7 AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0
                 THEN '|http://registry/api/c2/'
                      || CAST(doc_id % 7 AS VARCHAR) || '/::Second'
                 ELSE '' END AS coll_data,
       'http://registry/repo/' || CAST(doc_id % 5 AS VARCHAR)
         || '/::Repo ' || CAST(doc_id % 5 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '::UCX' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN '|http://registry/repo2/'
                      || CAST(doc_id % 7 AS VARCHAR) || '/::R2'
                 ELSE '' END AS repo_data,
       CASE WHEN doc_id % 3 = 0
            THEN 'http://registry/campus/1/::UC One'
            ELSE '-' END AS campus_data
FROM documents WHERE doc_id < 200
"""

    o["first_event_per_user"] = """
SELECT user_id, event_id FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id
"""

    o["events_histogram"] = ("SELECT event_type, count(*) AS n FROM events "
                             "GROUP BY event_type ORDER BY event_type")

    o["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n,
       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_x100
FROM events GROUP BY 1, 2 ORDER BY hour, event_type LIMIT 500
"""

    o["keyset_page"] = ("SELECT doc_id, lang, n_chars FROM documents "
                        "ORDER BY doc_id OFFSET 100 LIMIT 50")

    o["top_customers"] = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_x100
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

    o["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_x100,
       CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_x100,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

    return o


# ---------------------------------------------------------------------------
# extra entries — same query/oracle contract, checked by pytest
# (tests/test_entry_oracle.py) but kept OFF the driver's capped entry list
# so every oracle-bearing driver entry gets checked each round. These are
# the narrow scalar-function parity checks; the library functions they
# exercise are also covered by unit tests.
# ---------------------------------------------------------------------------

def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    def embedding_neardup_pairs(spark, sf):
        # the synthetic embeddings have no natural pairs above 0.8, so
        # re-ingest the first 20 vectors under shifted ids (cosine 1.0 —
        # identical in both engines, no float-boundary risk) and run the
        # bucketed self-join; identical vectors share buckets
        # deterministically, so LSH recall is exactly 1 here
        from harvester_spark.operators.similarity import (
            embedding_near_dup_pairs)
        emb = _emb(spark, sf).select("vec_id", "embedding")
        copies = (emb.filter(F.col("vec_id") < 20)
                  .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                          "embedding"))
        pairs = embedding_near_dup_pairs(emb.unionByName(copies),
                                         threshold=0.95)
        return pairs.select("id_a", "id_b",
                            _x10k(F.col("cosine")).alias("cos_x10k"))
    q["embedding_neardup_pairs"] = embedding_neardup_pairs

    def exact_dup_members(spark, sf):
        # the corpus has no byte-identical docs at driver SF, so synthesize
        # a deterministic dup set (first 50 docs re-ingested under shifted
        # ids — the reference's re-harvest shape) and emit the row-per-
        # member keep decisions of exact_duplicate_members (the bounded-
        # payload companion to the capped exact_duplicates groups)
        from harvester_spark.operators.dedup import exact_duplicate_members
        docs = _docs(spark, sf).select("doc_id", "text")
        dup = (docs.filter(F.col("doc_id") < 50)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       "text"))
        return (exact_duplicate_members(docs.unionByName(dup),
                                        content_col="text")
                .select("doc_id", "keep_id", "n_dups"))
    q["exact_dup_members"] = exact_dup_members

    def embedding_norms(spark, sf):
        v = F.col("embedding")
        norm = F.sqrt(F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda a, b: a + b))
        return (_emb(spark, sf).filter(F.col("vec_id") < 100)
                .select("vec_id", _x10k(norm).alias("norm_x10k")))
    q["embedding_norms"] = embedding_norms

    def ark_extracts(spark, sf):
        synth = F.concat(F.lit("id ark:/12345/"), F.col("source"),
                         F.lit("|rest x"))
        return (_docs(spark, sf).filter(F.col("doc_id") < 100)
                .select("doc_id", ark_extract(synth).alias("ark")))
    q["ark_extracts"] = ark_extracts

    def make_dates(spark, sf):
        raw = (F.when(F.col("event_id") % 3 == 0,
                      F.concat(F.lit("19"), (F.col("event_id") % 90 + 10)
                               .cast("string")))
               .when(F.col("event_id") % 3 == 1, F.lit("2024-05-17"))
               .otherwise(F.lit("not a date")))
        return (_events(spark, sf).filter(F.col("event_id") < 300)
                .select("event_id",
                        F.coalesce(F.date_format(make_date(raw), "yyyy-MM-dd"),
                                   F.lit("none")).alias("parsed")))
    q["make_dates"] = make_dates

    def fix_repeated_years(spark, sf):
        y = (F.col("user_id") % 30 + 1980).cast("string")
        raw = F.concat(y, F.lit("-"), y, F.lit(" and 2001-2002"))
        return (_events(spark, sf).filter(F.col("event_id") < 300)
                .select("event_id", fix_repeated_year(raw).alias("fixed")))
    q["fix_repeated_years"] = fix_repeated_years

    def normalize_types(spark, sf):
        # DCMI-type normalization (solr_updater.py:388-418)
        raw = (F.when(F.col("event_id") % 5 == 0, F.lit("Physical Object X"))
               .when(F.col("event_id") % 5 == 1, F.lit("Moving Image"))
               .when(F.col("event_id") % 5 == 2, F.lit("still image"))
               .when(F.col("event_id") % 5 == 3, F.lit("TEXT record"))
               .otherwise(F.lit("other thing")))
        return (_events(spark, sf)
                .select(normalize_type(raw).alias("norm_type"))
                .groupBy("norm_type").agg(F.count("*").alias("n"))
                .orderBy("norm_type"))
    q["normalize_types"] = normalize_types

    def add_slashes(spark, sf):
        # trailing-slash normalization (solr_updater.py:476-478)
        base = F.concat(F.lit("https://host/x/"), F.col("source"))
        alt = F.when(F.col("doc_id") % 2 == 0,
                     F.concat(base, F.lit("/"))).otherwise(base)
        return (_docs(spark, sf).filter(F.col("doc_id") < 100)
                .select("doc_id", add_slash(alt).alias("url")))
    q["add_slashes"] = add_slashes

    def ivfpq_cosine_topk(spark, sf):
        # IVF-PQ correctness anchor: full probe + rerank window covering
        # the corpus degrades to EXACT cosine — same oracle as brute force
        from harvester_spark.operators.similarity import (build_ivfpq_index,
                                                          query_ivfpq_index)
        emb = _emb(spark, sf)
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        d = tempfile.mkdtemp(prefix="hs_ivfpq_")
        build_ivfpq_index(emb, d, n_centroids=8, m_subvectors=8,
                          train_sample=4000, seed=42)
        n = emb.count()
        scores = query_ivfpq_index(spark, d, qv, 10, nprobe=8,
                                   rerank=max(1, n // 10 + 1))
        return (scores.select("vec_id",
                              _x10k(F.col("cosine")).alias("cos_x10k"))
                .orderBy(F.desc("cos_x10k"), F.asc("vec_id")).limit(10))
    q["ivfpq_cosine_topk"] = ivfpq_cosine_topk

    def dedup_components(spark, sf):
        # near-dup pairs → transitive components → keep decisions
        # (iterative min-label propagation vs a recursive-CTE oracle):
        # stars of 3 consecutive ids, bridged into 6-doc chains at
        # multiples of 12 — multi-hop closure, not just direct pairs
        from harvester_spark.operators.dedup import dedup_keep_decisions
        d = F.col("doc_id")
        docs = _docs(spark, sf).filter(d < 120).select("doc_id")
        stars = (docs.filter(d % 3 != 0)
                 .select((d - d % 3).alias("doc_a"), d.alias("doc_b")))
        bridges = (docs.filter(d % 12 == 0)
                   .select(d.alias("doc_a"), (d + 3).alias("doc_b")))
        verdicts = dedup_keep_decisions(docs,
                                        stars.unionByName(bridges))
        return verdicts.select("doc_id", "component",
                               F.col("keep").cast("int").alias("keep"))
    q["dedup_components"] = dedup_components

    def contamination_probe(spark, sf):
        # benchmark-decontamination: docs 0-4 play the eval set, the rest
        # the training corpus; n=3 shingles so the oracle reuses the
        # verified tokenizer+shingle SQL (op default is n=8)
        from harvester_spark.operators.textstats import ngram_contamination
        docs = _docs(spark, sf)
        bench = docs.filter(F.col("doc_id") < 5)
        corpus = docs.filter(F.col("doc_id") >= 5)
        out = ngram_contamination(corpus, bench, content_col="text",
                                  shingle_n=3, min_hits=2)
        return out.select("doc_id", "n_hits",
                          F.col("contaminated").cast("int")
                          .alias("contaminated"))
    q["contamination_probe"] = contamination_probe

    def hash_split(spark, sf):
        # deterministic held-out split: md5-prefix bucket hash, engine-
        # independent (the same md5 trick simhash_pairs proved
        # bit-identical in DuckDB)
        from harvester_spark.operators.textstats import hash_split as hs
        return hs(_docs(spark, sf), test_per_10k=700).orderBy("doc_id")
    q["hash_split"] = hash_split

    def token_budgets(spark, sf):
        # dataset-mixing accounting: per-lang docs, tokens, token share
        from harvester_spark.operators.textstats import token_budget_by_group
        out = token_budget_by_group(_docs(spark, sf), group_col="lang",
                                    content_col="text")
        return (out.select(F.col("group").alias("lang"), "n_docs",
                           "n_tokens",
                           _x10k(F.col("token_share")).alias("share_x10k"))
                .orderBy("lang"))
    q["token_budgets"] = token_budgets

    return q


def extra_oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["embedding_neardup_pairs"] = f"""
WITH src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.embedding, b.embedding) AS c
  FROM src a JOIN src b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, {X10K.format(v='c')} AS cos_x10k
FROM p WHERE c >= 0.95
"""

    o["exact_dup_members"] = """
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
h AS (SELECT doc_id, sha256(text) AS s FROM src),
g AS (SELECT doc_id,
             min(doc_id) OVER (PARTITION BY s) AS keep_id,
             count(*) OVER (PARTITION BY s) AS n_dups
      FROM h)
SELECT doc_id, keep_id, n_dups FROM g WHERE n_dups > 1
"""

    o["embedding_norms"] = f"""
WITH x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v FROM embeddings
           WHERE vec_id < 100)
SELECT vec_id, {X10K.format(v='sqrt(sum(v * v))')} AS norm_x10k
FROM x GROUP BY vec_id
"""

    o["ark_extracts"] = """
SELECT doc_id,
       regexp_extract('id ark:/12345/' || source || '|rest x',
                      '(ark:/[0-9]{5}/[^/|\\s]*)', 1) AS ark
FROM documents WHERE doc_id < 100
"""

    o["make_dates"] = """
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0
                THEN '19' || CAST(event_id % 90 + 10 AS VARCHAR)
              WHEN event_id % 3 = 1 THEN '2024-05-17'
              ELSE 'not a date' END AS s
  FROM events WHERE event_id < 300)
SELECT event_id,
       coalesce(strftime(coalesce(
         try_cast(try_strptime(s, '%Y-%m-%d') AS DATE),
         try_cast(try_strptime(s, '%Y') AS DATE)), '%Y-%m-%d'),
         'none') AS parsed
FROM raw
"""

    o["fix_repeated_years"] = """
SELECT event_id,
       CAST(user_id % 30 + 1980 AS VARCHAR) || ' and 2001-2002' AS fixed
FROM events WHERE event_id < 300
"""

    o["normalize_types"] = """
WITH raw AS (
  SELECT CASE WHEN event_id % 5 = 0 THEN 'Physical Object X'
              WHEN event_id % 5 = 1 THEN 'Moving Image'
              WHEN event_id % 5 = 2 THEN 'still image'
              WHEN event_id % 5 = 3 THEN 'TEXT record'
              ELSE 'other thing' END AS t
  FROM events),
norm AS (
  SELECT CASE WHEN lower(t) LIKE '%physical%' THEN 'physical object'
              WHEN lower(t) LIKE '%moving%' THEN 'moving image'
              WHEN lower(t) LIKE '%image%' THEN 'image'
              WHEN lower(t) LIKE '%text%' THEN 'text'
              WHEN lower(t) LIKE '%sound%' THEN 'sound'
              WHEN lower(t) LIKE '%dataset%' THEN 'dataset'
              ELSE lower(t) END AS norm_type
  FROM raw)
SELECT norm_type, count(*) AS n FROM norm GROUP BY norm_type ORDER BY norm_type
"""

    o["add_slashes"] = """
WITH raw AS (
  SELECT doc_id,
         'https://host/x/' || source ||
           CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END AS u
  FROM documents WHERE doc_id < 100)
SELECT doc_id,
       CASE WHEN u LIKE '%/' THEN u ELSE u || '/' END AS url
FROM raw
"""

    # IVF-PQ at full probe + corpus-covering rerank is exact cosine
    o["ivfpq_cosine_topk"] = oracle_sql()["cosine_topk"]

    o["dedup_components"] = """
WITH RECURSIVE
docs AS (SELECT doc_id FROM documents WHERE doc_id < 120),
edges AS (
  SELECT doc_id - doc_id % 3 AS a, doc_id AS b FROM docs
  WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id AS a, doc_id + 3 AS b FROM docs WHERE doc_id % 12 = 0),
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, comp) AS (
  SELECT a AS node, a AS comp FROM sym
  UNION
  SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.node),
comps AS (SELECT node, min(comp) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS keep
FROM docs d LEFT JOIN comps c ON c.node = d.doc_id
"""

    SH3 = (f"CASE WHEN len({DOC_TOKS}) = 0 THEN []::VARCHAR[] "
           f"ELSE list_distinct(list_transform("
           f"range(1, greatest(len({DOC_TOKS}) - 2, 1) + 1), "
           f"i -> concat_ws(' ', {DOC_TOKS}[i], {DOC_TOKS}[i+1], "
           f"{DOC_TOKS}[i+2]))) END")
    o["contamination_probe"] = f"""
WITH sh AS (SELECT doc_id, unnest({SH3}) AS s FROM documents),
b AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
hits AS (
  SELECT sh.doc_id, count(DISTINCT sh.s) AS n_hits
  FROM sh JOIN b ON sh.s = b.s WHERE sh.doc_id >= 5 GROUP BY sh.doc_id)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       CASE WHEN coalesce(h.n_hits, 0) >= 2 THEN 1 ELSE 0 END AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id >= 5
"""

    o["hash_split"] = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000
           AS bucket
  FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 700 THEN 'test' ELSE 'train' END AS split
FROM h ORDER BY doc_id
"""

    o["token_budgets"] = f"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         sum(len({DOC_TOKS}))::BIGINT AS n_tokens
  FROM documents GROUP BY lang)
SELECT lang, n_docs, n_tokens,
       {X10K.format(v="n_tokens::DOUBLE / sum(n_tokens) OVER ()")}
         AS share_x10k
FROM per ORDER BY lang
"""

    return o
