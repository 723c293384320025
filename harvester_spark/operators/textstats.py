"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting — all pure built-in column expressions (JVM,
whole-stage codegen), each with an exact DuckDB-SQL equivalent so the
driver oracle can verify them value-for-value.

These are the corpus-curation analogues of the reference's validation layer
(required-field predicate harvester/solr_updater.py:445-473, type
normalization :388-418): cheap per-document quality gates applied before
expensive downstream stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from harvester_spark.functions.tokenize import (doc_len_expr, tokens_bundle,
                                                tokens_expr)

# tiny per-language stopword sets (deterministic heuristic; matches the
# synthetic corpus languages of the driver's documents table)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"],
    "es": ["el", "la", "de", "los", "las", "un", "una", "es", "en", "por"],
    "de": ["der", "die", "und", "das", "ein", "eine", "ist", "von", "mit", "zu"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"],
}


def token_count_expr(content_col: str) -> Column:
    """Whitespace+punctuation token count (the BM25 dl)."""
    return doc_len_expr(content_col)


_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
# Java regex \s — exactly these six, replicated so the translate forms
# below stay value-identical to the regexp_replace definitions
_JAVA_WS = " \t\n\x0b\f\r"
_WORD_CHARS = _ASCII_LETTERS + "0123456789_"


def n_alpha_expr(c: Column) -> Column:
    """Count of ``[A-Za-z]`` chars — value-identical to
    ``length(regexp_replace(c, '[^A-Za-z]', ''))`` (tested against it on
    synthetic punct/whitespace/unicode rows) but via ``translate``:
    deleting the 52 letters and subtracting from the length is a per-char
    table lookup, and it avoids stacking a second regexp_replace into the
    quality projection — two regexp_replace instances in one stage
    measured ~1.4 s where each alone costs 0.13 s (pattern-cache
    thrashing; OPTIMIZATION_r06.md)."""
    return F.length(c) - F.length(F.translate(c, _ASCII_LETTERS, ""))


def n_punct_expr(c: Column) -> Column:
    """Count of chars outside ``[A-Za-z0-9_\\s]`` (Java ``\\s``) — the
    translate twin of ``length(regexp_replace(c, '[A-Za-z0-9_\\s]', ''))``;
    see :func:`n_alpha_expr` for why translate."""
    return F.length(F.translate(c, _WORD_CHARS + _JAVA_WS, ""))


def _token_set_count_expr(c: Column, words: list[str]) -> Column:
    """Count of token occurrences equal to any of ``words`` — one
    lookaround-guarded alternation ``regexp_count`` over the lowered
    content. Exactly the size of ``filter(tokens, t -> t in words)``: the
    lookarounds force every match to be a whole maximal ``[a-z0-9_]+``
    run, and a token can equal at most one of the (distinct) words."""
    alt = "|".join(words)
    return F.regexp_count(
        F.lower(c), F.lit(rf"(?<![a-z0-9_])(?:{alt})(?![a-z0-9_])"))


def bpe_ish_token_count_expr(content_col: str) -> Column:
    """A BPE-ish proxy count: word tokens + CJK chars + digit runs counted
    separately — a cheap, deterministic stand-in for a real tokenizer's
    token count (ratio ≈ chars/4 for code)."""
    c = F.col(content_col)
    # counts straight off the regex engine — no token arrays materialized:
    # a token is a maximal [a-z0-9_]+ run, a long token is a maximal run
    # of length > 8 (greedy matching makes {9,} hit each long run once)
    words = F.regexp_count(F.lower(c), F.lit(r"[a-z0-9_]+"))
    # every 4 chars of long identifiers add a subword
    extra = F.regexp_count(F.lower(c), F.lit(r"[a-z0-9_]{9,}"))
    return (words + extra).alias("bpe_ish_tokens")


def quality_features(docs: DataFrame, *, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality features + composite score in [0, 1].

    Features: length, alpha ratio, punct ratio, mean token length,
    stopword ratio, distinct-token ratio. Composite is a fixed linear blend
    — deterministic and SQL-expressible.
    """
    c = F.col(content_col)
    n_chars = F.length(c)
    n_alpha = n_alpha_expr(c)
    n_punct = n_punct_expr(c)
    en_stop = LANG_STOPWORDS["en"]

    def feats(toks):  # toks is lambda-bound: ONE tokenizer run per row
        n_tokens = F.size(toks)
        n_distinct = F.size(F.array_distinct(toks))
        # whole-token stopword occurrences straight off the regex engine:
        # a token equals a stopword iff the stopword appears as a maximal
        # [a-z0-9_]+ run, so one lookaround-guarded alternation pass
        # replaces the per-token interpreted isin filter (≈3x cheaper on
        # the corpus pass; same counts by construction)
        n_stop = _token_set_count_expr(c, en_stop)
        return F.struct(
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
            (n_alpha / F.greatest(n_chars, F.lit(1))).alias("alpha_ratio"),
            (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
            (n_chars / F.greatest(n_tokens, F.lit(1))).alias("mean_tok_len"),
            (n_stop / F.greatest(n_tokens, F.lit(1)))
            .alias("stopword_ratio"),
            (n_distinct / F.greatest(n_tokens, F.lit(1)))
            .alias("distinct_ratio"))

    out = docs.select(F.col(id_col).alias("doc_id"),
                      tokens_bundle(content_col, feats))
    score = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.3
        + (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))) * 0.2
        + F.col("distinct_ratio") * 0.2)
    return out.withColumn("quality_score", score)


def langid(docs: DataFrame, *, content_col: str = "content",
           id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID: argmax over per-language stopword hit
    counts, ties → lexicographic language order, no hits → 'und'.

    Hit counts come straight from one alternation ``regexp_count`` per
    language (:func:`_token_set_count_expr` — identical counts to the old
    per-token isin filter by the whole-token-match argument), so the op
    never materializes a token array at all."""
    c = F.col(content_col)
    # deterministic argmax: greatest hit count, tie-break by language
    # code; max on (n, lang) breaks ties toward the LAST language —
    # declared behavior (mirrored in the oracle SQL)
    pairs = F.array(*[F.struct(_token_set_count_expr(c, ws).alias("n"),
                               F.lit(lg).alias("lang"))
                      for lg, ws in sorted(LANG_STOPWORDS.items())])
    best = F.array_max(pairs)  # struct compare: n first, then lang
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.when(best["n"] > 0, best["lang"])
                       .otherwise(F.lit("und")).alias("lang_pred"),
                       best["n"].alias("stopword_hits"))


def fingerprint(docs: DataFrame, *, content_col: str = "content",
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprints:

    - ``min_token_md5``: min over md5(token) — an order-invariant content
      sketch (md5 is identical in Spark and DuckDB, so oracle-checkable);
    - ``content_md5``: md5 of the space-joined sorted distinct token set
      (bag-of-words identity, robust to whitespace/punct reflow).
    """
    def prints(toks):  # toks is lambda-bound: ONE tokenizer run per row
        return F.struct(
            F.array_min(F.transform(toks, lambda t: F.md5(t)))
            .alias("min_token_md5"),
            F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
            .alias("content_md5"))

    return docs.select(F.col(id_col).alias("doc_id"),
                       tokens_bundle(content_col, prints))


def ngram_contamination(docs: DataFrame, benchmark: DataFrame, *,
                        content_col: str = "content",
                        id_col: str = "doc_id", shingle_n: int = 8,
                        min_hits: int = 1,
                        broadcast_max_benchmark_docs: int = 1_000_000
                        ) -> DataFrame:
    """Benchmark-contamination probe for training-data curation: flag
    corpus docs sharing ≥ ``min_hits`` DISTINCT token n-grams with a
    benchmark/eval set (the standard n-gram-overlap decontamination test;
    the reference's analogue is its md5 dedup-against-a-cache role,
    image_harvest.py:201-257, generalized to textual n-gram collisions).

    Scale shape (r6 hardening): the probe joins on ``xxhash64(shingle)``
    — 8 bytes per entry — so the broadcast side of a real decontamination
    union (tens of millions of distinct 8-grams across many benchmarks)
    is tens of MB, not multi-GB of raw strings; a 64-bit collision inside
    one document's hit set is the only way a count can differ from the
    string form (~n²/2⁶⁵ per doc — negligible against the ≥-threshold
    semantics). The corpus is scanned ONCE: ``explode_outer`` keeps
    shingle-less docs, so the zero-fill left join the old shape paid a
    second corpus scan for is gone. Benchmarks past
    ``broadcast_max_benchmark_docs`` rows skip the broadcast hint and let
    the planner pick a shuffle semi-join instead (one cheap count job on
    the SMALL side buys the guard).

    Returns one row per corpus doc: (doc_id, n_hits, contaminated)."""
    from harvester_spark.operators.dedup import shingles_expr

    bsh = (benchmark
           .select(F.explode(shingles_expr(content_col, shingle_n))
                   .alias("sh"))
           .select(F.xxhash64("sh").alias("bh"))
           .distinct()
           .withColumn("__hit", F.lit(1)))
    if benchmark.count() <= broadcast_max_benchmark_docs:
        bsh = F.broadcast(bsh)
    dsh = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode_outer(shingles_expr(content_col, shingle_n))
                       .alias("sh"))
           # NULL for the no-shingle marker row: null join keys never
           # match, so an empty doc cannot collide with hash-of-null
           .select("doc_id", F.when(F.col("sh").isNotNull(),
                                    F.xxhash64("sh")).alias("bh")))
    return (dsh.join(bsh, "bh", "left")
            .groupBy("doc_id")
            .agg(F.count_distinct(F.when(F.col("__hit") == 1, F.col("bh")))
                 .alias("n_hits"))
            .withColumn("contaminated", F.col("n_hits") >= min_hits))


def token_budget_by_group(docs: DataFrame, *, group_col: str = "lang",
                          content_col: str = "content") -> DataFrame:
    """Per-group token accounting for dataset-mixing decisions:
    (group, n_docs, n_tokens, share of total tokens). One groupBy with
    map-side partial agg; the share is a window over the GROUPS table
    (a handful of rows — the single-partition window is on the tiny
    aggregate, never the corpus)."""
    from pyspark.sql import Window

    per = (docs.groupBy(F.col(group_col).alias("group"))
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.size(tokens_expr(content_col)).cast("long"))
                .alias("n_tokens")))
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per.select("group", "n_docs", "n_tokens",
                      (F.col("n_tokens") / total).alias("token_share"))


def hash_split(docs: DataFrame, *, id_col: str = "doc_id",
               test_per_10k: int = 500, buckets: int = 10_000) -> DataFrame:
    """Deterministic held-out split for training pipelines: every doc
    lands in 'train' or 'test' purely by a hash of its id, so the split
    is reproducible across runs, machines and engines (no RNG state, no
    sampling order dependence — the property `sample()` cannot give).

    The bucket hash is the md5 hex prefix (the pattern of the simhash
    ``token_hash="md5"`` token hash) — bit-identical in DuckDB,
    so the split is oracle-checkable. The test FRACTION is always
    ``test_per_10k`` / 10,000 regardless of ``buckets`` (the cutoff is
    rescaled to the bucket space — overriding ``buckets`` for finer or
    coarser granularity must not silently change the ratio). One narrow
    projection, no shuffle, no state."""
    cut = int(round(test_per_10k * buckets / 10_000))
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("long")
    bucket = F.pmod(h, F.lit(buckets))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        bucket.cast("long").alias("bucket"),
        F.when(bucket < cut, F.lit("test"))
        .otherwise(F.lit("train")).alias("split"))
