"""Text-analysis operators for the training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All operators are pure JVM-side expressions (whole-stage codegen; no Python
in the hot path) and have exact ANSI-SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .tokens import words

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def _occurrences(text: Column, word: str) -> Column:
    """Count of whole-word occurrences via length-delta (portable SQL)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokenization + counts."""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / diversity / mean-word-length heuristics (rounded for
    engine-portable float comparison)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.col("n_chars").alias("n_chars"),
        n.alias("n_tokens"),
        F.round(nd.cast("double") / n, 4).alias("distinct_ratio"),
        F.round((F.length("text") - n + 1).cast("double") / n, 4).alias(
            "avg_word_len"
        ),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit-ratio language ID (n-gram-free heuristic; at crawl scale
    the same shape extends to char-trigram frequency profiles)."""
    hits = None
    for w in STOPWORDS:
        occ = _occurrences(F.col("text"), w)
        hits = occ if hits is None else hits + occ
    n = F.size(F.split(F.col("text"), " "))
    ratio = F.round(hits.cast("double") / n, 4)
    return docs.select(
        "doc_id",
        hits.alias("stop_hits"),
        ratio.alias("stop_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("unknown").alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprints: full-text md5 + sha256, and a
    prefix fingerprint for fast near-equality prefiltering."""
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_md5"),
        F.sha2(F.col("text"), 256).alias("fp_sha256"),
        F.md5(F.substring(F.col("text"), 1, 64)).alias("fp_prefix64"),
    )


def vocab_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level vocabulary profile — the Zipf sanity dashboard a
    100 TB ingest checks before training (a crawl whose top terms are
    'cookie'/'javascript' has an extraction bug; a vocabulary that
    stopped growing has a dedup bug).

    Output: top-``k`` tokens by global frequency with rank (ties broken
    by token for determinism) plus the corpus constants every row
    carries: total token count and distinct vocabulary size.

    Scale shape: one explode → (token) agg with map-side combine — the
    word-count shuffle, AQE-skew-eligible; the top-k is TakeOrdered
    (per-partition heaps, no global sort materialization); the two
    corpus constants ride a 1-row broadcast crossJoin. Zero Python.
    """
    toks = docs.select(F.explode(words(F.col("text"))).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    consts = tf.agg(
        F.sum("tf").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    top = tf.orderBy(F.col("tf").desc(), F.col("tok")).limit(k)
    w = Window.orderBy(F.col("tf").desc(), F.col("tok"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(consts))
        .select("rank", "tok", "tf", "total_tokens", "vocab_size")
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the routing
    audit a multilingual crawl runs before trusting EITHER label: a
    crawl whose declared `lang` disagrees with detection en masse has
    a metadata problem (wrong <html lang>, mislabeled source) or a
    detector gap; per-language disagreement rates say which shard to
    re-route. Prediction uses the same stopword-ratio law as
    :func:`lang_id` (>= 0.05 → 'en').

    Output per (lang, lang_pred) cell: n and the within-lang rate.
    Scale shape: in-row prediction, one (lang, pred) agg with map-side
    combine, per-lang totals off the tiny cell frame via broadcast.
    """
    hits = None
    for w in STOPWORDS:
        occ = _occurrences(F.col("text"), w)
        hits = occ if hits is None else hits + occ
    n_toks = F.size(F.split(F.col("text"), " "))
    ratio = F.round(hits.cast("double") / n_toks, 4)
    pred = F.when(ratio >= 0.05, "en").otherwise("unknown")
    cell = (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
    totals = cell.groupBy("lang").agg(F.sum("n").alias("lang_total"))
    return cell.join(F.broadcast(totals), "lang").select(
        "lang",
        "lang_pred",
        "n",
        (F.col("n").cast("double") / F.col("lang_total").cast("double")).alias(
            "rate"
        ),
    )


def size_histogram(docs: DataFrame) -> DataFrame:
    """Log2-bucketed document-size distribution — the partition-sizing
    dashboard: `spark.sql.files.maxPartitionBytes`, Arrow batch sizes
    and the giant-blob skew lane (job.py) are all tuned off exactly
    this table, and a fat tail bucket is the early warning for
    straggler tasks.

    Bucket = floor(log2(n_chars)) + 1, computed as the LENGTH OF THE
    BINARY REPRESENTATION (``conv``/``bin`` string length) — integer-
    exact on both engines, never a floating log that could round a
    power of two across the boundary. Empty docs land in bucket 0.

    Output per bucket: lo/hi char bounds, n_docs, total_chars.
    One map-side-combining agg; ~40 rows out at any corpus scale.
    """
    n = F.col("n_chars")
    bucket = (
        F.when(n <= 0, F.lit(0))
        .otherwise(F.length(F.conv(n.cast("string"), 10, 2)))
        .cast("int")
    )
    return (
        docs.select(bucket.alias("bucket"), n)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket") - 1))
            .cast("bigint")
            .alias("lo_chars"),
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket")) - 1)
            .cast("bigint")
            .alias("hi_chars"),
            "n_docs",
            "total_chars",
        )
    )
