"""BM25 sparse retrieval over the documents table.

The lexical half of the retrieval stack (the dense half is
``ops/ann.py``): Okapi BM25 with the Lucene idf
(``ln(1 + (N - df + 0.5)/(df + 0.5))``), k1/b defaults 1.2/0.75.

Scale shape
-----------
- Tokenization and per-term term frequencies are **in-row JVM
  higher-order functions** (split + filter-count per query term — the
  query has a handful of terms, so this beats an explode+join by never
  shuffling the corpus).
- Corpus statistics (N, total token count, per-term document
  frequencies) are ONE map-side-combinable aggregation producing a
  single tiny row, broadcast back with the established
  ``crossJoin(broadcast(stats))`` scalar idiom — the corpus itself is
  scanned exactly twice (stats + scoring) and never shuffled.
- Top-k is ``TakeOrderedAndProject`` (orderBy + limit with a
  deterministic (score desc, doc_id) tiebreak): per-partition heaps,
  driver merges k rows, no global sort.

Cross-engine determinism: +,-,*,/ on IEEE doubles are exactly rounded
and bit-identical across the JVM and DuckDB; only ``ln`` is
implementation-defined, so the idf — the single transcendental — is
quantized to 1/1024 (the ops/lm_quality.py dyadic idiom). Every
downstream product/sum then matches bit-for-bit, which is what lets
the top-k LIMIT agree across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tokens import words

__all__ = ["bm25_scores", "bm25_oracle_sql"]

QUANT = 1024  # idf quantization denominator (dyadic => exact products)
K1 = 1.2
B = 0.75


def _eq_term(w: str):
    return lambda t: t == F.lit(w)


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k: int = 100,
    k1: float = K1,
    b: float = B,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` (doc_id, score, matched) for the bag-of-words query
    ``terms``. Ties broken by doc_id ascending."""
    if not terms:
        raise ValueError(
            "bm25_scores needs at least one query term (did upstream "
            "normalization drop them all?)"
        )
    toks = words(F.col(text_col))
    base = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        # NB: the lambda must be single-parameter — F.filter treats a
        # 2-arg lambda as (element, index); a `w=w` default would bind
        # the positional index, not the term
        *[
            F.size(F.filter(toks, _eq_term(w))).alias(f"tf_{i}")
            for i, w in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n

    def idf(i: int) -> Column:
        df = F.col(f"df_{i}").cast("double")
        raw = F.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return F.round(raw * QUANT, 0) / QUANT

    def contrib(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        return idf(i) * tf * (k1 + 1.0) / denom

    score = contrib(0)
    for i in range(1, len(terms)):
        score = score + contrib(i)
    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(terms))
    )
    return (
        scored.select(
            "doc_id",
            score.alias("score"),
            matched.alias("matched"),
        )
        .filter(F.col("matched") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def bm25_oracle_sql(
    terms: list[str], k: int = 100, k1: float = K1, b: float = B
) -> str:
    """DuckDB mirror: same fixed contribution order, same dyadic idf."""
    tf_cols = ",\n".join(
        f"len(list_filter(toks, x -> x = '{w}')) AS tf_{i}"
        for i, w in enumerate(terms)
    )
    df_cols = ",\n".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    idf = (
        lambda i: f"(round(ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0) * {QUANT}) / {QUANT})"
    )
    contribs = " + ".join(
        f"({idf(i)} * CAST(tf_{i} AS DOUBLE) * ({k1} + 1.0)"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
        f" * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(toks) AS dl, {tf_cols}
        FROM tok
    ),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols} FROM base
    )
    SELECT doc_id,
           {contribs} AS score,
           CAST({matched} AS INTEGER) AS matched
    FROM base, stats
    WHERE {matched} > 0
    ORDER BY score DESC, doc_id
    LIMIT {k}
    """
