"""TF-IDF keyword extraction: the top-k characteristic terms per doc.

The corpus-statistics companion to BM25 (``ops/bm25.py``): where BM25
scores docs against a *query*, this tags every document with the terms
that distinguish it from the corpus — the classic inverted-index /
topic-tagging building block (and a cheap doc signature for clustering
and mix reporting).

Scale shape: one explode to (doc_id, term) with an immediately
map-side-combinable (doc_id, term) count; document frequencies are a
second partial agg off that tf frame (already unique per doc-term, so
``count(*)`` per term IS df); the tf ⋈ df join is a term-keyed
equi-join (AQE-skew-eligible — stop-words are the hot keys; a real
deployment prunes them with a max-df gate, exposed as ``max_df_frac``);
the final top-k is a doc_id-partitioned window, bounded per doc. The
corpus-size scalar rides the established crossJoin(broadcast(agg))
idiom. Zero Python.

Cross-engine determinism: tf and df are integers; idf — the single
transcendental — is quantized to 1/1024 (the ops/lm_quality.py /
ops/bm25.py idiom), so tf·idf products are exact IEEE and the top-k
cut (ties broken by term) matches DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .tokens import words

__all__ = ["tfidf_top_terms", "tfidf_oracle_sql"]

QUANT = 1024


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    max_df_frac: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, <text_col>) -> top-``k`` (doc_id, term, tf, score) by
    tf·idf, ties broken by term ascending. Terms present in more than
    ``max_df_frac`` of docs (stop-words — also the skewed join keys)
    are dropped before scoring."""
    toks = words(F.col(text_col))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    # prune the hot keys BEFORE the tf ⋈ df join: the over-max-df term
    # list is tiny (stop-words), so both sides drop their skewed rows in
    # a broadcast anti-join map-side and the term-keyed exchange never
    # carries them (the ops/dedup.jaccard_pairs max_doc_freq idiom)
    hot = (
        dfreq.crossJoin(F.broadcast(n))
        .filter(
            F.col("df").cast("double")
            > F.lit(max_df_frac) * F.col("n_docs").cast("double")
        )
        .select("term")
    )
    tf = tf.join(F.broadcast(hot), "term", "left_anti")
    dfreq = dfreq.join(F.broadcast(hot), "term", "left_anti")
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n))
    idf = (
        F.round(
            F.log(
                F.col("n_docs").cast("double") / F.col("df").cast("double")
            )
            * QUANT,
            0,
        )
        / QUANT
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf").cast("double") * idf).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def tfidf_oracle_sql(k: int = 3, max_df_frac: float = 0.5) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nn AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               CAST(tf.tf AS DOUBLE)
                   * (round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                            * {QUANT}) / {QUANT}) AS score
        FROM tf JOIN dfreq USING (term), nn
        WHERE CAST(df AS DOUBLE) <= {max_df_frac} * CAST(n_docs AS DOUBLE)
    )
    SELECT doc_id, term, tf, score, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS rank
        FROM scored
    )
    WHERE rank <= {k}
    """
