"""Shannon-entropy quality signals: the gibberish / keyboard-mash gate.

Character- and word-unigram entropy of each document — the classic
compression-proxy curation signal (low char entropy = repeated mash or
padding; abnormally high = random bytes / encoded blobs; low word
entropy = template spam). Complements the Gopher repetition ladders
(``ops/webtext.py``) which look at structured repeats; entropy catches
the unstructured kind.

Scale shape: pure in-row JVM higher-order functions — split,
sort_array(array_distinct(...)), a transform computing each symbol's
-p·ln(p) term, and an in-row aggregate. Zero shuffles, zero Python.
Cost is O(distinct_symbols × len) per row: bounded for char entropy
(alphabet-sized distinct set) and fine for crawl-page word entropy
(10^2-10^3 distinct words); a corpus of multi-MB documents would
instead explode tokens into a (doc_id, term) count (the ops/tfidf.py
tf shape) and aggregate per doc — one shuffle, O(len) work — without
changing the quantized-term law.

Cross-engine determinism: each symbol's -p·ln(p) term is dyadically
quantized to 1/2^20 (ln is the only non-exact op; p itself is an
exactly-rounded IEEE division), and the sum runs over the SORTED
distinct-symbol array, so term order — and therefore the float sum —
is identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tokens import words

__all__ = ["entropy_signals", "entropy_oracle_sql"]

QUANT = 1 << 20  # per-term quantization (finer than lm_quality's 1/1024:
# entropy sums hundreds of small terms, so per-term error must stay
# below the 6-decimal compare window even after accumulation)


def _entropy(symbols: Column) -> Column:
    """Shannon entropy (nats) of a symbol array, dyadic per-term."""
    n = F.size(symbols).cast("double")
    uniq = F.sort_array(F.array_distinct(symbols))
    # ONE counting scan per distinct symbol (the O(distinct × len)
    # dominant cost); the -p·ln(p) term is then pure arithmetic over
    # the counts array
    counts = F.transform(
        uniq,
        lambda s: F.size(F.filter(symbols, lambda x: x == s)).cast(
            "double"
        ),
    )
    terms = F.transform(
        counts,
        lambda c: F.round(-(c / n) * F.log(c / n) * QUANT, 0) / QUANT,
    )
    return F.when(
        F.size(symbols) > 0,
        F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t),
    ).otherwise(F.lit(0.0))


def entropy_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text) -> char/word unigram entropy + distinct counts."""
    t = F.col(text_col)
    chars = F.filter(F.split(t, ""), lambda c: F.length(c) > 0)
    ws = words(t)
    return docs.select(
        "doc_id",
        F.size(chars).alias("n_chars"),
        F.size(F.array_distinct(chars)).alias("n_distinct_chars"),
        _entropy(chars).alias("char_entropy"),
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct_words"),
        _entropy(ws).alias("word_entropy"),
    )


def entropy_oracle_sql() -> str:
    """DuckDB mirror: same sorted-distinct order, same dyadic terms.

    NB DuckDB's string_split(text, '') yields the string's characters;
    list lambdas are 1-based but no indices are used here.
    """

    def ent(sym_expr: str) -> str:
        p = (
            f"(CAST(len(list_filter({sym_expr}, x -> x = u)) AS DOUBLE)"
            f" / CAST(len({sym_expr}) AS DOUBLE))"
        )
        # leading 0.0 + : normalizes the -0.0 a single-symbol doc's
        # -1·ln(1) term produces (IEEE 0.0 + -0.0 = +0.0 in both engines)
        return f"""(0.0 + coalesce(list_sum(list_transform(
            list_sort(list_distinct({sym_expr})),
            u -> round(-{p} * ln({p}) * {QUANT}) / {QUANT})), 0.0))"""

    chars = "list_filter(string_split(text, ''), c -> len(c) > 0)"
    words = (
        "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"
    )
    return f"""
    SELECT doc_id,
           len({chars}) AS n_chars,
           len(list_distinct({chars})) AS n_distinct_chars,
           {ent(chars)} AS char_entropy,
           len({words}) AS n_words,
           len(list_distinct({words})) AS n_distinct_words,
           {ent(words)} AS word_entropy
    FROM documents
    """
