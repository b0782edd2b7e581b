"""Sliding token windows: fixed-size, strided training-context slices.

The other chunking discipline next to the span/heading-aware packer
(``ops/chunker.py``): LM pretraining cuts documents into fixed-size
token windows with overlap (stride < size), so every token appears in
at least one full context. This op emits the (doc_id, win_idx) slice
table with the window text rebuilt.

Scale shape: entirely in-row JVM — tokenize once, compute the window
count arithmetically, ``transform(sequence(...))`` builds each window
by ``slice`` + ``array_join``, and one bounded ``posexplode`` fans the
windows out (fan-out = windows per doc, known in advance). Zero
Python, zero joins; the only table growth is the deliberate window
overlap factor size/stride.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tokens import words

__all__ = ["sliding_windows", "sliding_windows_oracle_sql"]


def sliding_windows(
    docs: DataFrame,
    size: int = 32,
    stride: int = 24,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, win_idx, win_start, win_len, wtext): strided token
    windows. The final window is the (possibly short) tail slice; a doc
    shorter than ``size`` yields exactly one window; zero-token docs
    yield none. Windows per doc = ceil(max(ntok - size, 0) / stride) + 1.
    """
    if not (0 < stride <= size):
        raise ValueError("need 0 < stride <= size")
    toks = words(F.col(text_col))
    base = docs.select("doc_id", toks.alias("__toks"))
    ntok = F.size("__toks")
    n_win = (
        F.when(ntok <= 0, F.lit(0))
        .when(ntok <= size, F.lit(1))
        .otherwise(F.ceil((ntok - F.lit(size)) / F.lit(stride)) + 1)
        .cast("int")
    )
    wins = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda w: F.struct(
            (w * stride).alias("start"),
            F.slice("__toks", w * stride + 1, size).alias("w"),
        ),
    )
    ex = base.filter(n_win > 0).select(
        "doc_id", F.posexplode(wins).alias("win_idx", "win")
    )
    return ex.select(
        "doc_id",
        "win_idx",
        F.col("win.start").alias("win_start"),
        F.size("win.w").alias("win_len"),
        F.array_join("win.w", " ").alias("wtext"),
    )


def sliding_windows_oracle_sql(
    size: int = 32, stride: int = 24
) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    sized AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) <= 0 THEN 0
                    WHEN len(toks) <= {size} THEN 1
                    ELSE CAST(ceil((len(toks) - {size})
                                   / CAST({stride} AS DOUBLE)) AS INTEGER) + 1
               END AS n_win
        FROM tok
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS win_idx,
           CAST(w * {stride} AS INTEGER) AS win_start,
           CAST(len(list_slice(toks, w * {stride} + 1,
                               w * {stride} + {size})) AS INTEGER) AS win_len,
           array_to_string(list_slice(toks, w * {stride} + 1,
                                      w * {stride} + {size}), ' ') AS wtext
    FROM sized, UNNEST(range(0, n_win)) AS t(w)
    WHERE n_win > 0
    """
