"""Benchmark decontamination: n-gram overlap against an eval-set dim.

Training corpora must not contain evaluation data. The standard
defence (GPT-3 appendix C; followed by most open pipelines) flags any
training document sharing an N-gram (N≈13 tokens) with any benchmark
document. This implements exactly that shape:

- benchmark N-gram hashes form a SMALL dim (|benchmarks| × ~len rows,
  distinct-hashed) — broadcast it;
- corpus documents explode their own N-gram hashes IN PARTITION,
  left-join the broadcast dim, and re-collapse per doc with a map-side
  partial agg: the one exchange carries a slim (doc_id, counts) row per
  doc. The corpus text is scanned once and never shuffled;
- docs shorter than N tokens contribute their full token sequence as a
  single gram (the GPT-3 convention), so short eval items still match.

Verdicts are (doc_id, n_grams, n_contaminated, contaminated) — keep
`filter(~contaminated)`, or route flagged docs to span-level scrubbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tokens import words


def ngram_hashes(text: Column, n: int = 13) -> Column:
    """Array of md5 hashes of the space-joined token N-grams of ``text``
    (one full-sequence gram when the doc is shorter than N tokens)."""
    toks = words(text)
    sz = F.size(toks)
    n_eff = F.least(F.lit(n), sz)
    starts = F.sequence(F.lit(1), sz - n_eff + 1)
    return F.transform(
        starts,
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n_eff))),
    )


def benchmark_grams(benchmarks: DataFrame, text_col: str = "text", n: int = 13) -> DataFrame:
    """Distinct N-gram hash dim from the eval corpus (broadcast side)."""
    return (
        benchmarks.select(F.explode(ngram_hashes(F.col(text_col), n)).alias("gram"))
        .distinct()
    )


def scrub_contaminated_spans(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Span-level alternative to dropping the whole doc: every token
    covered by a contaminated N-gram window is removed and the text is
    rebuilt (single-space re-joined — token-normalized output).

    Shape: positional gram explode (in-partition) → broadcast join with
    the eval dim (inner: only HITS survive, usually a tiny fraction) →
    per-doc start-list agg → join back to the corpus. AQE turns that
    join-back into a broadcast join at runtime when the hit set is small
    (the common case); the rebuild is an in-row indexed lambda filter,
    the same pattern as C4 span removal (ops/c4.py)."""
    toks = words(F.col(text_col))
    sz = F.size(toks)
    n_eff = F.least(F.lit(n), sz)
    grams = docs.select(
        "doc_id",
        F.posexplode(ngram_hashes(F.col(text_col), n)).alias("pos", "gram"),
    )
    hits = (
        grams.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("starts"))
    )
    joined = docs.join(hits, "doc_id", "left").select(
        "doc_id",
        toks.alias("__toks"),
        n_eff.alias("__n_eff"),
        F.coalesce("starts", F.array().cast("array<int>")).alias("__starts"),
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t, j: ~F.exists(
            F.col("__starts"),
            lambda s: (s <= j) & (j < s + F.col("__n_eff")),
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("__toks") - F.size(kept)).alias("n_removed"),
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-doc contamination verdict vs the ``bench`` gram dim
    (from :func:`benchmark_grams`). One slim exchange, no corpus
    re-shuffle (explode → broadcast left join → map-side re-collapse)."""
    grams = docs.select(
        "doc_id", F.explode(ngram_hashes(F.col(text_col), n)).alias("gram")
    )
    return (
        grams.join(
            F.broadcast(bench.withColumn("__hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_contaminated"),
        )
        .withColumn("contaminated", F.col("n_contaminated") > 0)
    )
