"""CCNet-style language-model quality scoring (unigram perplexity buckets).

CCNet (Wenzek et al., arXiv 1911.00359) scores each document by the
perplexity of a LM trained on a trusted reference corpus (Wikipedia) and
splits the crawl into head/middle/tail buckets; training pipelines then
keep head+middle. The 5-gram KenLM is replaced here by a unigram model —
the *pipeline* shape (train on reference → broadcast the table → score
every doc → bucket) is identical and NN-free.

Scale shape:
- training is one word-count aggregation over the reference slice
  (shuffle = |vocab| after map-side combine), the grand total via a
  1-row broadcast;
- scoring explodes tokens (rows stay in their input partition),
  broadcast-joins the LM table (real tables are ~10^6 rows — comfortably
  broadcastable), and re-collapses per doc with a map-side partial agg:
  ONE slim exchange of (doc_id, n, sum) rows, no corpus re-shuffle;
- logprobs are quantized to 1/1024 at train time, so score sums are
  EXACT dyadic arithmetic — identical in any addition order and across
  engines (the DuckDB oracle re-derives the same table bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tokens import words

OOV_NLL = 16.0  # unseen-token penalty, ~e^-16 mass
QUANT = 1024  # logprob quantization denominator (dyadic => exact sums)


def train_unigram_lm(ref_docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, nll) from a trusted reference slice: nll = ln(total/count),
    quantized to 1/QUANT. The CCNet 'train on Wikipedia' step."""
    toks = ref_docs.select(F.explode(words(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "token",
            (
                F.round(F.log(F.col("total") / F.col("cnt")) * QUANT, 0) / QUANT
            ).alias("nll"),
        )
    )


# stupid backoff (Brants et al., EMNLP'07 "Large Language Models in
# Machine Translation"): score(w|prev) = c(prev w)/c(prev ·) when the
# bigram was seen, else alpha * unigram(w), alpha = 0.4. Chosen over
# Katz/KN precisely because it is normalization-free web-scale counting
# arithmetic — which also makes it exactly re-derivable cross-engine.
BACKOFF_ALPHA = 0.4
# -ln(alpha), dyadically quantized like every other logprob
BACKOFF_NLL = round(__import__("math").log(1.0 / BACKOFF_ALPHA) * QUANT) / QUANT


def _pairs(text_col: str):
    """In-row (prev, cur) bigram structs of the whitespace tokens."""
    toks = words(F.col(text_col))
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("prev"),
                F.element_at(toks, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


def train_bigram_lm(ref_docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(prev, cur, nll2) from the trusted slice: nll2 = ln(c(prev ·) /
    c(prev cur)), quantized. Context counts are the bigram-start counts
    (sum of c12 per prev), so the model is self-consistent.

    Scale shape: one (prev, cur) count agg (map-side combinable) + one
    slim per-prev agg joined back on prev — vocabulary-sized frames
    only, never the corpus."""
    pairs = ref_docs.select(F.explode(_pairs(text_col)).alias("p")).select(
        "p.prev", "p.cur"
    )
    c12 = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("prev").agg(F.sum("c12").alias("c1"))
    return c12.join(c1, "prev").select(
        "prev",
        "cur",
        (F.round(F.log(F.col("c1") / F.col("c12")) * QUANT, 0) / QUANT).alias(
            "nll2"
        ),
    )


def bigram_score(
    docs: DataFrame,
    bi_lm: DataFrame,
    uni_lm: DataFrame,
    text_col: str = "text",
    oov_nll: float = OOV_NLL,
    head: float = 6.0,
    tail: float = 9.0,
) -> DataFrame:
    """(doc_id, n_tokens, avg_nll, bucket) under the bigram model with
    stupid backoff: seen bigram -> its nll2; unseen -> BACKOFF_NLL +
    unigram nll (OOV_NLL when the word itself is unseen). The first
    token of a doc has no context and scores by unigram alone.

    Scale shape mirrors lm_score: in-row item construction (rows stay
    in their partitions), two broadcast joins against the LM tables,
    one slim (doc_id, n, sum) partial-agg exchange."""
    toks = words(F.col(text_col))
    n = F.size(toks)
    items = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.when(i > 1, F.element_at(toks, i - 1)).alias("prev"),
                F.element_at(toks, i).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    ex = docs.select("doc_id", F.explode(items).alias("it")).select(
        "doc_id", "it.prev", "it.cur"
    )
    uni = uni_lm.select(F.col("token").alias("cur"), F.col("nll").alias("nll1"))
    joined = ex.join(F.broadcast(bi_lm), ["prev", "cur"], "left").join(
        F.broadcast(uni), "cur", "left"
    )
    uni_nll = F.coalesce("nll1", F.lit(oov_nll))
    nll = F.when(F.col("prev").isNull(), uni_nll).otherwise(
        F.coalesce("nll2", F.lit(BACKOFF_NLL) + uni_nll)
    )
    scored = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.sum(nll).alias("sum_nll")
    )
    avg = F.col("sum_nll") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        avg.alias("avg_nll"),
        F.when(avg < head, "head")
        .when(avg < tail, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def lm_score(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    oov_nll: float = OOV_NLL,
    head: float = 6.0,
    tail: float = 9.0,
) -> DataFrame:
    """(doc_id, n_tokens, avg_nll, bucket) per doc; bucket =
    head (< ``head``) / middle / tail (>= ``tail``) on mean token NLL
    (monotone in unigram perplexity). Docs whose text tokenizes to
    nothing produce no row (the corpus contract guarantees tokens)."""
    tokens = docs.select(
        "doc_id", F.explode(words(F.col(text_col))).alias("token")
    )
    scored = (
        tokens.join(F.broadcast(lm), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("nll", F.lit(oov_nll))).alias("sum_nll"),
        )
    )
    avg = F.col("sum_nll") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        avg.alias("avg_nll"),
        F.when(avg < head, "head")
        .when(avg < tail, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
