"""DSIR — Data Selection via Importance Resampling
(Xie et al., arXiv 2302.03169).

The standard recipe for "make the crawl look like the target corpus":
fit bag-of-hashed-ngram models on a trusted TARGET slice and on the
RAW pool, score every raw document with the log importance ratio
``log p_target(x) - log p_raw(x)`` under those models, then resample
with Gumbel top-k (sampling without replacement proportional to the
importance weight).

Definitions (deterministic, engine-independent):
- features: lowercase whitespace words; hashed unigrams AND bigrams
  into ``n_buckets`` via the first 3 hex chars of md5 (mod buckets) —
  the paper's hashed n-gram feature map;
- models: add-1-smoothed bucket frequencies, target = the trusted
  slice (here lang = 'en' by the synthetic corpus law), raw = all;
- per-doc score: sum over feature OCCURRENCES of
  ``qlog p_t[b] - qlog p_r[b]`` where ``qlog`` is log quantized to
  dyadic 2^-20 — counts times dyadic rationals sum EXACTLY in doubles,
  so the score is bit-identical across engines and across reduction
  orders (the same order-independence trick as ops/lm_quality.py);
- resampling: Gumbel key ``g = logw + q(-ln(-ln(u)))`` with
  ``u = (hash32(doc_id)+1) / (2^32+1)`` from md5 — no RNG state, so
  retries/resume/cluster size cannot change the sample (the property
  ops/sampling.py pins for plain sampling); keep = global top 25% by
  ``(g desc, doc_id)``.

Scale shape: feature hashing is in-row; the two model fits are
bucket-keyed partial aggs (n_buckets rows out — tiny); the log-ratio
table joins back as a BROADCAST dim; the per-doc score is one doc_id
partial agg. The exact top-k rank is one slim global window over
(doc_id, logw, g) rows — fine at benchmark scale; the documented
production form replaces it with a threshold cut ``g >= t`` where t
comes from a one-pass approximate quantile, which is the standard
distributed Gumbel top-k and removes the global sort entirely (the
law is otherwise identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .tokens import bucket, words

N_BUCKETS = 64
KEEP_FRAC = 0.25
_Q = 1 << 20  # dyadic quantum 2^-20


def _qlog(x: Column) -> Column:
    """log(x) quantized to multiples of 2^-20 (exact dyadic double)."""
    return F.round(F.log(x) * _Q, 0) / _Q


def _features(text: Column, n_buckets: int) -> Column:
    """Array of hashed unigram+bigram bucket ids (occurrences, not set)."""
    toks = words(text)
    nw = F.size(toks)
    unis = F.transform(toks, lambda w: bucket(w, n_buckets))
    bis = F.when(
        nw >= 2,
        F.transform(
            F.sequence(F.lit(1), nw - 1),
            lambda i: bucket(
                F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
                n_buckets,
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.concat(unis, bis)


def _model(feats: DataFrame, n_buckets: int, name: str) -> DataFrame:
    """Add-1-smoothed bucket log-probs -> (b, qlog_<name>). The agg is
    bucket-keyed (n_buckets rows out); the total folds in as a scalar
    broadcast (1-row cross join, same shape as ops/graph.py)."""
    counts = feats.groupBy("b").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "b",
            _qlog((F.col("n") + 1) / (F.col("tot") + n_buckets)).alias(
                f"qlog_{name}"
            ),
        )
    )


def dsir_weights(
    df: DataFrame,
    target_filter: Column,
    col: str = "text",
    n_buckets: int = N_BUCKETS,
    keep_frac: float = KEEP_FRAC,
) -> DataFrame:
    """DSIR -> (doc_id, n_feats, logw, gkey, rank, keep).

    ``target_filter`` selects the trusted slice the raw pool should be
    reshaped toward (rows stay in the raw pool too, as in the paper).
    """
    base = df.select("doc_id", _features(F.col(col), n_buckets).alias("fs"))
    # the hashed-feature explode (two md5+conv per occurrence) is by far
    # the dominant cost and has FOUR consumers (target model, raw model,
    # target total, scoring) — persist it once so each consumer reads the
    # cached (doc_id, b) rows instead of re-hashing the corpus (measured
    # at sf0.1/local[32]: 33 s -> ~2 s for the whole op). At 100 TB the
    # same rule holds: features are computed once and reused, never
    # re-derived per model fit.
    ex = base.select("doc_id", F.explode("fs").alias("b")).persist()
    tgt = ex.join(df.filter(target_filter).select("doc_id"), "doc_id").persist()
    p_t = _model(tgt, n_buckets, "t")
    p_r = _model(ex, n_buckets, "r")
    # missing target buckets still exist in the smoothed model:
    # count 0 -> log(1 / (tot_t + B)); fold via the broadcast total
    tot_t = tgt.agg(F.count("*").alias("tot"))
    ratio = (
        p_r.join(p_t, "b", "left")
        .crossJoin(F.broadcast(tot_t))
        .select(
            "b",
            (
                F.coalesce(
                    F.col("qlog_t"),
                    _qlog(F.lit(1) / (F.col("tot") + n_buckets)),
                )
                - F.col("qlog_r")
            ).alias("lr"),
        )
    )
    scored = (
        ex.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("lr").alias("logw"))
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("doc_id"))), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / (4294967296.0 + 1.0)
    gq = F.round(-F.log(-F.log(u)) * _Q, 0) / _Q
    keyed = scored.withColumn("gkey", F.col("logw") + gq)
    w = Window.orderBy(F.col("gkey").desc(), F.col("doc_id"))
    cnt = Window.partitionBy()
    return keyed.select(
        "doc_id",
        "n_feats",
        F.round("logw", 6).alias("logw"),
        F.round("gkey", 6).alias("gkey"),
        F.row_number().over(w).alias("rank"),
        (
            F.row_number().over(w)
            <= F.ceil(F.count("*").over(cnt) * keep_frac)
        ).alias("keep"),
    )


# ------------------------------------------------------------------ oracle
def dsir_oracle_sql(
    corpus_cte: str,
    target_pred: str,
    n_buckets: int = N_BUCKETS,
    keep_frac: float = KEEP_FRAC,
) -> str:
    """DuckDB mirror over a `wt AS (...)` CTE exposing (doc_id, wtext);
    ``target_pred`` is the SQL predicate for the trusted slice."""
    B = n_buckets
    Q = _Q
    feats = f"""
fe AS (
  SELECT doc_id, b FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(wtext), '\\s+'),
                       w -> w != '') AS ws
    FROM wt) t,
  LATERAL (
    SELECT ('0x' || substr(md5(x.w), 1, 3))::INTEGER % {B} AS b
    FROM (SELECT unnest(ws) AS w) x
    UNION ALL
    SELECT ('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 3))::INTEGER % {B}
    FROM (SELECT unnest(range(1, greatest(len(ws), 1))) AS i) g
  ) f)"""
    return (
        "WITH "
        + corpus_cte
        + ","
        + feats
        + f""",
tgt AS (SELECT doc_id FROM wt WHERE {target_pred}),
ft AS (SELECT fe.* FROM fe JOIN tgt USING (doc_id)),
mt AS (SELECT b, round(ln((n + 1.0) / (tot + {B})) * {Q}) / {Q} AS qlog_t
       FROM (SELECT b, count(*) AS n FROM ft GROUP BY b),
            (SELECT count(*) AS tot FROM ft)),
mr AS (SELECT b, round(ln((n + 1.0) / (tot + {B})) * {Q}) / {Q} AS qlog_r
       FROM (SELECT b, count(*) AS n FROM fe GROUP BY b),
            (SELECT count(*) AS tot FROM fe)),
lrt AS (SELECT mr.b,
               coalesce(mt.qlog_t,
                        round(ln(1.0 / ((SELECT count(*) FROM ft) + {B}))
                              * {Q}) / {Q}) - mr.qlog_r AS lr
        FROM mr LEFT JOIN mt ON mr.b = mt.b),
sc AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS logw
       FROM fe JOIN lrt USING (b) GROUP BY doc_id),
ky AS (SELECT doc_id, n_feats, logw,
              logw + round(-ln(-ln(
                  (('0x' || substr(md5('dsir:' || doc_id), 1, 8))::BIGINT
                   + 1.0) / (4294967296.0 + 1.0))) * {Q}) / {Q} AS gkey
       FROM sc),
rk AS (SELECT *, row_number() OVER (ORDER BY gkey DESC, doc_id) AS rank,
              count(*) OVER () AS n
       FROM ky)
SELECT doc_id, n_feats, round(logw, 6) AS logw, round(gkey, 6) AS gkey,
       CAST(rank AS INTEGER) AS rank,
       rank <= ceil(n * {keep_frac}) AS keep
FROM rk"""
    )
