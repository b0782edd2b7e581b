"""Trained quality classifier — GPT-3 / FineWeb-Edu style.

GPT-3 (2005.14165 §A), CCNet and FineWeb-Edu all gate the crawl with a
LEARNED quality model: a linear classifier over hashed bag-of-words
features, trained to separate a trusted slice from the raw pool, whose
score then filters or buckets every document. This module trains that
classifier ON THE CLUSTER with full-batch logistic-regression gradient
descent and scores the corpus — and the whole computation is
engine-exact, so (unusually, for a trained model) the trained weights
AND every per-doc score carry a full cross-engine value oracle.

Engine-exactness law (the repo's dyadic discipline, cf. ops/dsir.py,
ops/lm_quality.py):
- features: lowercase whitespace unigrams hashed into ``n_buckets`` via
  the first 3 hex chars of md5; per-doc value ``x_b = q(count_b / n_w)``
  where ``q`` rounds to multiples of 2^-20 (IEEE division is correctly
  rounded in both engines, so the quantized value is identical);
- label: ``y = 1`` on the trusted slice, else 0;
- iteration (full-batch GD, ``T`` rounds, ``w`` starts at 0):
  ``margin_i = sum_b w_b * x_ib`` — dyadic-20 times dyadic-20 products
  are EXACT doubles and the <= n_buckets-term sum is exact in any
  order; ``p_i = q(sigmoid(margin_i))``; per-term gradient
  ``t_ib = q(x_ib * (y_i - p_i))`` — quantizing each TERM keeps the
  big over-docs sum exact in any reduction order (the lm_quality
  trick); ``w_b += q(lr * sum_i t_ib / n)``.
- score: final margin / p / ``pred_keep = p >= 0.5``.

Scale shape: the exploded (doc_id, y, b, x) feature frame is built
in-row and persisted hash-partitioned on doc_id ONCE; each GD round is
(a) one margin agg that reuses that layout (no exchange), (b) a co-
partitioned join of the n-row (doc_id, resid) frame back onto the
features (no exchange), and (c) ONE slim map-side-partial agg to
``n_buckets`` rows. The per-round weight vector (64 doubles) is
collected and inlined as a literal array — the same bounded k x dim
collect the distributed-Lloyd trainer uses (ops/ann.py) — so the margin
projection is pure JVM with no weight join at all. Nothing driver-side
grows with the corpus; rounds are T (a constant), so 100 TB pays
T slim exchanges total beyond the one feature-frame shuffle.

No reference counterpart (docling has no crawl stage); this is the
training-data-pipeline contract, same family as ops/dsir.py.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tokens import bucket, words

N_BUCKETS = 64
ITERS = 4
LR = 64.0  # full-batch GD over length-normalized features (sum_b x = 1)
# needs a rate of order n_buckets to move margins into the sigmoid's
# active range within a constant number of rounds; fixed T keeps the
# oracle unroll bounded and the whole trajectory deterministic
_Q = 1 << 20


def _q(c: Column) -> Column:
    return F.round(c * _Q, 0) / _Q


def _qpy(x: float) -> float:
    """Driver-side twin of _q: HALF-AWAY-FROM-ZERO at ties, matching
    Spark F.round (BigDecimal HALF_UP) and DuckDB round() — Python's
    built-in round() is half-EVEN and would diverge at exact .5."""
    s = x * _Q
    return (math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)) / _Q


def _doc_features(text: Column, n_buckets: int) -> Column:
    """Array of hashed unigram bucket ids (occurrences)."""
    return F.transform(words(text), lambda w: bucket(w, n_buckets))


def train_quality_classifier(
    df: DataFrame,
    target_filter: Column,
    col: str = "text",
    n_buckets: int = N_BUCKETS,
    iters: int = ITERS,
    lr: float = LR,
) -> tuple[list[float], DataFrame]:
    """Fit the classifier and score ``df``.

    Returns ``(weights, scored)`` where ``weights`` is the trained
    n_buckets-vector (each a dyadic-20 double) and ``scored`` is
    (doc_id, y, margin, p, pred_keep) with margin/p rounded to 6 for
    the oracle hash."""
    spark = df.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    base = df.select(
        "doc_id",
        target_filter.cast("int").alias("y"),
        _doc_features(F.col(col), n_buckets).alias("fs"),
    ).filter(F.size("fs") > 0)
    feats = (
        base.select(
            "doc_id",
            "y",
            F.explode("fs").alias("b"),
            F.size("fs").alias("nw"),
        )
        # ONE exchange: partition by doc_id first; the 4-key groupBy and
        # every later doc_id agg/join then reuse this layout (hash
        # partitioning on a subset of the grouping keys satisfies the
        # clustered distribution — no further shuffles)
        .repartition(width, "doc_id")
        .groupBy("doc_id", "y", "b", "nw")
        .agg(F.count("*").alias("cnt"))
        .select(
            "doc_id",
            "y",
            "b",
            _q(F.col("cnt") / F.col("nw")).alias("x"),
        )
        .persist()
    )
    n_docs = feats.select("doc_id").distinct().count()  # materializes the persist

    w = [0.0] * n_buckets
    for _ in range(iters):
        w_lit = F.array(*[F.lit(v) for v in w])
        resid = (
            feats.groupBy("doc_id", "y")
            .agg(
                F.sum(
                    F.element_at(w_lit, (F.col("b") + 1).cast("int")) * F.col("x")
                ).alias("margin")
            )
            .select(
                "doc_id",
                (
                    F.col("y")
                    - _q(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
                ).alias("resid"),
            )
        )
        grad_rows = (
            feats.join(resid, "doc_id")
            .select("b", _q(F.col("x") * F.col("resid")).alias("t"))
            .groupBy("b")
            .agg(F.sum("t").alias("g"))
            .collect()
        )
        grad = {r["b"]: r["g"] for r in grad_rows}
        w = [
            w[b] + _qpy(lr * grad.get(b, 0.0) / n_docs)
            for b in range(n_buckets)
        ]

    w_lit = F.array(*[F.lit(v) for v in w])
    scored = (
        feats.groupBy("doc_id", "y")
        .agg(
            F.sum(
                F.element_at(w_lit, (F.col("b") + 1).cast("int")) * F.col("x")
            ).alias("margin")
        )
        .select(
            "doc_id",
            "y",
            F.round("margin", 6).alias("margin"),
            F.round(
                _q(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))), 6
            ).alias("p"),
            (
                _q(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
                >= 0.5
            ).alias("pred_keep"),
        )
    )
    return w, scored


def quality_classifier_scores(
    df: DataFrame,
    target_filter: Column,
    col: str = "text",
    n_buckets: int = N_BUCKETS,
    iters: int = ITERS,
    lr: float = LR,
) -> DataFrame:
    _, scored = train_quality_classifier(
        df, target_filter, col, n_buckets, iters, lr
    )
    return scored


# ------------------------------------------------------------------ oracle
def qclassifier_oracle_sql(
    corpus_cte: str,
    target_pred: str,
    n_buckets: int = N_BUCKETS,
    iters: int = ITERS,
    lr: float = LR,
) -> str:
    """DuckDB mirror: the same GD rounds UNROLLED as CTEs (the pagerank
    oracle pattern) over a ``wt AS (...)`` CTE exposing
    (doc_id, wtext). Weights live as a (b, w) relation; round k's
    margins join weights_{k-1}."""
    B, Q = n_buckets, _Q
    head = f"""
base AS (
  SELECT doc_id,
         CASE WHEN {target_pred} THEN 1 ELSE 0 END AS y,
         list_filter(string_split_regex(lower(wtext), '\\s+'),
                     w -> w != '') AS ws
  FROM wt),
fe AS (
  SELECT doc_id, y, b,
         round(cnt / nw * {Q}) / {Q} AS x
  FROM (
    SELECT doc_id, y,
           ('0x' || substr(md5(u.w), 1, 3))::INTEGER % {B} AS b,
           CAST(len(ws) AS DOUBLE) AS nw,
           CAST(count(*) AS DOUBLE) AS cnt
    FROM base, (SELECT unnest(ws) AS w) u
    WHERE len(ws) > 0
    GROUP BY 1, 2, 3, 4)),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM fe),
w0 AS (SELECT b, 0.0 AS w FROM (SELECT unnest(range(0, {B})) AS b))"""
    rounds = []
    for k in range(iters):
        rounds.append(f"""
m{k} AS (
  SELECT fe.doc_id, fe.y, sum(w{k}.w * fe.x) AS margin
  FROM fe JOIN w{k} USING (b) GROUP BY 1, 2),
r{k} AS (
  SELECT doc_id,
         y - round(1.0 / (1.0 + exp(-margin)) * {Q}) / {Q} AS resid
  FROM m{k}),
g{k} AS (
  SELECT fe.b, sum(round(fe.x * r{k}.resid * {Q}) / {Q}) AS g
  FROM fe JOIN r{k} USING (doc_id) GROUP BY 1),
w{k + 1} AS (
  SELECT w{k}.b,
         w{k}.w + round({lr} * coalesce(g{k}.g, 0.0) / nd.n * {Q}) / {Q} AS w
  FROM w{k} LEFT JOIN g{k} ON w{k}.b = g{k}.b, nd)""")
    tail = f""",
mf AS (
  SELECT fe.doc_id, fe.y, sum(w{iters}.w * fe.x) AS margin
  FROM fe JOIN w{iters} USING (b) GROUP BY 1, 2)
SELECT doc_id, y,
       round(margin, 6) AS margin,
       round(round(1.0 / (1.0 + exp(-margin)) * {Q}) / {Q}, 6) AS p,
       round(1.0 / (1.0 + exp(-margin)) * {Q}) / {Q} >= 0.5 AS pred_keep
FROM mf"""
    return "WITH " + corpus_cte + "," + head + "," + ",".join(rounds) + tail
