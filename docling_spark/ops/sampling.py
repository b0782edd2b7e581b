"""Deterministic hash sampling, stratified mix rates, and split assignment.

Training-corpus construction needs REPRODUCIBLE sampling: the same row
must land in the same subsample/split on every run, on any cluster size,
after any resume — so none of this uses RNG state. A row's fate is a
pure function of its key: frac(key) = first-8-hex-digits of md5(key) /
2^32, uniform on [0, 1).

- ``hash_sample``: keep rows with frac < rate (exact-expectation
  subsample; at 100 TB this is a scan → filter, pushed past column
  pruning, zero shuffles, and trivially consistent across retries);
- ``stratified_rates``: per-stratum rates from a broadcast dim (the
  "training mix": oversample low-resource langs, downsample crawl bulk)
  plus the 1/rate loss-reweight column;
- ``assign_splits``: disjoint train/val/test by frac thresholds — the
  same hash makes the split stable under corpus growth (a doc never
  migrates between splits when new docs arrive).

A SALT argument namespaces the hash so sampling and splitting are
independent draws (frac_sample ⟂ frac_split).

md5 is used for engine-portable parity with the DuckDB oracle; swap to
xxhash64 at production scale for ~10× hash throughput (shape identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .hll import md5int32


def hash_frac(key: Column, salt: str = "") -> Column:
    """Uniform [0,1) from the first 8 hex nibbles of md5(salt || key) —
    built from strpos arithmetic so Spark and DuckDB agree bit-for-bit."""
    val = md5int32(F.concat(F.lit(salt), key.cast("string")))
    return val / F.lit(float(2**32))


def hash_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = "sample:"
) -> DataFrame:
    """Deterministic subsample: keep rows with hash_frac(key) < rate."""
    return df.filter(hash_frac(F.col(key_col), salt) < rate)


def stratified_rates(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: DataFrame,
    default_rate: float = 0.1,
    salt: str = "sample:",
) -> DataFrame:
    """Training-mix sampling: per-stratum keep rate from a broadcast dim
    ``rates`` (strata, rate). Adds ``weight`` = 1/rate for loss
    reweighting. Unknown strata fall back to ``default_rate``."""
    joined = df.join(
        F.broadcast(rates.withColumnRenamed("strata", strata_col)),
        strata_col,
        "left",
    ).withColumn("rate", F.coalesce("rate", F.lit(default_rate)))
    return (
        joined.filter(hash_frac(F.col(key_col), salt) < F.col("rate"))
        .withColumn("weight", F.lit(1.0) / F.col("rate"))
    )


def mix_rates(spark: SparkSession, rates: dict[str, float]) -> DataFrame:
    return spark.createDataFrame(
        [(k, float(v)) for k, v in rates.items()], "strata string, rate double"
    )


def assign_splits(
    df: DataFrame,
    key_col: str,
    train: float = 0.9,
    val: float = 0.05,
    salt: str = "split:",
) -> DataFrame:
    """Adds ``split`` ∈ {train, val, test}: frac < train → train,
    < train+val → val, else test. Hash-stable: rows never migrate."""
    frac = hash_frac(F.col(key_col), salt)
    return df.withColumn(
        "split",
        F.when(frac < train, "train")
        .when(frac < train + val, "val")
        .otherwise("test"),
    )


def rebalance_temperature(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    target_total: int,
    salt: str = "rebal:",
    quant: int = 1 << 20,
) -> DataFrame:
    """Temperature-rebalanced corpus mix (the mT5/XLM-R practice):
    down-sample over-represented strata so the kept corpus follows
    q_g ∝ count_g^alpha instead of the raw crawl distribution, with
    alpha = 1/2 — flattening head languages while low-resource strata
    keep (nearly) everything. Unlike ``stratified_rates`` the rates are
    COMPUTED FROM THE DATA: rate_g = min(1, target_total·q_g/count_g).

    Cross-engine bit-parity design (the at-scale determinism property —
    a retried task must make the identical keep decision): alpha = 1/2
    uses ``sqrt``, which IEEE 754 requires to be correctly rounded, so
    Spark and DuckDB agree bit-for-bit where a generic ``pow`` may
    differ in the last ulp; the weights are then floor-quantized onto a
    dyadic grid (×2^20 — a power of two, so the scaling itself is
    exact) making the normalizing SUM an exact integer, order-free
    across partitions; the final rate is a fixed-shape chain of IEEE
    double ops (T·w/W/c, left-associated in both engines). Keep
    decision: hash_frac(key, salt) < rate.

    Scale shape: one slim (strata, count) agg, the weight table is a
    few rows crossJoined with its 1-row total and broadcast back — the
    corpus scan itself is filter-only, zero extra shuffles on the fact
    table. Adds ``rate`` and ``weight`` (1/rate loss reweight).
    """
    c = F.col("__c")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__c"))
    w = F.floor(F.sqrt(c) * quant).cast("long").alias("__w")
    weights = counts.select(strata_col, c, w)
    # the total derives from weights, so the crossJoin is a self-join —
    # explicit aliases keep the column references unambiguous
    total = weights.agg(F.sum("__w").alias("__W")).alias("tt")
    rates = weights.alias("wt").crossJoin(F.broadcast(total)).select(
        F.col(f"wt.{strata_col}"),
        F.least(
            F.lit(1.0),
            F.lit(float(target_total))
            * F.col("wt.__w")
            / F.col("tt.__W")
            / F.col("wt.__c"),
        ).alias("rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(hash_frac(F.col(key_col), salt) < F.col("rate"))
        .withColumn("weight", F.lit(1.0) / F.col("rate"))
    )


def epoch_schedule(
    docs: DataFrame,
    weights: DataFrame,
    token_budget: float,
    max_epochs: float = 4.0,
) -> DataFrame:
    """Token-budget mixing arithmetic: per-source epochs and deficits.

    The planning step between a target mix and an actual training run
    (the Chinchilla/Muennighoff accounting): given per-source token
    supply and target mix ``weights``, a source owes
    ``token_budget * weight / Σweights`` tokens; it delivers them by
    repeating its data ``epochs = target / supply`` times, CAPPED at
    ``max_epochs`` (past ~4 epochs repeated data stops helping —
    Muennighoff et al. 2305.16264), and the remainder is an explicit
    ``token_deficit`` the operator must cover by re-weighting or new
    data — not a silent under-serve.

    ``docs``: (source, text); ``weights``: (source, weight) dim,
    normalized here. Output per source: n_docs, n_tokens, weight_norm,
    target_tokens, epochs (capped, double), tokens_served,
    token_deficit (0.0 when supply suffices).

    Scale shape: one map-side-combining agg over the corpus (token
    counts by source); the weight dim and its normalizing sum are
    1-row/broadcast joins. All arithmetic in fixed operand order —
    engine-exact doubles, no rounding (HALF_UP/half-even ties).
    """
    supply = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    wsum = weights.agg(F.sum("weight").alias("wsum"))
    dim = weights.crossJoin(F.broadcast(wsum)).select(
        "source", (F.col("weight") / F.col("wsum")).alias("weight_norm")
    )
    target = F.lit(float(token_budget)) * F.col("weight_norm")
    epochs_raw = target / F.col("n_tokens").cast("double")
    epochs = F.least(epochs_raw, F.lit(float(max_epochs)))
    served = F.col("n_tokens").cast("double") * epochs
    return (
        supply.join(F.broadcast(dim), "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.col("weight_norm"),
            target.alias("target_tokens"),
            epochs.alias("epochs"),
            served.alias("tokens_served"),
            F.greatest(target - served, F.lit(0.0)).alias("token_deficit"),
        )
    )


def shard_plan(
    docs: DataFrame,
    target_bytes: float = 1 << 28,
    size_col: str = "text",
) -> DataFrame:
    """Output sharding audit: derive the shard count from the data and
    check the evenness of the deterministic assignment.

    Writing a 100 TB corpus is a sharding decision: too few output
    files → unreadably large objects and stragglers; too many → small-
    file storms. The plan derives ``n_shards = ceil(total_bytes /
    target_bytes)`` FROM the data (one agg), assigns every doc by the
    engine-exact md5-Horner hash (``hash_frac`` — stable across
    retries, engines and cluster sizes, so a resumed run writes the
    same shards), and reports per-shard doc/byte totals with the skew
    ratio vs the ideal even share — hash sharding is even in
    EXPECTATION; the audit row is what tells an operator the giant-doc
    tail has unbalanced a shard and a size-aware split is needed.

    Output per shard: shard_id, n_docs, shard_bytes, n_shards,
    total_bytes, expected_bytes, skew (shard/expected, double).

    Scale shape: one corpus agg for the total (1-row broadcast back),
    one map-side-combining agg by shard id. Zero Python, no windows.
    """
    sized = docs.select(
        "doc_id", F.octet_length(F.col(size_col)).alias("_bytes")
    )
    tot = sized.agg(
        F.sum("_bytes").alias("total_bytes"),
        F.ceil(
            F.sum("_bytes").cast("double") / F.lit(float(target_bytes))
        )
        .cast("bigint")
        .alias("n_shards"),
    )
    assigned = sized.crossJoin(F.broadcast(tot)).select(
        F.floor(
            hash_frac(F.col("doc_id"), "shard:") * F.col("n_shards")
        )
        .cast("int")
        .alias("shard_id"),
        "_bytes",
        "n_shards",
        "total_bytes",
    )
    expected = F.col("total_bytes").cast("double") / F.col(
        "n_shards"
    ).cast("double")
    return (
        assigned.groupBy("shard_id", "n_shards", "total_bytes")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_bytes").alias("shard_bytes"),
        )
        .select(
            "shard_id",
            "n_docs",
            "shard_bytes",
            "n_shards",
            "total_bytes",
            expected.alias("expected_bytes"),
            (F.col("shard_bytes").cast("double") / expected).alias("skew"),
        )
    )


def shard_plan_oracle_sql(
    docs_cte: str,
    hash_frac_sql: str,
    target_bytes: float = 1 << 28,
    size_col: str = "text",
) -> str:
    """DuckDB mirror; ``hash_frac_sql`` hashes the column literally
    named ``doc_id``."""
    return f"""
        WITH docs AS ({docs_cte}),
        sized AS (
          SELECT doc_id, strlen({size_col}) AS b FROM docs
        ),
        tot AS (
          SELECT CAST(sum(b) AS BIGINT) AS total_bytes,
                 CAST(ceil(CAST(sum(b) AS DOUBLE) / {target_bytes!r})
                      AS BIGINT) AS n_shards
          FROM sized
        ),
        assigned AS (
          SELECT CAST(floor({hash_frac_sql} * t.n_shards) AS INT)
                   AS shard_id,
                 s.b, t.n_shards, t.total_bytes
          FROM sized s, tot t
        )
        SELECT shard_id, count(*) AS n_docs,
               CAST(sum(b) AS BIGINT) AS shard_bytes,
               n_shards, total_bytes,
               CAST(total_bytes AS DOUBLE) / n_shards AS expected_bytes,
               CAST(sum(b) AS DOUBLE)
                 / (CAST(total_bytes AS DOUBLE) / n_shards) AS skew
        FROM assigned
        GROUP BY shard_id, n_shards, total_bytes
    """


def mix_matrix(docs: DataFrame) -> DataFrame:
    """The (lang × source) token accounting every mixing decision reads:
    docs, tokens, and each cell's share of its language and of the
    corpus. ``epoch_schedule`` consumes the per-source rollup; this is
    the drill-down that says WHERE a language's tokens actually live
    (one source dominating a language is a diversity risk the mix
    weights must price in).

    Scale shape: one map-side-combining agg over the corpus + two tiny
    broadcast total frames. Shares are exact integer ratios cast once.
    """
    cell = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    lang_tot = cell.groupBy("lang").agg(
        F.sum("n_tokens").alias("lang_tokens")
    )
    corpus_tot = cell.agg(F.sum("n_tokens").alias("corpus_tokens"))
    return (
        cell.join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            (
                F.col("n_tokens").cast("double")
                / F.col("lang_tokens").cast("double")
            ).alias("share_of_lang"),
            (
                F.col("n_tokens").cast("double")
                / F.col("corpus_tokens").cast("double")
            ).alias("share_of_corpus"),
        )
    )
