"""Bloom-filter incremental dedup: test a new crawl against history
WITHOUT scanning it (Dolma's paragraph dedup uses exactly this shape).

At 100 TB you cannot anti-join every new crawl against every previous
crawl. Instead, each historical ingest folds its content hashes into a
compact Bloom filter (m bits, k hashes); deduplicating a new batch is
then: compute each candidate's k bit positions in-row, check membership
against the broadcast filter, and flag `maybe_dup` (Bloom semantics:
false positives possible at a known rate, never false negatives — route
maybe-dups to an exact verifier if the FP rate matters).

Spark-native representation: the filter is a DataFrame of SET BIT
POSITIONS (distinct ints ≤ m), built by one explode → distinct — tiny
versus the corpus (≤ min(k·n, m) rows, deduplicated) and persistable as
a parquet table that the next ingest appends to. Membership = explode
the candidate's k positions → join → count hits per doc == k (map-side
re-collapse, one slim exchange — the same shape as ops/urlfilter and
ops/decontam).

Join-strategy note (the m-sizing decision a 100 TB deployment makes):
the set-bit table is broadcast-safe only while m is small — at the
default m = 2^18 it is at most 2 MB of longs, but 10^11 keys at a 1e-3
design rate need m ≈ 1.5e12 bits, where the set-bit table is billions
of rows and a forced broadcast would OOM the driver exactly when the op
matters most. ``bloom_maybe_dup`` therefore takes ``broadcast=None``
(auto): hint the broadcast only when m is below a safe ceiling,
otherwise leave the plan to AQE, which picks a shuffled join. For the
big-m path, bucket BOTH the persisted filter table and the candidate
positions on ``pos`` (same bucket count) so each incremental probe is a
shuffle-free bucket join against history.

Hashes are md5-nibble Horner values (engine-portable, like
ops/sampling.hash_frac) with the hash index salted in — deterministic,
so the DuckDB oracle rebuilds filter and verdicts bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hll import md5int32

DEFAULT_M = 1 << 18  # bits; n=10^4 keys, k=3 -> FP = (1-e^(-kn/m))^k ~ 1.3e-3
DEFAULT_K = 3  # (5e-5 needs n ~ 2000 at this m; size m ~ 1.44·n·log2(1/p) bits)

# broadcast the set-bit table only while it is provably small: at most m
# rows of one long each — 2^26 bits caps the broadcast at ~512 MB worst
# case and ~8 MB typical (k·n distinct positions << m in a healthy filter)
BROADCAST_M_CEILING = 1 << 26


def _hash_pos(key: Column, i: int, m: int) -> Column:
    """Bit position of hash #i: first 8 md5 nibbles of ('bloom:i:'||key),
    Horner-accumulated, mod m."""
    val = md5int32(F.concat(F.lit(f"bloom:{i}:"), key.cast("string")))
    return (val % m).cast("long")


def _positions(key: Column, m: int, k: int) -> Column:
    return F.array(*[_hash_pos(key, i, m) for i in range(k)])


def bloom_build(
    df: DataFrame, key_col: str, m: int = DEFAULT_M, k: int = DEFAULT_K
) -> DataFrame:
    """Set-bit-position table of the Bloom filter over ``key_col``
    (md5 of the key is the inserted element). Union + distinct with a
    previous ingest's table to fold batches together."""
    return (
        df.select(
            F.explode(_positions(F.md5(F.col(key_col)), m, k)).alias("pos")
        )
        .distinct()
    )


def bloom_maybe_dup(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    broadcast: "bool | None" = None,
) -> DataFrame:
    """(doc_id, maybe_dup): true iff ALL k positions of the doc's key are
    set in ``bloom`` — no false negatives; false positives at the
    filter's design rate. One slim exchange, history never rescanned.

    ``broadcast``: None (default) hints the broadcast only when
    ``m <= BROADCAST_M_CEILING`` (the set-bit table is ≤ m longs, so m
    bounds its size a priori); at production m the hint is withheld and
    AQE plans a shuffled join — same verdicts, no driver OOM (see the
    module docstring for the bucketed big-m layout). Pass True/False to
    override."""
    if broadcast is None:
        broadcast = m <= BROADCAST_M_CEILING
    flt = bloom.withColumn("__set", F.lit(1))
    if broadcast:
        flt = F.broadcast(flt)
    cand = df.select(
        "doc_id",
        F.explode(_positions(F.md5(F.col(key_col)), m, k)).alias("pos"),
    )
    return (
        cand.join(flt, "pos", "left")
        .groupBy("doc_id")
        .agg((F.sum(F.coalesce("__set", F.lit(0))) == k).alias("maybe_dup"))
    )
