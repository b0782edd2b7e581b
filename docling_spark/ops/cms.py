"""Engine-exact Count-Min Sketch (Cormode & Muthukrishnan 2005).

The frequency twin of the HLL cardinality sketch (``ops/hll.py``):
"how often does this token/URL/domain occur?" at 10^12 rows without
keeping a counter per key. A CMS is d hash rows × w counters; every
occurrence increments one counter per row, and a point estimate is
the MIN over the d counters — never an underestimate, overestimating
only by collision mass (≤ ε·N with w = ⌈e/ε⌉ at confidence 1-δ,
d = ⌈ln 1/δ⌉). Like the HLL here (and unlike anything built on
engine-private hashing), every number is bit-reproducible on Spark
and DuckDB: row-i counter index = md5-Horner("i:" ∥ key) mod w, and
all arithmetic is integer.

Scale shape: building the sketch is ONE map-side-combining aggregation
over (row, col) — the shuffle carries ≤ d·w counter rows regardless of
corpus size (that reduction is the whole point); probing broadcasts
the ≤ d·w counter table against the probe keys and takes a per-key
min. Zero Python. No reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hll import md5int32

__all__ = [
    "cms_counters",
    "cms_estimates",
    "cms_join_size",
    "cms_estimates_oracle_sql",
    "cms_join_size_oracle_sql",
]

_HEX = "0123456789abcdef"


def _md5int32_sql(expr: str) -> str:
    out = "0"
    for i in range(1, 9):
        nib = f"(strpos('{_HEX}', substring(md5({expr}), {i}, 1)) - 1)"
        out = f"({out} * 16 + {nib})"
    return out


def cms_counters(
    keys: DataFrame, key_col: str, d: int = 4, w: int = 512
) -> DataFrame:
    """Build the sketch: one (r, c, cnt) row per touched counter.
    ``keys`` holds one row per OCCURRENCE (not per distinct key)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (
                    md5int32(F.concat(F.lit(f"{i}:"), F.col(key_col)))
                    % F.lit(w)
                )
                .cast("int")
                .alias("c"),
            )
            for i in range(d)
        ]
    )
    return (
        keys.select(F.explode(cells).alias("cell"))
        .select("cell.r", "cell.c")
        .groupBy("r", "c")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimates(
    keys: DataFrame,
    probes: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Point-estimate the frequency of every probe key, with the exact
    count alongside (the audit row: overestimate = est - true >= 0).

    ``probes``: a small frame with column ``key_col`` (distinct).
    Output: (key, est, true_cnt, overestimate).
    """
    sketch = cms_counters(keys, key_col, d=d, w=w)
    probe_cells = probes.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (
                            md5int32(
                                F.concat(F.lit(f"{i}:"), F.col(key_col))
                            )
                            % F.lit(w)
                        )
                        .cast("int")
                        .alias("c"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("cell"),
    ).select("key", "cell.r", "cell.c")
    est = (
        probe_cells.join(F.broadcast(sketch), ["r", "c"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
    true_cnt = (
        keys.groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("true_cnt"))
    )
    return (
        est.join(true_cnt, "key", "left")
        .select(
            "key",
            "est",
            F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
            (F.col("est") - F.coalesce("true_cnt", F.lit(0))).alias(
                "overestimate"
            ),
        )
    )


def cms_estimates_oracle_sql(
    keys_cte: str,
    probes_cte: str,
    key: str = "key",
    d: int = 4,
    w: int = 512,
) -> str:
    """DuckDB mirror: ``keys_cte`` yields one row per occurrence with
    column ``key``; ``probes_cte`` yields distinct probe keys."""
    def cell(src: str) -> str:
        parts = []
        for i in range(d):
            hashed = _md5int32_sql(f"'{i}:' || {key}")
            parts.append(
                f"SELECT {key}, {i} AS r, "
                f"CAST({hashed} % {w} AS INT) AS c FROM {src}"
            )
        return " UNION ALL ".join(parts)
    return f"""
        WITH keys AS ({keys_cte}),
        probes AS ({probes_cte}),
        cells AS ({cell("keys")}),
        sketch AS (
          SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c
        ),
        pcells AS ({cell("probes")}),
        est AS (
          SELECT p.{key} AS key, min(coalesce(s.cnt, 0)) AS est
          FROM pcells p LEFT JOIN sketch s ON p.r = s.r AND p.c = s.c
          GROUP BY p.{key}
        ),
        tc AS (
          SELECT {key} AS key, count(*) AS true_cnt FROM keys GROUP BY {key}
        )
        SELECT e.key, CAST(e.est AS BIGINT) AS est,
               CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt,
               CAST(e.est - coalesce(t.true_cnt, 0) AS BIGINT)
                 AS overestimate
        FROM est e LEFT JOIN tc t ON e.key = t.key
    """


def cms_join_size(
    keys_a: DataFrame,
    keys_b: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Join-size estimation by CMS inner product (Cormode &
    Muthukrishnan §4.2): ``|A ⋈ B|`` — the number of matching row
    pairs of an equi-join — is the inner product of the two frequency
    vectors, and the sketch estimate ``min_r Σ_c cntA[r,c]·cntB[r,c]``
    never underestimates it. This is PLANNER telemetry: deciding
    broadcast-vs-shuffle or pre-sizing a shuffle for a 10^12-row join
    without touching the keys — each side is summarized by ≤ d·w
    counters regardless of size.

    Output (one row): est_pairs, true_pairs, overestimate — the exact
    inner product joined alongside as the collision audit (computed
    from per-key counts; fine at oracle scale, the thing the sketch
    avoids at production scale). All integer arithmetic — engine-exact.
    """
    a = cms_counters(keys_a, key_col, d=d, w=w)
    b = cms_counters(keys_b, key_col, d=d, w=w)
    dots = (
        a.alias("a")
        .join(b.alias("b"), ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("dot"))
    )
    # a row with NO overlapping cells has dot = 0 (disjoint key sets
    # hash-separate on that row) — the inner join drops it, so min()
    # over present rows alone would overestimate; spine in all d rows.
    spine = keys_a.sparkSession.range(d).select(
        F.col("id").cast("int").alias("r")
    )
    est = (
        spine.join(dots, "r", "left")
        .agg(F.min(F.coalesce(F.col("dot"), F.lit(0))).alias("est_pairs"))
    )
    ta = keys_a.groupBy(F.col(key_col).alias("k")).agg(
        F.count("*").alias("na")
    )
    tb = keys_b.groupBy(F.col(key_col).alias("k")).agg(
        F.count("*").alias("nb")
    )
    true = ta.join(tb, "k").agg(
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias(
            "true_pairs"
        )
    )
    return est.crossJoin(F.broadcast(true)).select(
        "est_pairs",
        "true_pairs",
        (F.col("est_pairs") - F.col("true_pairs")).alias("overestimate"),
    )


def cms_join_size_oracle_sql(
    a_cte: str, b_cte: str, key: str = "key", d: int = 4, w: int = 512
) -> str:
    """DuckDB mirror of :func:`cms_join_size`."""

    def cell(src: str) -> str:
        parts = []
        for i in range(d):
            hashed = _md5int32_sql(f"'{i}:' || {key}")
            parts.append(
                f"SELECT {key}, {i} AS r, "
                f"CAST({hashed} % {w} AS INT) AS c FROM {src}"
            )
        return " UNION ALL ".join(parts)

    return f"""
        WITH ka AS ({a_cte}),
        kb AS ({b_cte}),
        ca AS (SELECT r, c, count(*) AS cnt
               FROM ({cell("ka")}) GROUP BY r, c),
        cb AS (SELECT r, c, count(*) AS cnt
               FROM ({cell("kb")}) GROUP BY r, c),
        dots AS (
          SELECT a.r, sum(a.cnt * b.cnt) AS dot
          FROM ca a JOIN cb b ON a.r = b.r AND a.c = b.c
          GROUP BY a.r
        ),
        spine AS (SELECT unnest(range({d})) AS r),
        est AS (
          SELECT CAST(min(coalesce(dot, 0)) AS BIGINT) AS est_pairs
          FROM spine LEFT JOIN dots ON spine.r = dots.r
        ),
        ta AS (SELECT {key} AS k, count(*) AS na FROM ka GROUP BY {key}),
        tb AS (SELECT {key} AS k, count(*) AS nb FROM kb GROUP BY {key}),
        tr AS (
          SELECT CAST(coalesce(sum(ta.na * tb.nb), 0) AS BIGINT)
                   AS true_pairs
          FROM ta JOIN tb ON ta.k = tb.k
        )
        SELECT est_pairs, true_pairs,
               est_pairs - true_pairs AS overestimate
        FROM est, tr
    """
