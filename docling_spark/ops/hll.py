"""Engine-exact HyperLogLog cardinality (Flajolet et al. 2007).

Distinct counting is the telemetry a 10^12-row pipeline lives on (how
many unique URLs per host? unique documents per shard?) and exact
``count(distinct)`` is exactly what does NOT scale — it shuffles every
key. Spark's built-in ``approx_count_distinct`` is HLL++, but its
register hashing is engine-private, so its numbers cannot be
value-oracled. This module builds classic HLL from scratch on the
portable md5 hash so the whole sketch — registers, harmonic sum,
estimate — is bit-reproducible on Spark AND DuckDB:

- 32-bit key hash = the md5-Horner bigint :func:`md5int32` (also the
  cms, bloom and sampling hash);
- bucket = top ``b`` bits; ``rho`` = 1 + leading zeros of the
  remaining ``32-b`` bits, computed by an INTEGER comparison chain
  (never ``floor(log2(w))`` — a power-of-two ``w`` could round to
  ``k - ulp`` on one engine and flip the floor);
- register = max rho per bucket (a map-side-combining agg — the whole
  point: the shuffle carries ≤ m rows, not the keys);
- harmonic sum Σ 2^-M is EXACT in doubles regardless of addition
  order (every term is dyadic with exponent ≥ -(32-b), so parallel
  aggregation order cannot change the sum — the repo's
  dyadic-quantization idiom, cf. ops/lm_quality);
- estimate = α_m·m²/Σ with the small-range linear-counting branch
  (m·ln(m/V) — the one transcendental; both engines call libm log on
  an identical double, and the 6-dp value compare absorbs any ulp).

Accuracy is the textbook ~1.04/√m relative error — pinned in tests
against exact distinct counts.

Scale shape: one map-side-combining agg to registers (≤ m rows per
group), one tiny per-group merge. Zero Python. No reference
counterpart.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_cardinality",
    "hll_registers",
    "hll_estimate_from_registers",
    "hll_cardinality_oracle_sql",
]

_HEX = "0123456789abcdef"


def md5int32(col: Column) -> Column:
    """The first 8 hex digits of md5(string(col)) as a bigint."""
    h = F.md5(col.cast("string"))
    val = F.lit(0).cast("long")
    for i in range(8):
        nib = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1
        val = val * 16 + nib.cast("long")
    return val


def _md5int32_sql(expr: str) -> str:
    out = "0"
    for i in range(1, 9):
        nib = (
            f"(strpos('{_HEX}', substring(md5(CAST({expr} AS VARCHAR)),"
            f" {i}, 1)) - 1)"
        )
        out = f"({out} * 16 + {nib})"
    return out


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: "list[str] | None" = None,
    b: int = 10,
) -> DataFrame:
    """The sketch STATE: (group cols, bucket, reg) — max rho per
    bucket. This is the mergeable table an incremental deployment
    persists/streams (max is idempotent and commutative, so register
    tables from any partition of the data — micro-batches, shards,
    days — merge by another max); the estimate is a read-time rollup
    (:func:`hll_estimate_from_registers`)."""
    low_bits = 32 - b
    gcols = list(group_cols or [])
    val = md5int32(F.col(key_col))
    bucket = F.floor(val / F.lit(1 << low_bits)).cast("int")
    w = val % F.lit(1 << low_bits)
    rho = F.lit(low_bits + 1)
    for p in range(low_bits, 0, -1):  # p = rho when w >= 2^(low_bits-p)
        rho = F.when(w >= F.lit(1 << (low_bits - p)), F.lit(p)).otherwise(
            rho
        )
    return (
        df.select(*gcols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: "list[str] | None" = None,
    b: int = 10,
) -> DataFrame:
    """Roll a register table up to the estimate row(s)."""
    m = 1 << b
    gcols = list(group_cols or [])
    alpha = _alpha(m)
    merged = regs.groupBy(*gcols).agg(
        F.count("*").alias("n_registers"),
        F.sum(F.pow(F.lit(0.5), F.col("reg"))).alias("sum_present"),
    )
    sum_inv = (
        F.col("sum_present")
        + (F.lit(m) - F.col("n_registers")).cast("double")
    )
    zeros = (F.lit(m) - F.col("n_registers")).cast("double")
    est_raw = F.lit(alpha * m * m) / sum_inv
    estimate = F.when(
        (est_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(est_raw)
    return merged.select(
        *gcols,
        F.lit(m).alias("m"),
        "n_registers",
        sum_inv.alias("sum_inv"),
        estimate.alias("estimate"),
    )


def hll_cardinality(
    df: DataFrame,
    key_col: str,
    group_cols: "list[str] | None" = None,
    b: int = 10,
) -> DataFrame:
    """HLL distinct-count estimate of ``key_col`` (optionally per
    ``group_cols``). Output: group cols + (m, n_registers, sum_inv,
    estimate). Composed as registers → read-time rollup (see
    :func:`hll_registers`)."""
    return hll_estimate_from_registers(
        hll_registers(df, key_col, group_cols=group_cols, b=b),
        group_cols=group_cols,
        b=b,
    )


def hll_cardinality_oracle_sql(
    docs_cte: str,
    key: str,
    group_cols: "list[str] | None" = None,
    b: int = 10,
) -> str:
    """DuckDB mirror over a CTE body yielding ``key`` (+ group cols)."""
    m = 1 << b
    low_bits = 32 - b
    alpha = _alpha(m)
    gcols = list(group_cols or [])
    gsel = (", ".join(gcols) + ",") if gcols else ""
    gby = ("GROUP BY " + ", ".join(gcols)) if gcols else ""
    gby_bucket = "GROUP BY " + ", ".join(gcols + ["bucket"])
    rho = f"{low_bits + 1}"
    for p in range(low_bits, 0, -1):
        rho = f"CASE WHEN w >= {1 << (low_bits - p)} THEN {p} ELSE {rho} END"
    return f"""
        WITH docs AS ({docs_cte}),
        hashed AS (
          SELECT {gsel}
                 CAST(floor(h / {1 << low_bits}) AS INT) AS bucket,
                 h % {1 << low_bits} AS w
          FROM (SELECT {gsel} {_md5int32_sql(key)} AS h FROM docs)
        ),
        regs AS (
          SELECT {gsel} bucket, max({rho}) AS reg
          FROM hashed {gby_bucket}
        ),
        merged AS (
          SELECT {gsel} count(*) AS n_registers,
                 sum(power(0.5, reg)) AS sum_present
          FROM regs {gby}
        )
        SELECT {gsel} {m} AS m,
               CAST(n_registers AS BIGINT) AS n_registers,
               sum_present + CAST({m} - n_registers AS DOUBLE) AS sum_inv,
               CASE WHEN {alpha * m * m!r}
                         / (sum_present + CAST({m} - n_registers AS DOUBLE))
                         <= {2.5 * m!r}
                     AND {m} - n_registers > 0
                    THEN {float(m)!r} * ln({float(m)!r}
                           / CAST({m} - n_registers AS DOUBLE))
                    ELSE {alpha * m * m!r}
                         / (sum_present + CAST({m} - n_registers AS DOUBLE))
               END AS estimate
        FROM merged
    """


def hll_union_oracle_sql(
    a_cte: str, b_cte: str, all_cte: str, key: str, b: int = 10
) -> str:
    """DuckDB mirror of the register-union law: sketch(A) ∪ sketch(B)
    (bucketwise max) must estimate identically to sketch(A ∪ B)."""
    m = 1 << b
    low_bits = 32 - b
    alpha = _alpha(m)
    rho = f"{low_bits + 1}"
    for p in range(low_bits, 0, -1):
        rho = f"CASE WHEN w >= {1 << (low_bits - p)} THEN {p} ELSE {rho} END"

    def regs(cte: str, name: str) -> str:
        return f"""{name} AS (
          SELECT bucket, max({rho}) AS reg FROM (
            SELECT CAST(floor(h / {1 << low_bits}) AS INT) AS bucket,
                   h % {1 << low_bits} AS w
            FROM (SELECT {_md5int32_sql(key)} AS h FROM ({cte}))
          ) GROUP BY bucket
        )"""

    def est(regs_name: str, out: str) -> str:
        return f"""{out} AS (
          SELECT sum_present + CAST({m} - n_registers AS DOUBLE) AS sum_inv,
                 CASE WHEN {alpha * m * m!r}
                        / (sum_present + CAST({m} - n_registers AS DOUBLE))
                        <= {2.5 * m!r} AND {m} - n_registers > 0
                      THEN {float(m)!r} * ln({float(m)!r}
                             / CAST({m} - n_registers AS DOUBLE))
                      ELSE {alpha * m * m!r}
                           / (sum_present + CAST({m} - n_registers AS DOUBLE))
                 END AS estimate
          FROM (SELECT count(*) AS n_registers,
                       sum(power(0.5, reg)) AS sum_present FROM {regs_name})
        )"""

    return f"""
        WITH {regs(a_cte, "ra")},
        {regs(b_cte, "rb")},
        merged AS (
          SELECT bucket, max(reg) AS reg
          FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
          GROUP BY bucket
        ),
        {est("merged", "em")},
        {regs(all_cte, "rw")},
        {est("rw", "ew")}
        SELECT em.estimate AS merged_estimate,
               ew.estimate AS whole_estimate,
               em.estimate = ew.estimate AS merge_law_holds
        FROM em, ew
    """
