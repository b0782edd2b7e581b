"""Perceptual-hash (dHash) image near-dedup.

Extends the dedup family to the IMAGE modality: decode the raster,
compute the 64-bit difference hash (8x8 grid of within-row gradient
comparisons over a 9x8 nearest-neighbor downsample — the standard
dHash), then find near-duplicates by Hamming distance with the SAME
banded-LSH shuffle shape as MinHash text dedup: 4 bands x 16 bits,
candidates must share a band value, verified by exact bit_count.
dHash is invariant to uniform brightness shifts (comparisons see
``a+k > b+k``), which is precisely what makes it a DEDUP key rather
than a checksum: re-encoded/brightened copies collapse.

Engine story: decode+hash runs in ONE mapInPandas stage (the codec is
the existing from-scratch ops/png.py — real IDAT inflate + filter
reconstruction, not a stub), emitting (doc_id, h_hi, h_lo,
band0..band3) — 64 bits carried as two uint32-in-BIGINT halves so both
engines do exact arithmetic, no sign traps. Everything after the hash
is JVM: band explode (4 rows/doc) → equi-join → distinct →
``bit_count(xor)`` Hamming verify. The ORACLE never touches PNG bytes:
the synthetic corpus pixel law is pure doc_id arithmetic, so DuckDB
recomputes every hash from the law — decode, downsample, hash, banding
and verify are all value-checked end-to-end against an independent
derivation (the ops/linkgraph oracle principle).

Scale shape: one Python crossing (unavoidable codec work, Arrow
batched); the pair stage is the LSH-banding exchange — never all-pairs;
verification is in-row bit arithmetic. Identical to the text-dedup
plan the repo already runs at the 100 TB posture.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import read_docs

HAMMING_MAX = 6
GRID_W, GRID_H = 9, 8  # 9 samples/row -> 8 comparisons x 8 rows = 64 bits


def _dhash_bits(px, w: int, h: int) -> int:
    """64-bit dHash of a grayscale raster (row-major bytes/ints)."""
    bits = 0
    for r in range(GRID_H):
        y = r * h // GRID_H
        row = [px[y * w + (c * w // GRID_W)] for c in range(GRID_W)]
        for c in range(GRID_W - 1):
            i = r * (GRID_W - 1) + c
            if row[c + 1] > row[c]:
                bits |= 1 << i
    return bits


def dhash_images(media: DataFrame, col: str = "png") -> DataFrame:
    """(doc_id, <col>: binary PNG) -> (doc_id, h_hi, h_lo,
    band0..band3). One mapInPandas; grayscale = first channel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from docling_spark.ops.png import decode_png

        for b in batches:
            out = {k: [] for k in
                   ("doc_id", "h_hi", "h_lo", "band0", "band1", "band2", "band3")}
            for doc_id, blob in zip(b["doc_id"], b[col]):
                try:
                    w, h, c, payload = decode_png(bytes(blob))
                    px = payload[::c] if c > 1 else payload
                    bits = _dhash_bits(px, w, h)
                except Exception:
                    continue  # corrupt raster: no hash row, never a task kill
                out["doc_id"].append(int(doc_id))
                out["h_hi"].append(bits >> 32)
                out["h_lo"].append(bits & 0xFFFFFFFF)
                for j in range(4):
                    out[f"band{j}"].append((bits >> (16 * j)) & 0xFFFF)
            yield pd.DataFrame(out)

    return media.select("doc_id", col).mapInPandas(
        run,
        schema="doc_id long, h_hi long, h_lo long, "
        "band0 long, band1 long, band2 long, band3 long",
    )


def dhash_near_dups(hashes: DataFrame, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """(id_a, id_b, hamming) for pairs sharing >= 1 LSH band with
    Hamming distance <= max_hamming. Banding exchange + in-row verify;
    never all-pairs."""
    # the self-join would otherwise recompute the Python decode+hash
    # stage on BOTH sides — persist the slim (doc_id, 6 longs) frame so
    # the codec runs once (same rule as the DSIR feature explode)
    hashes = hashes.persist()
    bands = hashes.select(
        "doc_id",
        "h_hi",
        "h_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("bj"), F.col(f"band{j}").alias("bv"))
                for j in range(4)
            ])
        ).alias("band"),
    ).select("doc_id", "h_hi", "h_lo", "band.bj", "band.bv")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bj") == F.col("b.bj"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.bit_count(F.col("a.h_hi").bitwiseXOR(F.col("b.h_hi")))
                + F.bit_count(F.col("a.h_lo").bitwiseXOR(F.col("b.h_lo")))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ------------------------------------------------------------------ corpus
# Pixel law (base images): px(x, y) =
#   (13*(x + base%17)^2 + 5*y + base*7) % 200
# — the per-doc x-offset moves the parabola so unrelated docs'
# within-row gradients DECORRELATE (a pure +base*7 shift would leave
# most comparisons shared and drown the corpus in accidental near-dups
# — measured: 737k pairs at sf0.1 vs ~2k with the offset); bounded at
# 200 so the twins below can shift brightness WITHOUT mod-256
# wraparound. Twins reuse their base's dimensions:
#   +500000 (base % 5 == 0): px + 17    — uniform brightness: dHash-identical
#   +800000 (base % 7 == 0): px + (50 if x < 3 else 0) — local edit:
#     flips only the comparisons that cross the x=3 boundary (small,
#     law-predictable Hamming distance)
def _img_dims(base: int) -> tuple[int, int]:
    return 16 + (base % 3) * 8, 16 + (base % 2) * 8


def _law_px(base: int, x: int, y: int, boost3: bool) -> int:
    xo = x + base % 17
    v = (13 * xo * xo + 5 * y + base * 7) % 200
    if boost3 and x < 3:
        v += 50
    return v


def synth_phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, png) — REAL PNGs (ops/png.py encoder) whose pixels obey
    the module law; includes brightness twins and local-edit twins."""
    docs = read_docs(spark, sf_dir, "doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from docling_spark.ops.png import encode_png

        def png_for(base: int, shift: int, boost3: bool) -> bytes:
            w, h = _img_dims(base)
            payload = bytes(
                (_law_px(base, x, y, boost3) + shift) % 256
                for y in range(h)
                for x in range(w)
            )
            return encode_png(w, h, 1, payload, filter_type=base % 5)

        for b in batches:
            ids, blobs = [], []
            for i in (int(v) for v in b["doc_id"]):
                ids.append(i)
                blobs.append(png_for(i, 0, False))
                if i % 5 == 0:
                    ids.append(i + 500000)
                    blobs.append(png_for(i, 17, False))
                if i % 7 == 0:
                    ids.append(i + 800000)
                    blobs.append(png_for(i, 0, True))
            yield pd.DataFrame({"doc_id": ids, "png": blobs})

    return docs.mapInPandas(build, schema="doc_id long, png binary")


def phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dhash_near_dups(dhash_images(synth_phash_corpus(spark, sf_dir)))


# ------------------------------------------------------------------ oracle
def phash_oracle_sql(max_hamming: int = HAMMING_MAX) -> str:
    """DuckDB mirror that NEVER decodes a PNG: hashes are recomputed
    from the pixel law by pure doc_id arithmetic."""
    return f"""
    WITH ids AS (
        SELECT doc_id AS id, doc_id AS base, 0 AS shift, FALSE AS boost3
        FROM documents
        UNION ALL
        SELECT doc_id + 500000, doc_id, 17, FALSE FROM documents
        WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 800000, doc_id, 0, TRUE FROM documents
        WHERE doc_id % 7 = 0
    ),
    dims AS (
        SELECT *, 16 + (base % 3) * 8 AS w, 16 + (base % 2) * 8 AS h
        FROM ids
    ),
    grid AS (
        SELECT d.*, r, c,
               (r * h) // {GRID_H} AS y,
               (c * w) // {GRID_W} AS sx,
               ((c + 1) * w) // {GRID_W} AS sx2
        FROM dims d,
             UNNEST(range(0, {GRID_H})) AS gr(r),
             UNNEST(range(0, {GRID_W - 1})) AS gc(c)
    ),
    bits AS (
        SELECT id, r * {GRID_W - 1} + c AS i,
               CASE WHEN
                   ((13 * (sx2 + base % 17) * (sx2 + base % 17)
                     + 5 * y + base * 7) % 200
                    + CASE WHEN boost3 AND sx2 < 3 THEN 50 ELSE 0 END + shift)
                   % 256
                 >
                   ((13 * (sx + base % 17) * (sx + base % 17)
                     + 5 * y + base * 7) % 200
                    + CASE WHEN boost3 AND sx < 3 THEN 50 ELSE 0 END + shift)
                   % 256
               THEN 1 ELSE 0 END AS bit
        FROM grid
    ),
    hashes AS (
        SELECT id AS doc_id,
               sum(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32))
                        ELSE 0 END) AS h_hi,
               sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << i)
                        ELSE 0 END) AS h_lo,
               sum(CASE WHEN i < 16 THEN bit * (1::BIGINT << i)
                        ELSE 0 END) AS band0,
               sum(CASE WHEN i >= 16 AND i < 32
                        THEN bit * (1::BIGINT << (i - 16)) ELSE 0 END) AS band1,
               sum(CASE WHEN i >= 32 AND i < 48
                        THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS band2,
               sum(CASE WHEN i >= 48
                        THEN bit * (1::BIGINT << (i - 48)) ELSE 0 END) AS band3
        FROM bits GROUP BY id
    ),
    bands AS (
        SELECT doc_id, h_hi, h_lo, 0 AS bj, band0 AS bv FROM hashes
        UNION ALL SELECT doc_id, h_hi, h_lo, 1, band1 FROM hashes
        UNION ALL SELECT doc_id, h_hi, h_lo, 2, band2 FROM hashes
        UNION ALL SELECT doc_id, h_hi, h_lo, 3, band3 FROM hashes
    )
    SELECT DISTINCT
        a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.h_hi, b.h_hi))
             + bit_count(xor(a.h_lo, b.h_lo)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.bj = b.bj AND a.bv = b.bv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h_hi, b.h_hi))
          + bit_count(xor(a.h_lo, b.h_lo)) <= {max_hamming}
    """
