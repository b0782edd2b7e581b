"""Audio fingerprint near-dedup (chromaprint-shaped, PCM-exact).

Completes the modality triple (text: MinHash/SimHash/ExactSubstr,
image: dHash — ops/imagededup.py, audio: this): decode PCM16 from the
REAL RIFF/WAVE container, frame the signal, and hash the FRAME-ENERGY
GRADIENT — bit k = energy(frame k+1) > energy(frame k), 65 frames →
64 bits. Energy-gradient comparisons are invariant to uniform VOLUME
scaling (``2a > 2b  ⇔  a > b``), the audio analog of dHash's
brightness invariance: a re-mastered louder copy collapses onto its
original. Pairing is the SAME banded-LSH Hamming stage the image op
uses (ops/imagededup.dhash_near_dups — 4x16-bit bands, equi-join,
bit_count(xor) verify), so the shuffle shape is shared across all
three modalities.

The oracle never parses a WAV: the synthetic corpus sample law is pure
doc_id arithmetic (per-doc quadratic so unrelated docs' energy
profiles decorrelate), so DuckDB recomputes every fingerprint from the
law — container parse, PCM decode, framing, energies, hashing, banding
and verification all value-checked against an independent derivation.

Scale shape: one mapInPandas (container+PCM decode, numpy-framed) then
pure JVM; the pair stage is the LSH-banding exchange — never all-pairs.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from docling_spark.ops.corpus import read_docs
from docling_spark.ops.imagededup import dhash_near_dups as banded_hamming_pairs

N_FRAMES = 65  # 64 energy comparisons = 64 bits


def _fp_bits(energies) -> int:
    bits = 0
    for k in range(N_FRAMES - 1):
        if energies[k + 1] > energies[k]:
            bits |= 1 << k
    return bits


def audio_fingerprints(media: DataFrame, col: str = "wav") -> DataFrame:
    """(doc_id, <col>: binary WAV) -> (doc_id, h_hi, h_lo, band0..3).
    PCM16 mono; frame length = nsamples // 65; energy = sum |sample|."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            out = {k: [] for k in
                   ("doc_id", "h_hi", "h_lo", "band0", "band1", "band2", "band3")}
            for doc_id, blob in zip(b["doc_id"], b[col]):
                try:
                    blob = bytes(blob)
                    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
                        continue
                    # canonical 44-byte header (fmt 16, PCM): data chunk walk
                    pos, data = 12, None
                    while pos + 8 <= len(blob):
                        cid = blob[pos : pos + 4]
                        (sz,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
                        if cid == b"data":
                            data = blob[pos + 8 : pos + 8 + sz]
                            break
                        pos += 8 + sz + (sz & 1)
                    if not data:
                        continue
                    pcm = np.frombuffer(data, dtype="<i2")
                    flen = len(pcm) // N_FRAMES
                    if flen == 0:
                        continue
                    frames = pcm[: flen * N_FRAMES].reshape(N_FRAMES, flen)
                    energies = np.abs(frames.astype(np.int64)).sum(axis=1)
                    bits = _fp_bits(energies)
                except Exception:
                    continue  # corrupt container: skip row, never a task kill
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


# ------------------------------------------------------------------ corpus
# Sample law: s_i(base) = ((a*i*i + b*i + c) % 2001) - 1000 with
# a = 1 + base % 7, b = base % 31, c = (base * 13) % 101 — per-doc
# quadratic coefficients decorrelate energy profiles across docs.
# Frame length flen = 96 + (base % 3) * 32; nsamples = 65 * flen.
# Volume twin (+600000, base % 4 == 0): every sample doubled — |s| <=
# 1000 so 2s never clips int16; energies double, comparisons identical,
# fingerprint EXACTLY equal (the volume invariance).
def _aud_law_params(base: int) -> tuple[int, int, int, int]:
    return 1 + base % 7, base % 31, (base * 13) % 101, 96 + (base % 3) * 32


def synth_audio_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs(spark, sf_dir, "doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def wav_for(base: int, gain: int) -> bytes:
            a, bq, c, flen = _aud_law_params(base)
            n = N_FRAMES * flen
            i = np.arange(n, dtype=np.int64)
            s = ((a * i * i + bq * i + c) % 2001) - 1000
            payload = (s * gain).astype("<i2").tobytes()
            hdr = (
                b"RIFF"
                + struct.pack("<I", 36 + len(payload))
                + b"WAVE"
                + b"fmt "
                + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
                + b"data"
                + struct.pack("<I", len(payload))
            )
            return hdr + payload

        for b in batches:
            ids, blobs = [], []
            for i in (int(v) for v in b["doc_id"]):
                ids.append(i)
                blobs.append(wav_for(i, 1))
                if i % 4 == 0:
                    ids.append(i + 600000)
                    blobs.append(wav_for(i, 2))
            yield pd.DataFrame({"doc_id": ids, "wav": blobs})

    return docs.mapInPandas(build, schema="doc_id long, wav binary")


def audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return banded_hamming_pairs(audio_fingerprints(synth_audio_corpus(spark, sf_dir)))


# ------------------------------------------------------------------ oracle
def audiofp_oracle_sql(max_hamming: int = 6) -> str:
    """DuckDB mirror from the sample law — no WAV bytes involved."""
    return f"""
    WITH ids AS (
        SELECT doc_id AS id, doc_id AS base, 1 AS gain FROM documents
        UNION ALL
        SELECT doc_id + 600000, doc_id, 2 FROM documents WHERE doc_id % 4 = 0
    ),
    params AS (
        SELECT *, 1 + base % 7 AS a, base % 31 AS bq, (base * 13) % 101 AS c,
               96 + (base % 3) * 32 AS flen
        FROM ids
    ),
    energies AS (
        SELECT id, k,
               sum(abs(((a * (k * flen + j) * (k * flen + j)
                         + bq * (k * flen + j) + c) % 2001 - 1000) * gain)) AS e
        FROM params,
             UNNEST(range(0, {N_FRAMES})) AS fk(k),
             UNNEST(range(0, flen)) AS fj(j)
        GROUP BY id, k
    ),
    bits AS (
        SELECT a.id, a.k AS i,
               CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
        FROM energies a JOIN energies b
          ON a.id = b.id AND b.k = a.k + 1
        WHERE a.k < {N_FRAMES - 1}
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
