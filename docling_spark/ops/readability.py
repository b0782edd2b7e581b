"""Readability-grade signals: ARI, Coleman-Liau, Flesch reading ease.

The FineWeb-Edu / textbook-quality family of curation signals scores
documents by *reading level*, not just length/repetition (Gopher,
``ops/webtext.py``) or entropy (``ops/entropy.py``): a pretraining mix
targeting educational text wants grade-level estimates per document.
The three classic formulas here need only deterministic counts —
letters, words, sentences, and a syllable *heuristic* (vowel-group
runs, the standard approximation when no pronunciation lexicon is in
play) — so unlike an NN quality model the whole battery is
engine-exact and fully value-oracled.

Definitions (fixed so Spark and the DuckDB oracle agree bit-for-bit):

- words     = non-empty ``\\s+`` splits of ``text``;
- letters   = count of ``[A-Za-z]`` code points;
- sentences = ``max(1, count of /[.!?]+/ runs)`` — a document with no
  terminal punctuation is one sentence, never a division by zero;
- syllables = per word ``max(1, count of /[aeiouy]+/ runs in
  lower(word))``, summed (each word contributes at least one).

Formulas (double arithmetic in exactly this operand order):

- ARI            = 4.71*(letters/words) + 0.5*(words/sentences) - 21.43
- Coleman-Liau   = 0.0588*L - 0.296*S - 15.8
                   with L = letters/words*100, S = sentences/words*100
- Flesch ease    = 206.835 - 1.015*(words/sentences)
                   - 84.6*(syllables/words)

plus a ``flesch_band`` bucket (the conventional 30/50/60/70/80/90
breakpoints). Documents with zero words emit NULL scores rather than
NaN/∞ so downstream gates can route them explicitly. Scores are
emitted UNROUNDED on both engines: the doubles are bit-identical by
construction, and an explicit round(x, 6) would reintroduce
engine-divergent tie behavior (Spark HALF_UP vs DuckDB half-even —
e.g. letters/words = 4.59375 makes ARI end in ...5625, a 6-dp tie).

Scale shape: pure in-row JVM expressions — one ``split`` feeding an
``aggregate`` for syllables, ``regexp_extract_all`` run counts for
sentences, ``regexp_replace``-difference for letters. Zero shuffles,
zero joins, zero Python; whole-stage codegen end to end, so the stage
is scan-bound at 100 TB exactly like the other textstats gates. No
reference counterpart (docling has no quality scoring); the formula
constants are the published Senter-Smith 1967 / Coleman-Liau 1975 /
Flesch 1948 values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tokens import words

__all__ = ["readability", "readability_oracle_sql"]


def readability(docs: DataFrame) -> DataFrame:
    """Per-document readability battery over ``(doc_id, text)``.

    Output: doc_id, n_words, n_sentences, n_letters, n_syllables,
    ari, coleman_liau, flesch, flesch_band.
    """
    # Counts are materialized in one projection first: every formula
    # reference to an expression re-inlines it (Catalyst lambda/alias
    # inlining), so computing ari/coleman/flesch straight off the raw
    # split would tokenize the text ~8 times per row. After this
    # projection each count is a column reference — one pass per doc.
    ws = words(F.col("text"))
    counted = docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_words"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)
            ).cast("bigint"),
        ).alias("n_sentences"),
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), r"[A-Za-z]", ""))
        )
        .cast("bigint")
        .alias("n_letters"),
        F.aggregate(
            ws,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc
            + F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), 0)),
            ).cast("bigint"),
        ).alias("n_syllables"),
    )
    n_words = F.col("n_words")
    n_sentences = F.col("n_sentences")
    n_letters = F.col("n_letters")
    n_syllables = F.col("n_syllables")

    wd = n_words.cast("double")
    ari = (
        F.lit(4.71) * (n_letters.cast("double") / wd)
        + F.lit(0.5) * (wd / n_sentences.cast("double"))
        - F.lit(21.43)
    )
    cl_l = n_letters.cast("double") / wd * F.lit(100.0)
    cl_s = n_sentences.cast("double") / wd * F.lit(100.0)
    coleman = F.lit(0.0588) * cl_l - F.lit(0.296) * cl_s - F.lit(15.8)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (wd / n_sentences.cast("double"))
        - F.lit(84.6) * (n_syllables.cast("double") / wd)
    )
    band = (
        F.when(flesch >= 90.0, "very_easy")
        .when(flesch >= 80.0, "easy")
        .when(flesch >= 70.0, "fairly_easy")
        .when(flesch >= 60.0, "standard")
        .when(flesch >= 50.0, "fairly_hard")
        .when(flesch >= 30.0, "hard")
        .otherwise("very_hard")
    )
    empty = n_words == 0
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_letters",
        F.when(empty, None).otherwise(n_syllables).alias("n_syllables"),
        F.when(empty, None).otherwise(ari).alias("ari"),
        F.when(empty, None).otherwise(coleman).alias("coleman_liau"),
        F.when(empty, None).otherwise(flesch).alias("flesch"),
        F.when(empty, None).otherwise(band).alias("flesch_band"),
    )


def readability_oracle_sql(table: str = "documents") -> str:
    """ANSI/DuckDB SQL computing the identical battery (same count
    definitions, same operand order) for the value oracle."""
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'),
                             w -> length(w) > 0) AS words,
                 greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS n_sentences,
                 length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                   AS n_letters
          FROM {table}
        ),
        counted AS (
          SELECT doc_id,
                 len(words) AS n_words,
                 n_sentences, n_letters,
                 CAST(list_sum(list_transform(words,
                        w -> greatest(1, len(regexp_extract_all(lower(w),
                                                 '[aeiouy]+')))))
                      AS BIGINT) AS n_syllables
          FROM base
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_letters AS BIGINT) AS n_letters,
               CASE WHEN n_words = 0 THEN NULL ELSE n_syllables END
                 AS n_syllables,
               CASE WHEN n_words = 0 THEN NULL ELSE
                 4.71 * (n_letters / CAST(n_words AS DOUBLE))
                       + 0.5 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 21.43 END AS ari,
               CASE WHEN n_words = 0 THEN NULL ELSE
                 0.0588 * (n_letters / CAST(n_words AS DOUBLE) * 100.0)
                       - 0.296 * (n_sentences / CAST(n_words AS DOUBLE) * 100.0)
                       - 15.8 END AS coleman_liau,
               CASE WHEN n_words = 0 THEN NULL ELSE
                 206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (n_syllables / CAST(n_words AS DOUBLE))
                       END AS flesch,
               CASE WHEN n_words = 0 THEN NULL
                    WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                         - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) >= 90.0
                      THEN 'very_easy'
                    WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                         - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) >= 80.0
                      THEN 'easy'
                    WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                         - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) >= 70.0
                      THEN 'fairly_easy'
                    WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                         - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) >= 60.0
                      THEN 'standard'
                    WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                         - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) >= 50.0
                      THEN 'fairly_hard'
                    WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                         - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) >= 30.0
                      THEN 'hard'
                    ELSE 'very_hard' END AS flesch_band
        FROM counted
    """
