"""ops/tokens.words is the rule every DuckDB oracle of the text family
spells: ``list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')``.
Each edge string is tokenized by both engines and the lists compared."""

from __future__ import annotations

import hashlib
import pathlib

import duckdb
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_spark.ops import tokens

ORACLE = r"list_filter(string_split_regex(lower(t), '\s+'), w -> w <> '')"

EDGES = {
    "empty": "",
    "blank": "   ",
    "runs": "  Alpha   beta \t ",
    "ascii_ws": "a\tb\nc\fd\re",
    "crlf_runs": "\r\n\r\nx\r\n\r\n",
    "vertical_tab": "Ab\x0bCd",
    "nbsp": "a\u00a0b c",
    "line_separator": "a\u2028b c",
    "mixed_case": "MiXeD CaSe WORDS",
    "null": None,
}

# Spark's lower() is Java's, DuckDB's is its own: the two disagree inside
# a word, so no split rule can reconcile them.
LOWER_DIVERGES = {
    "final_sigma": "ΟΔΟΣ",  # Spark 'οδος', DuckDB 'οδοσ'
    "dotted_capital_i": "İstanbul",  # Spark 'i̇stanbul', DuckDB 'istanbul'
}


@pytest.fixture(scope="module")
def spark():
    return (
        SparkSession.builder.master("local[2]")
        .appName("tokens-test")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )


def _spark_words(spark, text):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(tokens.words(F.col("t")).alias("w")).first().w


def _oracle_words(text):
    sql = f"SELECT {ORACLE} FROM (SELECT ?::VARCHAR AS t)"
    return duckdb.execute(sql, [text]).fetchone()[0]


@pytest.mark.parametrize("text", list(EDGES.values()), ids=list(EDGES))
def test_words_equals_the_oracle_fragment(spark, text):
    assert _spark_words(spark, text) == _oracle_words(text)


@pytest.mark.parametrize(
    "text",
    [
        pytest.param(
            t,
            marks=pytest.mark.xfail(
                strict=True,
                reason="Spark (Java) and DuckDB lower() disagree on this word",
            ),
        )
        for t in LOWER_DIVERGES.values()
    ],
    ids=list(LOWER_DIVERGES),
)
def test_words_lower_case_divergence(spark, text):
    assert _spark_words(spark, text) == _oracle_words(text)


def test_bucket_is_the_md5_prefix_mod_n(spark):
    ws = ["alpha", "beta", "", "ab cd"]
    df = spark.createDataFrame([(w,) for w in ws], "t string")
    got = df.select(tokens.bucket(F.col("t"), 64).alias("b")).collect()
    assert [r.b for r in got] == [
        int(hashlib.md5(w.encode()).hexdigest()[:3], 16) % 64 for w in ws
    ]


def test_no_ops_module_keeps_a_private_tokenizer():
    ops = pathlib.Path(tokens.__file__).parent
    copies = [
        p.name
        for p in sorted(ops.glob("*.py"))
        if p.name != "tokens.py" and "F.split(F.lower(" in p.read_text()
    ]
    assert copies == []
