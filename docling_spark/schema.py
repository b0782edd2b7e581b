"""Spark StructTypes for every table the engine touches.

Schemas are always declared explicitly (never inferred) — mirroring the
reference's pydantic-validated fixed schemas (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------- input table
# Common-Crawl-style pages table (BASELINE.json input_hint). At production
# scale this is an Iceberg table; tests/bench use a parquet stand-in with the
# identical schema.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ------------------------------------------------------------- span payload
SPAN_TYPE = StructType(
    [
        StructField("idx", IntegerType(), False),
        StructField("parent", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("label", StringType(), False),
        StructField("name", StringType(), True),
        StructField("text", StringType(), True),
        StructField("level", IntegerType(), True),
        StructField("marker", StringType(), True),
        StructField("enumerated", BooleanType(), True),
        StructField("bold", BooleanType(), True),
        StructField("italic", BooleanType(), True),
        StructField("underline", BooleanType(), True),
        StructField("strikethrough", BooleanType(), True),
        StructField("script", StringType(), True),
        StructField("hyperlink", StringType(), True),
        StructField("content_layer", StringType(), False),
        StructField("num_rows", IntegerType(), True),
        StructField("num_cols", IntegerType(), True),
        # character offsets of the item's emitted block(s) in extracted_text
        # (north rule: "extracted text + span offsets"); NULL for items that
        # emit nothing (furniture outside md layers) and for backends
        # without a SpanDoc (pdf structural spans carry bbox geometry
        # instead)
        StructField("char_start", IntegerType(), True),
        StructField("char_end", IntegerType(), True),
    ]
)

# --------------------------------------------------------------- output table
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("doc_hash", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
        StructField("extracted_text", StringType(), True),  # markdown (golden contract)
        StructField("itxt", StringType(), True),
        StructField("spans", ArrayType(SPAN_TYPE), True),
        StructField("n_items", IntegerType(), True),
        StructField("n_chars", IntegerType(), True),
        StructField("proc_ms", DoubleType(), True),
        StructField("doc_json", StringType(), True),  # DoclingDocument JSON
        StructField("doctags", StringType(), True),  # DocTags serialization
    ]
)

# --------------------------------------------------------------- lineage table
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("num_chunks", IntegerType(), False),
        StructField("url_count", LongType(), False),
        # UTF-8 bytes of the chunk's extracted_text (markdown), summed;
        # n_chars counts characters, so the two differ on non-ASCII text
        StructField("byte_count", LongType(), False),
        StructField("status_counts", MapType(StringType(), LongType()), False),
        StructField("wall_sec", DoubleType(), False),
        StructField("docs_per_sec", DoubleType(), False),
        StructField("committed_at", TimestampType(), False),
    ]
)
