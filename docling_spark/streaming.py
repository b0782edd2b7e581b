"""Structured Streaming front-end for the extraction pipeline.

The reference processes batches through an in-process ThreadedQueue with
backpressure (/root/reference/docling/pipeline/standard_pdf_pipeline.py:103-169);
Spark's equivalent for a continuously-fed crawl table is Structured
Streaming: a file/Iceberg stream source feeding the SAME ``extract_pages``
logical plan, with checkpointed exactly-once sinks. This module wires that
up — the extraction logic itself is identical to the batch path (one plan,
two drivers), which is the idiomatic Spark way to keep batch/stream parity.

Scale notes: maxFilesPerTrigger bounds per-micro-batch work (the streaming
analog of doc_batch_size); the checkpoint dir gives resume-from-offset,
complementing the batch runner's lineage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .job import extract_pages
from .schema import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int = 16,
    schema=PAGES_SCHEMA,
) -> DataFrame:
    """File-source stream over a growing pages directory (parquet)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def _per_batch_dirs(
    stream: DataFrame, plan, output_path: str, checkpoint_path: str
):
    """Drain ``stream`` (availableNow) through foreachBatch, writing
    ``plan(batch_df)`` of micro-batch N to ``output_path/batch_id=N``. The
    directory write is idempotent under replay: a restart that re-runs
    batch N overwrites N's directory rather than duplicating rows, so the
    union of batch outputs is exactly-once across kill/restart."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        plan(batch_df).write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def windowed_status_counts(
    extracted_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming metrics: per-(event-time window, status) doc counts with a
    watermark bounding late-data state. This is the streaming analog of the
    batch runner's lineage `status_counts` — state is dropped once the
    watermark passes a window's end, so the aggregation runs forever on a
    crawl feed without unbounded memory."""
    return (
        extracted_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "n",
        )
    )


def stateful_dedup_stream(
    pages_stream: DataFrame,
    state_ttl_ms: int | None = 7 * 24 * 3600 * 1000,
    key=None,
    key_name: str = "doc_hash",
) -> DataFrame:
    """Cross-micro-batch exact dedup: emit each key's FIRST-SEEN row
    only, suppressing every later duplicate for as long as the state lives.

    Custom stateful operator via ``applyInPandasWithState`` keyed by
    ``key`` (default: sha2 of the html bytes — content identity; pass
    e.g. ops/urlnorm.canonicalize_url(F.col("url")) for canonical-URL
    identity, see :func:`canonical_dedup_stream`). State per key is one
    boolean with a processing-time TTL (``state_ttl_ms``, default
    7 days ~ a recrawl horizon) so state doesn't grow unboundedly on a
    continuous crawl feed; after the TTL the key is treated as new
    again, which is the standard trade for bounded state.

    availableNow caveat: a pending processing-time timeout makes the
    stateful operator request no-data micro-batches indefinitely, so an
    availableNow BACKFILL never terminates under the default
    ``noDataMicroBatches`` setting. For bounded backfills either pass
    ``state_ttl_ms=None`` (NoTimeout — state lives for the run, which a
    bounded run is fine with) or set
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` on the
    session; the TTL belongs to continuous triggers."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField(key_name, StringType()),
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
        ]
    )
    state_schema = StructType([StructField("seen", StringType())])

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # TTL expired: drop the key's state; no output this round
            state.remove()
            return
        if not state.exists:
            # global min across ALL pandas chunks of this key in the batch
            # (a key's rows may span multiple Arrow chunks; taking the first
            # non-empty chunk's min would be wrong)
            first_url, first_ts = None, None
            for pdf in pdfs:
                if not len(pdf):
                    continue
                pdf = pdf.sort_values(
                    ["warc_ts", "url"], kind="stable"
                )
                ts, u = pdf["warc_ts"].iloc[0], pdf["url"].iloc[0]
                if first_ts is None or ts < first_ts or (
                    ts == first_ts and u < first_url
                ):
                    first_url, first_ts = u, ts
            state.update(("y",))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            if first_url is not None:
                yield pd.DataFrame(
                    {
                        key_name: [key[0]],
                        "url": [first_url],
                        "warc_ts": [first_ts],
                    }
                )
        else:
            # already seen: refresh the TTL and suppress duplicates
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)

    key_col = F.sha2(F.col("html"), 256) if key is None else key
    hashed = pages_stream.withColumn(key_name, key_col)
    return (
        hashed.select(key_name, "url", "warc_ts")
        .groupBy(key_name)
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if state_ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


def canonical_dedup_stream(
    pages_stream: DataFrame, state_ttl_ms: int | None = 7 * 24 * 3600 * 1000
) -> DataFrame:
    """First-seen-per-CANONICAL-URL over a crawl stream: the streaming
    twin of ops/urlnorm.canonical_dedup's key (the batch op keeps the
    LATEST snapshot retrospectively; a stream emits the FIRST arrival
    and suppresses the rest — the standard batch/stream duality, and
    the kept row is still a deterministic law: min (warc_ts, url) within
    the arriving batch, then earliest batch wins). Tracking-param /
    fragment / case variants of one page all collapse into one state
    key, so a continuous crawl feed stores one boolean per PAGE, not
    per raw URL variant."""
    from .ops.urlnorm import canonicalize_url

    return stateful_dedup_stream(
        pages_stream,
        state_ttl_ms=state_ttl_ms,
        key=canonicalize_url(F.col("url")),
        key_name="canonical_url",
    )


def bloom_probe_stream(
    spark: SparkSession,
    input_path: str,
    bloom: DataFrame,
    output_path: str,
    checkpoint_path: str,
    key_col: str = "text",
    m: "int | None" = None,
    k: "int | None" = None,
    max_files_per_trigger: int = 1,
    schema=PAGES_SCHEMA,
):
    """Streaming Bloom membership — the natural INCREMENTAL dedup: new
    crawl rows arrive as micro-batches and are tested against the static
    history filter (``bloom``, a set-bit table from ops/bloom.bloom_build)
    without ever rescanning history.

    Shape: each micro-batch runs the SAME ``bloom_maybe_dup`` plan as the
    batch path (one plan, two drivers — the module's parity rule) into its
    own ``batch_id=N`` directory (:func:`_per_batch_dirs`), so the final
    table equals the batch verdicts exactly-once across kill/restart
    (tests/test_streaming.py)."""
    from .ops import bloom as bloom_ops

    kwargs = {}
    if m is not None:
        kwargs["m"] = m
    if k is not None:
        kwargs["k"] = k
    return _per_batch_dirs(
        read_pages_stream(spark, input_path, max_files_per_trigger, schema),
        lambda batch_df: bloom_ops.bloom_maybe_dup(batch_df, bloom, key_col, **kwargs),
        output_path,
        checkpoint_path,
    )


def cdc_worklist_stream(
    spark: SparkSession,
    input_path: str,
    old_snapshot: DataFrame,
    output_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int = 1,
    schema=PAGES_SCHEMA,
):
    """Streaming crawl CDC — continuous ingestion of a fresh crawl:
    new-snapshot rows arrive as micro-batches and are classified against
    the STATIC previous snapshot (``old_snapshot``), emitting only the
    added/changed work-list rows (ops/snapshot.delta_worklist — the same
    plan as the batch path: one plan, two drivers, the module's parity
    rule). 'removed' detection inherently needs the full new snapshot
    and stays a batch job (ops/snapshot.snapshot_delta).

    Shape: per-batch directory writes (:func:`_per_batch_dirs`), so the
    union of batch outputs equals the batch work list exactly-once across
    kill/restart. The old snapshot enters each micro-batch as the slim
    (url, hash) projection, computed and PERSISTED once up front — the old
    blobs are scanned and hashed a single time, not per micro-batch."""
    from .ops.snapshot import delta_worklist, old_slim_frame

    old_slim = old_slim_frame(old_snapshot).persist()
    old_slim.count()  # materialize before the first batch
    return _per_batch_dirs(
        read_pages_stream(spark, input_path, max_files_per_trigger, schema),
        lambda batch_df: delta_worklist(old_snapshot, batch_df, old_slim=old_slim),
        output_path,
        checkpoint_path,
    )


def run_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int = 16,
    trigger_once: bool = True,
):
    """Start the streaming extraction: the batch ``extract_pages`` plan,
    which without ``shuffle_partitions`` adds no salted repartition (a
    micro-batch is already small). ``trigger_once`` drains what exists
    and stops (the batch-equivalent mode used by tests and backfills);
    otherwise runs continuously."""
    stream = extract_pages(read_pages_stream(spark, input_path, max_files_per_trigger))
    writer = (
        stream.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
