"""A failed chunk stops a concurrent ExtractionRunner run: chunks that have
not started never run, running ones finish and commit, and the failure is
re-raised. Resume then picks up every chunk without a lineage row."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import SparkSession
from test_resume import SF

from docling_spark.job import ExtractionRunner, RunConfig
from docling_spark.ops.corpus import synth_pages


@pytest.fixture(scope="module")
def spark():
    return (
        SparkSession.builder.master("local[4]")
        .appName("runner-failure-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .getOrCreate()
    )


class _ChunkFailed(Exception):
    pass


class _FailingRunner(ExtractionRunner):
    """Raises on chunk 0 before any Spark work; counts the chunks started."""

    def __init__(self, spark, cfg):
        super().__init__(spark, cfg)
        self.started = []

    def _run_chunk(self, pages, k, shuffle_partitions):
        self.started.append(k)
        if k == 0:
            raise _ChunkFailed()
        return super()._run_chunk(pages, k, shuffle_partitions)


def test_first_failure_stops_the_pool(spark, tmp_path):
    cfg = RunConfig(
        run_id=f"r-{uuid.uuid4().hex[:8]}",
        output_path=str(tmp_path / "out"),
        num_chunks=8,
        max_concurrent_chunks=2,
    )
    pages = synth_pages(spark, SF)
    runner = _FailingRunner(spark, cfg)
    with pytest.raises(_ChunkFailed):
        runner.run(pages)
    # chunk 0 and at most the one chunk already running beside it
    assert len(runner.started) <= 2
    done = ExtractionRunner(spark, cfg).committed_chunks()
    assert len(done) <= 1
    assert 0 not in done

    stats = ExtractionRunner(spark, cfg).run(pages)
    assert stats["chunks_skipped"] == len(done)
    assert ExtractionRunner(spark, cfg).committed_chunks() == set(range(8))
