"""What one ExtractionRunner pass asks of Spark, and what its plan costs.

A chunk is one Spark action, its parquet write: the lineage metrics are
observed on that write and the driver writes the lineage row, so after the
resume probe a run of K chunks makes K parquet writes and no collect or
createDataFrame. The dispatch CaseWhen is compiled once per py4j gateway and
reused, and the optimized plans built from it are the ones that compiling it
on every call gave (digests generated before the memo existed)."""

from __future__ import annotations

import hashlib
import re
import sys
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from test_backend_lock import CASES, FLAG_SETS
from test_resume import SF

from docling_spark import job
from docling_spark.job import ExtractionRunner, RunConfig
from docling_spark.ops.corpus import synth_pages

K = 3
RUN = "r-actions"


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("runner-actions-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .getOrCreate()
    )
    yield s


class _SpyRunner(ExtractionRunner):
    """Records the Spark calls made after the resume probe returned."""

    def __init__(self, spark, cfg):
        super().__init__(spark, cfg)
        self.probed = False
        self.calls = []

    def committed_chunks(self):
        done = super().committed_chunks()
        self.probed = True
        return done


def _pages(spark):
    """The synthetic pages plus every backend-lock input under its own url,
    so the chunks hold success, failure, skipped and needs_ocr rows, plus
    one page whose text is not ASCII."""
    pages = synth_pages(spark, SF)
    ts = datetime(2024, 6, 1)
    extra = [
        (url.replace("lock.test/docs/", f"runner.test/{i}/"), ts, blob, "", "en")
        for i, (url, blob, _) in enumerate(CASES.values())
    ]
    umlaut = "<html><body><p>Zürich – café naïve</p></body></html>".encode()
    extra.append(("https://runner.test/umlaut.html", ts, umlaut, "", "de"))
    return pages.unionByName(spark.createDataFrame(extra, pages.schema))


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    """One fresh K-chunk run with the collect, createDataFrame and parquet
    write entry points wrapped while it runs."""
    pages = _pages(spark)
    out = str(tmp_path_factory.mktemp("actions") / "out")
    runner = _SpyRunner(spark, RunConfig(run_id=RUN, output_path=out, num_chunks=K))
    targets = [
        (type(pages.write), "parquet"),
        (type(pages), "collect"),
        (type(spark), "createDataFrame"),
    ]
    saved = [(cls, name, getattr(cls, name)) for cls, name in targets]

    def spy(name, orig):
        def wrapped(*args, **kwargs):
            if runner.probed:
                runner.calls.append(name)
            return orig(*args, **kwargs)

        return wrapped

    try:
        for cls, name, orig in saved:
            setattr(cls, name, spy(name, orig))
        stats = runner.run(pages)
    finally:
        for cls, name, orig in saved:
            setattr(cls, name, orig)
    return runner, stats, pages.count()


def test_a_chunk_is_one_write(run):
    runner, stats, _ = run
    assert stats == {"chunks_total": K, "chunks_skipped": 0}
    assert sorted(runner.calls) == ["parquet"] * K


def test_lineage_rows_equal_the_written_output(spark, run):
    runner, _, n_input = run
    out = runner.cfg.output_path
    lineage = (
        spark.read.parquet(f"{out}/lineage").filter(F.col("run_id") == RUN).collect()
    )
    assert sorted(r.chunk_id for r in lineage) == list(range(K))
    seen = set()
    non_ascii = False
    for row in lineage:
        agg = (
            spark.read.parquet(f"{out}/data/run_id={RUN}/chunk_id={row.chunk_id}")
            .groupBy("status")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.coalesce(F.octet_length("extracted_text"), F.lit(0))).alias("b"),
                F.sum(F.coalesce(F.length("extracted_text"), F.lit(0))).alias("c"),
            )
            .collect()
        )
        assert row.url_count == sum(r.n for r in agg)
        assert row.byte_count == sum(r.b for r in agg)
        non_ascii |= row.byte_count != sum(r.c for r in agg)
        assert dict(row.status_counts) == {r.status: r.n for r in agg}
        assert row.num_chunks == K and row.wall_sec > 0 and row.docs_per_sec > 0
        seen |= set(row.status_counts)
    assert sum(r.url_count for r in lineage) == n_input
    assert {"success", "failure", "skipped", "needs_ocr"} <= seen
    # byte_count counts UTF-8 bytes, not characters
    assert non_ascii


def test_leftover_temp_file_is_ignored(spark, run):
    runner, _, _ = run
    lineage = runner._lineage_path()
    fs, path, Path = runner._lineage_dir
    stream = fs.create(Path(path, ".part-x.parquet.tmp"), True)
    stream.write(b"half a parquet file")
    stream.close()
    assert runner.committed_chunks() == set(range(K))
    assert spark.read.parquet(lineage).count() == K
    assert ExtractionRunner(spark, runner.cfg).run(_pages(spark))["chunks_skipped"] == K


def test_corrupt_lineage_fails_the_run(spark, tmp_path):
    """A lineage the probe cannot read is an error, not "nothing committed":
    the run raises before writing any data."""
    out = tmp_path / "out"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-0.parquet").write_bytes(b"not a parquet file")
    cfg = RunConfig(run_id="r-corrupt", output_path=str(out), num_chunks=K)
    with pytest.raises(Exception, match="(?i)parquet"):
        ExtractionRunner(spark, cfg).run(synth_pages(spark, SF).limit(20))
    assert not (out / "data").exists()


def test_every_lock_status_is_counted():
    """Each status the backend-lock inputs produce has its observed count."""
    statuses = {
        job._extract_one(url, blob, ct, mode, 60.0, **flags)["status"]
        for url, blob, ct in CASES.values()
        for mode in ("none", "url")
        for flags in FLAG_SETS
    }
    assert statuses <= set(job.STATUSES)


# ------------------------------------------------------------- dispatch memo
def _plan_digest(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"x_\d+", "x_", re.sub(r"#\d+L?", "#", plan))
    return hashlib.sha256(plan.encode()).hexdigest()


def _plans(spark) -> dict[str, str]:
    one = spark.createDataFrame(
        [("https://a.test/b.html", b"<html>x</html>")], "url string, html binary"
    )
    page = spark.createDataFrame(
        [("https://a.test/b.html", datetime(2024, 1, 1), b"<html>x</html>", "en")],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    return {
        "with_content_type": _plan_digest(job.with_content_type(one)),
        "extract_pages": _plan_digest(job.extract_pages(page)),
        "extract_pages_skew": _plan_digest(
            job.extract_pages(page, shuffle_partitions=4, salt=2)
        ),
    }


# optimized-plan sha256 after normalizing expression and lambda ids,
# generated when every call compiled DISPATCH_RULES anew
PLAN_DIGESTS = {
    "with_content_type": "69a00f7480ca423644567207705fc59c0dfcaa72f099bf0a5fe88d4809e77215",
    "extract_pages": "53a3c1724dc0d17e558cc9bbb77b55ce8a4475166c425e63a8bd3f1956cedbe0",
    "extract_pages_skew": "ad2dbd90807afcfc614fc484f409915870b219c4e13c4bb9c96c1d57bfea7483",
}


@pytest.fixture
def atom_calls(monkeypatch):
    """A fresh dispatch memo, and the _jvm_atom calls made while building it."""
    calls = []
    atom = job._jvm_atom

    def counting(a):
        calls.append(a)
        return atom(a)

    monkeypatch.setattr(job, "_dispatch_memo", (None, None, None))
    monkeypatch.setattr(job, "_jvm_atom", counting)
    return calls


def test_dispatch_case_is_compiled_once(spark, atom_calls):
    one = spark.createDataFrame([("https://a.test/b.pdf", b"%PDF-1.4")], "url string, html binary")
    first = job.with_content_type(one)
    assert atom_calls
    atom_calls.clear()
    second = job.with_content_type(one.withColumnRenamed("url", "url"))
    assert atom_calls == []
    assert first.first().content_type == second.first().content_type == "pdf"


def test_concurrent_callers_build_the_memo_once(spark, atom_calls, monkeypatch):
    job._dispatch_columns()
    once = len(atom_calls)
    monkeypatch.setattr(job, "_dispatch_memo", (None, None, None))
    atom_calls.clear()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(job._dispatch_columns) for _ in range(8)]
            built = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(atom_calls) == once
    assert all(case is built[0][1] for _, case in built)


def test_memoized_plans_equal_the_compiled_ones(spark):
    assert _plans(spark) == PLAN_DIGESTS
