"""The benchmark's building blocks, shared by the untimed and traced runs:
the environment, the session, the inputs, and one measured pass.

A pass is one closed-loop batch job from this driver through the public
job API (``job.extract_pages`` or ``job.ExtractionRunner``), timed for
wall, CPU of the whole process tree and peak RSS of the Python side, and
checked against the generator's expected-output law.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import sys
import tempfile
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

from perfbench import gen, procs

ROOT = Path(__file__).resolve().parent.parent
NPROC = len(os.sched_getaffinity(0))
CRAWL_CHUNKS = 4
SMALL_SCALE = 0.1  # the small input of each workload, as a share of its input
MB = 2**20
_UNIX = datetime(1970, 1, 1, tzinfo=timezone.utc)
SOCKETS = Path(".bench_build/sockets")  # relative to ROOT, see prepare_env


# ------------------------------------------------------------- environment
def prepare_env(work: Path) -> None:
    """Environment inherited by the driver JVM and its Python workers:
    the checkout on the workers' import path, the benchmark's interpreter
    for the workers, no console progress bar, and every scratch or temp
    file under ``work``. Unix sockets go to a directory named relative to
    the checkout root (the working directory of every process here), as
    an absolute path under a deep checkout can exceed the 107-byte socket
    path limit."""
    os.chdir(ROOT)
    tmp, local, sockets = work / "tmp", work / "local", SOCKETS
    for d in (tmp, local, sockets):
        d.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + ([old] if old else []))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # the JVMs' temp files go to ``tmp``; their perf-data files (always
    # under /tmp) are turned off
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {java_opts}".strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.python.unix.domain.socket.dir={SOCKETS}",
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "pyspark-shell",
        ]
    )


# ----------------------------------------------------------------- session
def warm_rows() -> list[tuple]:
    """One small HTML page and one PDF per core, HTML first in each pair,
    so every partition of the warm-up job routes both backends."""
    rows = []
    for i in range(NPROC):
        for p in (gen.crawl_small(i, 1)[0], gen.pdf_multipage(i, 1)[0]):
            rows.append((p.url, p.warc_ts, p.html, None, "en"))
    return rows


def start_session(span, t_start: float):
    """``job.tuned_session`` plus one job that makes every Python worker
    import both backends. Returns the session and its setup timings, the
    total counted from ``t_start`` (a ``time.monotonic()`` reading)."""
    from docling_spark import job
    from docling_spark.schema import PAGES_SCHEMA

    t0 = time.monotonic()
    with span("setup.session"):
        spark = job.tuned_session(
            master=f"local[{NPROC}]", shuffle_partitions=NPROC, app="perfbench"
        )
        spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    try:
        with span("setup.worker_warm"):
            rows = warm_rows()
            n = job.extract_pages(spark.createDataFrame(rows, PAGES_SCHEMA)).count()
        if n != len(rows):
            raise RuntimeError(f"warm-up job returned {n} rows, expected {len(rows)}")
    except BaseException:
        stop_session(spark)
        raise
    t2 = time.monotonic()
    return spark, {
        "setup_s": t2 - t_start,
        "session_s": t1 - t0,
        "worker_warm_s": t2 - t1,
    }


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    import signal

    deadline = time.monotonic() + timeout_s
    while True:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)
        pids = alive


def stop_session(spark) -> None:
    """Stop the session, shut the driver JVM down and wait until it and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = list(procs.tree_stats(proc.pid)[1]) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    _wait_gone(pids, 30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ inputs
def write_input(pages: list, path: Path, n_files: int) -> None:
    """Parquet with microsecond UTC timestamps (nanosecond ones fail
    ``spark.read.parquet``), split into ``n_files`` files of about equal
    bytes (largest page first into the lightest file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    bins: list[list] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for p in sorted(pages, key=lambda p: -len(p.html)):
        k = load.index(min(load))
        bins[k].append(p)
        load[k] += len(p.html)
    path.mkdir(parents=True)
    for k, b in enumerate(bins):
        table = pa.table(
            {
                "url": [p.url for p in b],
                "warc_ts": [p.warc_ts for p in b],
                "html": [p.html for p in b],
                "text": [None] * len(b),
                "lang": ["en"] * len(b),
            },
            schema=schema,
        )
        pq.write_table(table, path / f"part-{k:05d}.parquet")


def _micros(ts: datetime) -> int:
    return (ts - _UNIX) // timedelta(microseconds=1)


@dataclass
class Dataset:
    path: Path
    expected: dict  # url -> (sha256 hex of the expected text, warc_ts micros)
    in_bytes: int


@dataclass
class Context:
    spark: object
    workload: str
    seed: int
    work: Path
    data: Dataset  # the measured input
    small: Dataset  # a small input of the same shape, for the traced run
    tracer: object
    detail: dict = field(default_factory=dict)


def make_dataset(pages: list, path: Path, workload: str) -> Dataset:
    # the runner widens a small single-file input to the session's
    # parallelism; plain extract_pages trusts the scan's file splits
    write_input(pages, path, 1 if workload == "crawl_small" else NPROC)
    expected = {
        p.url: (hashlib.sha256(p.expected.encode("utf-8")).hexdigest(), _micros(p.warc_ts))
        for p in pages
        if p.latest
    }
    return Dataset(path, expected, sum(len(p.html) for p in pages))


def make_context(spark, workload: str, seed: int, work: Path, tracer) -> Context:
    data = make_dataset(gen.generate(workload, seed), work / "input", workload)
    small = make_dataset(gen.generate(workload, seed, SMALL_SCALE), work / "small", workload)
    return Context(spark, workload, seed, work, data, small, tracer)


# ---------------------------------------------------------------- passes
def _digests(df):
    """One small row per document: the output check needs every text."""
    from pyspark.sql import functions as F

    return df.select(
        "url",
        F.unix_micros("warc_ts").alias("ts"),
        "status",
        "proc_ms",
        F.sha2("extracted_text", 256).alias("sha"),
    ).collect()


def run_extract(ctx: Context, data: Dataset, k: int):
    """``job.extract_pages`` over the input, collecting the digest rows."""
    from docling_spark import job

    pages = ctx.spark.read.parquet(str(data.path))
    return _digests(job.extract_pages(pages, with_structure=True))


def crawl_runner(ctx: Context, k: int):
    from docling_spark import job

    return job.ExtractionRunner(
        ctx.spark,
        job.RunConfig(
            run_id=f"pass{k}",
            output_path=str(ctx.work / "out" / f"pass{k}"),
            num_chunks=CRAWL_CHUNKS,
            dedup_latest=True,
        ),
    )


def run_crawl(ctx: Context, data: Dataset, k: int):
    """The production write path, then a resume of the same run id."""
    runner = crawl_runner(ctx, k)
    first = runner.run(ctx.spark.read.parquet(str(data.path)))
    again = runner.run(ctx.spark.read.parquet(str(data.path)))
    return runner, first, again


def crawl_rows(ctx: Context, result) -> tuple[list, list]:
    """Output digest rows and problems of one runner pass: the resume must
    skip every chunk and the lineage must show each chunk exactly once."""
    from pyspark.sql import functions as F

    from docling_spark.schema import LINEAGE_SCHEMA

    runner, first, again = result
    problems = []
    if first["chunks_skipped"] != 0:
        problems.append(f"fresh run skipped {first['chunks_skipped']} chunks")
    if again["chunks_skipped"] != CRAWL_CHUNKS:
        problems.append(f"resume skipped {again['chunks_skipped']} of {CRAWL_CHUNKS} chunks")
    chunks = sorted(
        r.chunk_id
        for r in ctx.spark.read.schema(LINEAGE_SCHEMA)
        .parquet(f"{runner.cfg.output_path}/lineage")
        .filter(F.col("run_id") == runner.cfg.run_id)
        .select("chunk_id")
        .collect()
    )
    if chunks != list(range(CRAWL_CHUNKS)):
        problems.append(f"lineage chunks {chunks}")
    return _digests(runner.read_output()), problems


def check_rows(data: Dataset, rows) -> tuple[int, list]:
    """(documents failed, problems): a document fails when its status is
    ``failure``, its text or crawl timestamp differs from the law, it is
    missing, or it appears more than once."""
    seen = set()
    bad = set()
    for r in rows:
        want = data.expected.get(r.url)
        if want is None or r.url in seen:
            bad.add(r.url)
        elif r.status == "failure" or r.sha != want[0] or r.ts != want[1]:
            bad.add(r.url)
        seen.add(r.url)
    failed = len(bad | (data.expected.keys() - seen))
    problems = [f"{failed} documents differ from the expected output"] if failed else []
    return failed, problems


def measured_pass(ctx: Context, data: Dataset, k: int) -> dict:
    """One closed-loop pass: wall, CPU and peak RSS of the whole process
    tree while it runs; the output check runs after the clock stops."""
    crawl = ctx.workload == "crawl_small"
    from pyspark import SparkContext

    pid = os.getpid()
    cpu0 = procs.tree_stats(pid)[0]
    with procs.PeakRss(pid, SparkContext._gateway.proc.pid) as rss:
        t0 = time.perf_counter()
        result = (run_crawl if crawl else run_extract)(ctx, data, k)
        wall = time.perf_counter() - t0
    cpu = procs.tree_stats(pid)[0] - cpu0
    rows, problems = crawl_rows(ctx, result) if crawl else (result, [])
    failed, more = check_rows(data, rows)
    return {
        "pass": k,
        "wall_s": wall,
        "docs": len(rows),
        "attempted": len(data.expected),
        "failed": failed,
        "problems": problems + more,
        "in_mb": data.in_bytes / MB,
        "cpu_s": cpu,
        "peak_py_rss_mb": rss.python_mb,
        "py_procs": rss.python_procs,
        "peak_jvm_rss_mb": rss.jvm_mb,
        "proc_ms": [r.proc_ms for r in rows],
    }
