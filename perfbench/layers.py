"""The traced run (``--trace 1``): per-layer numbers for one workload.

Every span is recorded from this file, around calls into the program's
public functions; nothing inside ``docling_spark`` is changed. The run:

1. times one end-to-end pass with spans on the runner's methods and
   reads its Spark stage and SQL metrics from the local status REST
   endpoint;
2. splits the Spark-side wall by subtracting plan variants timed in the
   same session: scan, + dispatch (``with_content_type`` + ``sha2``),
   + ``dedup_latest_crawl``, + an identity ``mapInPandas`` (Arrow transport
   only), + extraction (the full ``extract_pages`` plan);
3. runs ``ExtractionRunner`` with wrappers on its chunk, lineage and
   resume-probe methods, and the count path on the same input;
4. replays a fixed sample of HTML and PDF documents through
   ``job._extract_one`` on one thread of this process, with spans on the
   parser, walker and serializer entry points, and without them before
   and after (the difference is the tracing overhead).

Each layer metric, the end-to-end metric it should move, and on which
workload, is listed in README.md next to this file.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

from perfbench import gen
from perfbench.passes import NPROC, measured_pass, run_crawl
from perfbench.trace import self_times

MB = 2**20

# name -> unit of every per-layer metric (BENCHMARK.json lists the same)
PER_LAYER = {
    "setup.session_s": "s",
    "setup.worker_warm_s": "s",
    "scan.wall_s": "s",
    "job.dispatch_s": "s",
    "job.dedup_s": "s",
    "job.transport_s": "s",
    "job.extract_s": "s",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.python_bytes_sent_mb": "MB",
    "spark.python_bytes_recv_mb": "MB",
    "backend.busy_s": "s",
    "backend.share": "ratio",
    "backend.doc_ms_p50": "ms",
    "backend.doc_ms_p99": "ms",
    "htmlx.dom.parse_s": "s",
    "htmlx.extract.walk_s": "s",
    "serialize.markdown_s": "s",
    "serialize.itxt_s": "s",
    "job.doc_to_spans_s": "s",
    "pdfx.parser.open_s": "s",
    "pdfx.parser.text_cells_s": "s",
    "pdfx.layout.order_s": "s",
    "pdfx.structure.blocks_s": "s",
    "pdfx.pages": "count",
    "runner.chunk_s": "s",
    "runner.lineage_s": "s",
    "runner.resume_probe_s": "s",
    "runner.overhead_s": "s",
    "runner.output_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}

VARIANTS = ("scan", "dispatch", "dedup", "transport", "extract")
REPLAY_HTML_LARGE = 8  # html_large-shaped pages in the replay sample
REPLAY_HTML_SMALL = 200  # crawl_small-shaped pages in the replay sample
REPLAY_PDF = 96  # pdf_multipage-shaped documents in the replay sample


def runner_targets():
    from docling_spark.job import ExtractionRunner as cls

    return [
        (cls, "_run_chunk", "runner.chunk"),
        (cls, "_append_lineage", "runner.lineage"),
        (cls, "committed_chunks", "runner.resume_probe"),
    ]


@contextmanager
def patched(tracer, targets):
    """Wrap each ``(owner, attribute, span name)`` in a span while the
    block runs, then put the originals back."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for (owner, attr, name), (_, _, orig) in zip(targets, saved):
            setattr(owner, attr, tracer.wrap(orig, name))
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


# ------------------------------------------------------- Spark plan variants
def identity_batches(batches):
    """Arrow transport only: every input batch crosses into the Python
    worker and a row per document of ``EXTRACTED_SCHEMA`` comes back, with
    no backend call."""
    import pandas as pd

    from docling_spark.schema import EXTRACTED_SCHEMA

    for b in batches:
        out = pd.DataFrame({f.name: [None] * len(b) for f in EXTRACTED_SCHEMA.fields})
        for c in ("url", "warc_ts", "lang", "doc_hash", "content_type"):
            out[c] = b[c].values
        out["status"] = "success"
        yield out


def variant_plan(spark, path: Path, name: str):
    """The plan of variant ``name``; each adds one layer to the previous."""
    from pyspark.sql import functions as F

    from docling_spark import job
    from docling_spark.schema import EXTRACTED_SCHEMA

    pages = spark.read.parquet(str(path))
    if name == "scan":
        return pages
    if name == "extract":
        return job.extract_pages(job.dedup_latest_crawl(pages), with_structure=True)
    if name != "dispatch":
        pages = job.dedup_latest_crawl(pages)
    df = job.with_content_type(pages).withColumn("doc_hash", F.sha2(F.col("html"), 256))
    if name == "transport":
        cols = ["url", "warc_ts", "lang", "doc_hash", "content_type", "html"]
        return df.select(*cols).mapInPandas(identity_batches, schema=EXTRACTED_SCHEMA)
    return df


def time_variants(ctx, path: Path) -> dict:
    """Wall of every variant written to the ``noop`` sink (which, unlike
    ``count()``, keeps every column of the plan)."""
    walls = {}
    for v in VARIANTS:
        df = variant_plan(ctx.spark, path, v)
        with ctx.tracer.span(f"variant.{v}"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls[v] = time.perf_counter() - t0
    return walls


# --------------------------------------------------------- Spark status REST
class SparkStatus:
    """Stage and SQL metrics of the jobs run between ``mark()`` and
    ``since_mark()``, from the session's status REST endpoint."""

    def __init__(self, spark):
        from urllib.parse import urlsplit

        sc = spark.sparkContext
        port = urlsplit(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self.stage0 = self.sql0 = -1
        self._jvm = sc._jvm

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _stages(self):
        return self._get("stages?status=complete")

    def _sql(self):
        return self._get("sql?details=true&planDescription=false&length=100000")

    def gc_since_start(self) -> float:
        """Seconds of collection by every collector of the driver JVM (in
        local mode also the executor) since it started. Per-stage GC reads
        0 on passes that allocate less than the young generation holds."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def mark(self) -> None:
        self.stage0 = max((s["stageId"] for s in self._stages()), default=-1)
        self.sql0 = max((e["id"] for e in self._sql()), default=-1)

    def since_mark(self) -> dict:
        stages = [s for s in self._stages() if s["stageId"] > self.stage0]
        sent = recv = 0.0
        for e in self._sql():
            if e["id"] <= self.sql0:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += _size_mb(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        recv += _size_mb(m["value"])
        return {
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spark.python_bytes_sent_mb": sent,
            "spark.python_bytes_recv_mb": recv,
        }


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_mb(value: str) -> float:
    """A SQL size metric as the UI prints it, either ``"12.0 MiB"`` or
    ``"total (min, med, max ...)\\n12.0 MiB (1.0 MiB, ...)"``: the total."""
    num, unit = value.split("\n")[-1].split(" (")[0].split()
    return float(num.replace(",", "")) * _UNITS[unit] / MB


# ------------------------------------------------------------ the runner
def runner_layer(ctx, data, k: int, spans: list, runner_wall: float) -> dict:
    """Runner metrics from the spans of a runner pass (run plus resume,
    under ``runner_targets()``) that wrote pass ``k`` of ``data``; the
    count path (``extract_pages`` after the same dedup) is timed here on
    the same input."""
    from docling_spark import job

    with ctx.tracer.span("runner.count_path"):
        t0 = time.perf_counter()
        pages = job.dedup_latest_crawl(ctx.spark.read.parquet(str(data.path)))
        job.extract_pages(pages, with_structure=True).count()
        count_wall = time.perf_counter() - t0

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    out_dir = ctx.work / "out" / f"pass{k}" / "data"
    return {
        "runner.chunk_s": total("runner.chunk"),
        "runner.lineage_s": total("runner.lineage"),
        "runner.resume_probe_s": total("runner.resume_probe"),
        "runner.overhead_s": runner_wall - count_wall,
        "runner.output_mb": sum(f.stat().st_size for f in out_dir.rglob("*") if f.is_file()) / MB,
    }


# ------------------------------------------------------ in-process replay
def replay_pages(workload: str, seed: int) -> list:
    """The fixed replay sample: HTML pages of this workload's shape (large
    pages for the workloads without small ones), and multi-page PDFs."""
    if workload == "crawl_small":
        html = [p for p in gen.crawl_small(seed, REPLAY_HTML_SMALL) if p.latest]
    else:
        html = gen.html_large(seed, REPLAY_HTML_LARGE)
    return [("html", p) for p in html] + [("pdf", p) for p in gen.pdf_multipage(seed, REPLAY_PDF)]


def replay_targets():
    from docling_spark import job, serialize
    from docling_spark.htmlx import extract as htmlx_extract
    from docling_spark.pdfx import layout, parser, structure

    return [
        (htmlx_extract, "parse_html", "htmlx.dom.parse"),
        (htmlx_extract.HtmlExtractor, "convert", "htmlx.extract.walk"),
        (serialize, "to_markdown_with_spans", "serialize.markdown"),
        (serialize, "to_itxt", "serialize.itxt"),
        (job, "_doc_to_spans", "job.doc_to_spans"),
        (parser, "PdfDocument", "pdfx.parser.open"),
        (parser.PdfDocument, "pages", "pdfx.parser.open"),
        (parser.PdfPage, "text_cells", "pdfx.parser.text_cells"),
        (layout, "page_cells_to_text", "pdfx.layout.order"),
        (structure, "doc_structured_blocks", "pdfx.structure.blocks"),
        (structure, "blocks_to_spans", "pdfx.structure.blocks"),
    ]


def replay_docs(sample: list, span=None) -> tuple[float, list]:
    """``job._extract_one`` over the sample on this thread, each call in a
    span when ``span`` is given. Returns (wall, problems)."""
    from contextlib import nullcontext

    from docling_spark import job

    problems = []
    t0 = time.perf_counter()
    for content_type, p in sample:
        with span("job._extract_one") if span else nullcontext():
            out = job._extract_one(p.url, p.html, content_type, "none", 60.0, with_structure=True)
        if out["status"] != "success" or out["extracted_text"] != p.expected:
            problems.append(f"replay: {p.url} differs from the expected output")
    return time.perf_counter() - t0, problems


def replay(ctx) -> tuple[dict, list]:
    """Single-thread replay with spans on the layer entry points, between
    two replays without them. Returns (per-layer metrics, problems)."""
    sample = replay_pages(ctx.workload, ctx.seed)
    tracer = ctx.tracer
    replay_docs([sample[0], sample[-1]])  # first calls: lazy imports, caches
    plain0, problems = replay_docs(sample)
    with patched(tracer, replay_targets()), tracer.span("replay") as root:
        _, more = replay_docs(sample, tracer.span)
    plain1, _ = replay_docs(sample)
    st = self_times(tracer.spans, root)
    wall = st["replay"][0]

    def own(name: str) -> float:
        return st.get(name, [0.0, 0.0, 0])[1]

    layers = {
        "htmlx.dom.parse_s": own("htmlx.dom.parse"),
        "htmlx.extract.walk_s": own("htmlx.extract.walk"),
        "serialize.markdown_s": own("serialize.markdown"),
        "serialize.itxt_s": own("serialize.itxt"),
        "job.doc_to_spans_s": own("job.doc_to_spans"),
        "pdfx.parser.open_s": own("pdfx.parser.open"),
        "pdfx.parser.text_cells_s": own("pdfx.parser.text_cells"),
        "pdfx.layout.order_s": own("pdfx.layout.order"),
        "pdfx.structure.blocks_s": own("pdfx.structure.blocks"),
    }
    ctx.detail["replay"] = {
        "docs": len(sample),
        "wall_s": wall,
        "untraced_wall_s": [plain0, plain1],
        "self_s": {k: v[1] for k, v in st.items()},
        "calls": {k: v[2] for k, v in st.items()},
    }
    layers["pdfx.pages"] = st["pdfx.parser.text_cells"][2]
    layers["trace.coverage"] = sum(layers[k] for k in layers if k.endswith("_s")) / wall
    layers["trace.overhead_s"] = wall - (plain0 + plain1) / 2
    return layers, problems + more


# ----------------------------------------------------------------- the run
def backend_layer(p: dict) -> dict:
    """``job._extract_one`` busy time from the ``proc_ms`` output column."""
    ms = sorted(x for x in p["proc_ms"] if x is not None)
    return {
        "backend.busy_s": sum(ms) / 1e3,
        "backend.share": sum(ms) / 1e3 / (p["wall_s"] * NPROC),
        "backend.doc_ms_p50": statistics.median(ms),
        "backend.doc_ms_p99": statistics.quantiles(ms, n=100)[98],
    }


def traced_run(ctx) -> tuple[list, list, dict]:
    """A fixed sequence of steps, each timed once.
    Returns (passes checked, passes counted, per-layer metrics)."""
    tracer = ctx.tracer
    warm = measured_pass(ctx, ctx.small, 0)
    status = SparkStatus(ctx.spark)
    status.mark()
    first = len(tracer.spans)
    with patched(tracer, runner_targets()), tracer.span("pass"):
        traced = measured_pass(ctx, ctx.data, 1)
    metrics = status.since_mark()
    metrics.update(backend_layer(traced))
    metrics["jvm.peak_rss_mb"] = traced["peak_jvm_rss_mb"]

    walls = time_variants(ctx, ctx.data.path)
    for prev, cur, name in zip(
        VARIANTS, VARIANTS[1:], ("job.dispatch_s", "job.dedup_s", "job.transport_s", "job.extract_s")
    ):
        metrics[name] = walls[cur] - walls[prev]
    metrics["scan.wall_s"] = walls["scan"]

    if ctx.workload == "crawl_small":
        metrics.update(runner_layer(ctx, ctx.data, 1, tracer.spans[first:], traced["wall_s"]))
    else:
        # the extract workloads do not run the runner: run it on their
        # small input, as its cost is mostly the fixed per-job part
        first = len(tracer.spans)
        with patched(tracer, runner_targets()), tracer.span("runner.run"):
            t0 = time.perf_counter()
            run_crawl(ctx, ctx.small, 2)
            wall = time.perf_counter() - t0
        metrics.update(runner_layer(ctx, ctx.small, 2, tracer.spans[first:], wall))
    metrics["spark.gc_s"] = status.gc_since_start()
    layers, problems = replay(ctx)
    metrics.update(layers)
    replay_check = {"problems": problems, "attempted": 0, "failed": 0}
    ctx.detail["variants_s"] = walls
    ctx.detail["traced_wall_s"] = traced["wall_s"]
    return [warm, traced, replay_check], [traced], metrics
