"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload html_large --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, writes them as parquet under
``.bench_build/perfbench/`` in the checkout, and runs them through the
public job API (``job.tuned_session`` at ``local[nproc]``,
``job.extract_pages``, ``job.ExtractionRunner``) in a closed loop: one
batch job at a time from this driver. Every pass is checked against the
generator's expected-output law.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (see ``layers.py``). The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` under 2,000
characters; full per-pass details go to a JSON file whose path is printed
on the line before it.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen, procs  # noqa: E402
from perfbench.passes import NPROC, ROOT, Context, measured_pass  # noqa: E402

LINE_LIMIT = 2000
# Least timed passes per run. A crawl_small pass (mostly the runner's
# fixed per-job cost, 8-11 s) fills the window alone; html_large passes take
# about 3 s: a median over two or three of them spread 0.105 over ten runs,
# one over five or more 0.04-0.06.
MIN_PASSES = {"crawl_small": 2, "html_large": 5, "pdf_multipage": 5}
# Wall seconds of one reference loop (``procs.HostRef``) on the reference
# host; pass times in the end-to-end metrics are rescaled to that host.
REF_S = 0.07
# How closely a workload's pass time follows the reference loop's, as the
# exponent of the rescaling. An extract pass is pure-Python parsing on every
# core and follows it fully: on five html_large runs docs_per_s spread
# (Q3-Q1)/median 0.24 unscaled and 0.04 rescaled. A runner pass is mostly
# JVM job latency on fewer cores and follows it about half: on 25
# crawl_small runs (readings of 0.033-0.081 s) it spread 0.16 unscaled,
# 0.11 fully rescaled and 0.08 with exponent 0.5.
HOST_SHARE = {"crawl_small": 0.5, "html_large": 1.0, "pdf_multipage": 1.0}
# The same for set-up (JVM start, then every worker importing the backends),
# against a reading taken just after it: over 70 runs the log-log slope of
# set-up on the reading was 0.6, and two sets of ten runs per workload on
# hosts 23% apart in speed read set-up medians 15% and 2% apart unscaled,
# and 0% and 5% apart rescaled with exponent 0.5 by the nearest reading
# they had (after the warm-up pass).
SETUP_HOST_SHARE = 0.5

# name -> unit of every end-to-end metric (BENCHMARK.json lists the same)
END_TO_END = {
    "docs_per_s": "1/s",
    "input_mb_per_s": "MB/s",
    "cpu_ms_per_doc": "ms",
    "ok_share": "ratio",
    "setup_s": "s",
    "peak_py_rss_mb": "MB",
}


def run_passes(ctx: Context, seconds: float, host: procs.HostRef) -> tuple[list, list, list]:
    """An untimed warm-up pass on the measured input (plan compilation,
    class loading, JIT; a warm-up on a small input left the first timed
    passes 10-25% slower in CPU than the next), then timed passes on the
    same input: a pass starts while the ``seconds`` window is open, and at
    least ``MIN_PASSES`` run.
    The host's speed is measured before the first timed pass and after
    each, outside the passes' clocks. Returns (warm-up passes, timed
    passes, host samples)."""
    warm = [measured_pass(ctx, ctx.data, 0)]
    passes = []
    samples = [host.measure()]
    t_end = time.monotonic() + seconds
    while len(passes) < MIN_PASSES[ctx.workload] or time.monotonic() < t_end:
        passes.append(measured_pass(ctx, ctx.data, len(passes) + 1))
        samples.append(host.measure())
    return warm, passes, samples


def end_to_end(passes: list, setup: dict, samples: list, host_share: float) -> dict:
    """Medians over the timed passes, with each pass's wall and CPU time
    rescaled to the reference host: multiplied by
    ``(REF_S / host_s) ** host_share``, where ``host_s`` is the mean of
    the ``procs.HostRef`` readings just before and just after that pass
    (``samples[k]`` and ``samples[k + 1]``). Set-up time is rescaled the
    same way by the reading taken just after it (``setup["host_s"]``),
    with exponent ``SETUP_HOST_SHARE``. The failure share is over all
    passes."""
    med = statistics.median
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    scale = [
        (REF_S / ((samples[k][0] + samples[k + 1][0]) / 2)) ** host_share
        for k in range(len(passes))
    ]
    return {
        "docs_per_s": med(p["docs"] / (p["wall_s"] * s) for p, s in zip(passes, scale)),
        "input_mb_per_s": med(p["in_mb"] / (p["wall_s"] * s) for p, s in zip(passes, scale)),
        "cpu_ms_per_doc": med(1e3 * p["cpu_s"] * s / p["docs"] for p, s in zip(passes, scale)),
        "ok_share": (attempted - failed) / attempted,
        "setup_s": setup["setup_s"] * (REF_S / setup["host_s"]) ** SETUP_HOST_SHARE,
        "peak_py_rss_mb": med(p["peak_py_rss_mb"] for p in passes),
    }


# ------------------------------------------------------------------- main
def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    line = json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(f"{metrics[k]:.7g}"), "unit": u} for k, u in units.items()
            },
        },
        separators=(",", ":"),
    )
    if len(line) >= LINE_LIMIT:
        raise RuntimeError(f"result line is {len(line)} characters")
    return line


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # fail before any work when the program under test is not importable
    import docling_spark.job  # noqa: F401

    from perfbench import passes, trace

    base = ROOT / ".bench_build" / "perfbench"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=base))
    stem = results / f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = trace.Tracer(args.workload, args.seed)
    try:
        passes.prepare_env(work)
        with procs.HostRef(NPROC) as host:
            spark, setup = passes.start_session(tracer.span, T_START)
            try:
                setup["host_s"] = host.measure()[0]
                ctx = passes.make_context(spark, args.workload, args.seed, work, tracer)
                if args.trace:
                    from perfbench import layers

                    checked, counted, metrics = layers.traced_run(ctx)
                    metrics["setup.session_s"] = setup["session_s"]
                    metrics["setup.worker_warm_s"] = setup["worker_warm_s"]
                    units = layers.PER_LAYER
                else:
                    warm, counted, samples = run_passes(ctx, args.seconds, host)
                    checked = warm + counted
                    ctx.detail["host_s"] = samples
                    metrics = end_to_end(counted, setup, samples, HOST_SHARE[args.workload])
                    units = END_TO_END
            finally:
                passes.stop_session(spark)
        problems = [q for p in checked for q in p["problems"]]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": NPROC,
            "setup": setup,
            "passes": [{k: v for k, v in p.items() if k != "proc_ms"} for p in checked],
            "metrics": metrics,
            "problems": problems,
            **ctx.detail,
        }
        with open(f"{stem}.json", "w") as f:
            json.dump(detail, f, indent=1, default=str)
        if args.trace:
            tracer.write(f"{stem}.spans.jsonl")
        line = result_line(
            not problems,
            sum(p["attempted"] for p in counted),
            sum(p["failed"] for p in counted),
            metrics,
            units,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"details: {stem}.json")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
