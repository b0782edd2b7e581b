"""Self-tests of the benchmark: no Spark, a few seconds.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from perfbench import gen, layers, passes, procs, run, trace

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
SCALE = 0.02  # a small sample of every workload


def _digest(pages) -> str:
    h = hashlib.sha256()
    for p in pages:
        h.update(f"{p.url}|{p.warc_ts.isoformat()}|{p.latest}|".encode())
        h.update(p.html)
        h.update(p.expected.encode())
    return h.hexdigest()


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_inputs_other_seed_other_inputs(workload):
    a = gen.generate(workload, 7, SCALE)
    assert _digest(a) == _digest(gen.generate(workload, 7, SCALE))
    assert _digest(a) != _digest(gen.generate(workload, 8, SCALE))


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_law_matches_in_process_extraction(workload):
    from docling_spark.job import _extract_one

    content_type = "pdf" if workload == "pdf_multipage" else "html"
    pages = gen.generate(workload, 3, SCALE)
    for p in pages:
        out = _extract_one(p.url, p.html, content_type, "none", 60.0, with_structure=True)
        assert out["status"] == "success", out["error"]
        assert out["extracted_text"] == p.expected, p.url


def test_crawl_repeats_are_older_than_the_latest_copy():
    pages = gen.crawl_small(5, 400)
    latest = {p.url: p.warc_ts for p in pages if p.latest}
    older = [p for p in pages if not p.latest]
    assert len(latest) == 400
    assert len(older) == round(400 * gen.CRAWL_REPEAT_SHARE)
    assert all(p.warc_ts < latest[p.url] for p in older)


def test_input_sizes_do_not_depend_on_the_seed():
    for workload in gen.WORKLOADS:
        sizes = [sum(len(p.html) for p in gen.generate(workload, s, 0.25)) for s in (1, 2)]
        assert abs(sizes[0] - sizes[1]) / sizes[0] < 0.02, workload


def test_page_size_ranges():
    small = [len(p.html) for p in gen.crawl_small(1, 200)]
    assert 400 <= min(small) and max(small) <= 2048
    large = [len(p.html) for p in gen.html_large(1, 8)]
    assert 10 * 1024 * 0.8 <= min(large) and max(large) <= 450 * 1024 * 1.2


def test_input_parquet_has_microsecond_utc_timestamps(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = gen.crawl_small(1, 20)
    passes.write_input(pages, tmp_path / "in", 3)
    table = pq.read_table(tmp_path / "in")
    assert table.schema.field("warc_ts").type == pa.timestamp("us", tz="UTC")
    assert table.num_rows == len(pages)
    assert sorted(table.column("url").to_pylist()) == sorted(p.url for p in pages)


@pytest.mark.parametrize(
    "section, units", [("end_to_end", run.END_TO_END), ("per_layer", layers.PER_LAYER)]
)
def test_result_line_names_exactly_the_benchmark_metrics(section, units):
    declared = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert declared == units
    # worst case for length: many significant digits in every value
    metrics = {name: 123456.789012345 for name in units}
    line = run.result_line(True, 10**6, 0, metrics, units)
    assert len(line) < run.LINE_LIMIT
    parsed = json.loads(line)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in parsed["metrics"].items()} == declared


def test_benchmark_json_shape():
    assert set(BENCHMARK) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(gen.WORKLOADS)
    names = [m["name"] for m in BENCHMARK["end_to_end"]]
    assert "setup_s" in names
    for m in BENCHMARK["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


def test_self_times_subtract_the_union_of_children():
    spans = [
        {"id": 1, "name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "a", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "a", "start": 3.0, "end": 6.0, "parent": 1},  # overlaps 2
        {"id": 4, "name": "b", "start": 2.0, "end": 3.0, "parent": 2},
    ]
    st = trace.self_times(spans, 1)
    assert st["root"][1] == pytest.approx(5.0)  # 10 minus the union [1, 6]
    assert st["a"][0] == pytest.approx(6.0) and st["a"][1] == pytest.approx(5.0)
    assert st["a"][2] == 2


def test_tracer_nests_spans_and_restores_patched_functions():
    class Layer:
        def work(self):
            return 42

    tracer = trace.Tracer("w", 1)
    original = Layer.work
    with layers.patched(tracer, [(Layer, "work", "layer.work")]), tracer.span("root") as root:
        assert Layer().work() == 42
    assert Layer.work is original
    child = next(s for s in tracer.spans if s["name"] == "layer.work")
    assert child["parent"] == root and child["workload"] == "w" and child["seed"] == 1


def test_end_to_end_rescales_each_pass_by_the_readings_around_it():
    def one(wall_s, cpu_s, rss):
        return {"docs": 100, "attempted": 100, "failed": 0, "wall_s": wall_s, "in_mb": 4.0,
                "cpu_s": cpu_s, "peak_py_rss_mb": rss}

    ref = run.REF_S
    setup = {"setup_s": 10.0, "host_s": 4 * ref}
    # read before and after: on average a host twice as slow as the reference
    slow = [(ref, ref), (3 * ref, 3 * ref)]
    full = run.end_to_end([one(4.0, 12.0, 400.0)], setup, slow, 1.0)
    assert full["docs_per_s"] == pytest.approx(50.0)
    assert full["input_mb_per_s"] == pytest.approx(2.0)
    assert full["cpu_ms_per_doc"] == pytest.approx(60.0)
    assert full["setup_s"] == pytest.approx(10.0 * 0.25**run.SETUP_HOST_SHARE)
    assert full["peak_py_rss_mb"] == 400.0
    assert full["ok_share"] == 1.0
    half = run.end_to_end([one(4.0, 12.0, 400.0)], setup, slow, 0.5)
    assert half["docs_per_s"] == pytest.approx(25.0 * 2**0.5)
    none = run.end_to_end([one(4.0, 12.0, 400.0)], setup, slow, 0.0)
    assert none["docs_per_s"] == pytest.approx(25.0)
    # medians over passes
    ps = [one(2.0, 6.0, 500.0), one(4.0, 12.0, 400.0), one(1.0, 2.0, 600.0)]
    med = run.end_to_end(ps, setup, [(ref, ref)] * 4, 1.0)
    assert med["docs_per_s"] == pytest.approx(50.0)
    assert med["cpu_ms_per_doc"] == pytest.approx(60.0)
    assert med["peak_py_rss_mb"] == 500.0


def test_host_reference_measures_every_process_and_stops_its_pool():
    with procs.HostRef(2, loops=2_000) as host:
        wall, cpu = host.measure(reps=3)
        pids = [p.pid for p in host._pool._pool]
    assert wall > 0 and cpu > 0
    assert all(not Path(f"/proc/{pid}").exists() for pid in pids)
