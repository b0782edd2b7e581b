"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line (see ``ledger_line``): {"metric": ..., "value": N, "unit": "sec",
"docs_per_sec": ..., "n_docs": ..., "cpus": ..., "sf": ..., "slowest": {...}}.
Every query's min wall and its three runs go to ``bench_detail.json`` next
to this file, so the line stays under the 2,000 chars a ledger keeps.

The flagship metric is extraction throughput (documents/sec) over the
synthesized Common-Crawl-shaped pages table; per-query wall times cover the
rest of the operator suite. Extra keys (docs_per_sec, n_docs) are
informational.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DETAIL_PATH = Path(__file__).resolve().parent / "bench_detail.json"
SLOWEST = 5  # queries named on the ledger line

# Headline subset: flagship extraction + one representative per operator
# family (dedup, text stats, ANN, relational, skew pattern).
HEADLINE = [
    "extract_pipeline",
    "pdf_extract",
    "chunk_spans",
    "chunk_spans_frozen",
    "dedup_exact",
    "lsh_dup_pairs",
    "lsh_incremental",
    "edit_verify",
    "containment_pairs",
    "source_overlap",
    "dedup_clusters",
    "dedup_report",
    "lsh_eval",
    "canonical_by_quality",
    "substr_dedup",
    "winnow_pairs",
    "hll_host_cardinality",
    "hll_union",
    "cms_token_counts",
    "cms_join_size",
    "ngram_novelty",
    "semdedup",
    "phash_dedup",
    "audio_dups",
    "gopher_quality",
    "c4_span_removal",
    "lexicon_gate",
    "url_filter",
    "crawl_frontier",
    "crawl_plan",
    "frontier_incremental",
    "frontier_load",
    "canonical_dedup",
    "url_patterns",
    "link_graph",
    "degree_histogram",
    "hits_scores",
    "triangles",
    "link_coupling",
    "anchor_stats",
    "lm_quality",
    "lm_bigram",
    "tfidf_terms",
    "sliding_windows",
    "quality_classifier",
    "dsir_weights",
    "text_normalize",
    "entropy_signals",
    "corpus_mix",
    "lang_rebalance",
    "curate_web",
    "gate_ablation",
    "domain_reputation",
    "domain_buckets",
    "epoch_schedule",
    "mix_matrix",
    "shard_plan",
    "pipeline_e2e",
    "corpus_report",
    "pipeline_incremental",
    "para_dedup",
    "snapshot_delta",
    "bm25_search",
    "hybrid_search",
    "robots_gate",
    "robotstxt_allow",
    "sitemap_entries",
    "recrawl_due",
    "wet_export",
    "charset_sniff",
    "decontam",
    "simhash",
    "token_count",
    "quality_score",
    "lang_id",
    "lang_confusion",
    "vocab_stats",
    "size_histogram",
    "readability",
    "script_mix",
    "code_switch",
    "cosine_topk",
    "events_hourly",
    "tpch_q1",
    "broadcast_enrich",
    "salted_agg",
]


def ledger_line(timings: dict[str, float], n_docs: int, cpus: int, sf: str) -> str:
    """The one JSON line: suite wall, extraction docs/s and the ``SLOWEST``
    slowest queries. Its size does not grow with the number of queries."""
    ext = timings.get("extract_pipeline", 0.0)
    slowest = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    return json.dumps(
        {
            "metric": "headline_suite_wall",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "docs_per_sec": round(n_docs / ext, 2) if ext else None,
            "n_docs": n_docs,
            "cpus": cpus,
            "sf": sf,
            "slowest": dict(slowest[:SLOWEST]),
            "detail": DETAIL_PATH.name,
        }
    )


def main() -> None:
    import __spark_entry__ as entry
    from docling_spark.job import tuned_session

    spark = tuned_session(master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    # warm the JVM + parquet footers + Python UDF workers (including the
    # extraction-module imports inside each worker) once so per-query numbers
    # measure the plans, not session/worker cold start — which amortizes to
    # zero on a long-running cluster job
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    from docling_spark.job import extract_pages
    from docling_spark.ops.corpus import synth_pages, synth_pages_pdf

    # repartition AFTER limit: a bare limit short-circuits to one or two
    # partitions, leaving most Python workers cold — the repartition fans
    # the warm rows across every worker so each one pays its one-time
    # imports here, not inside the first measured query
    warm = synth_pages(spark, SF_DIR).limit(int(CPUS) * 8).repartition(int(CPUS))
    extract_pages(warm).count()
    # warm the PDF branch too: its parser/fonts modules import lazily per
    # content type
    warm_pdf = (
        synth_pages_pdf(spark, SF_DIR).limit(int(CPUS) * 8).repartition(int(CPUS))
    )
    extract_pages(warm_pdf).count()

    # three passes per query, min reported: the host VM's CPU capacity
    # swings ~2x between minutes (steal time), and the min of adjacent runs
    # is the stable estimator of the plan's steady-state cost; all passes
    # are recorded in `queries_runs` so the spread stays visible
    # chunk_spans_frozen: the round-1-shaped workload (shallow corpus only),
    # frozen across rounds so the chunker timing stays comparable
    # round-over-round. "chunk_spans" stays the real queries() entry (which
    # unions a deep-nesting corpus for correctness coverage, 2x the docs).
    from docling_spark.ops.chunker import chunk_spans as _chunk_spans

    qs = dict(qs)
    qs["chunk_spans_frozen"] = lambda sp, sf: _chunk_spans(
        extract_pages(synth_pages(sp, sf), base_uri_mode="none")
    )

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    n_docs = 0
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            n = df.count()
            runs.append(round(time.perf_counter() - t0, 4))
        timings[name] = min(runs)
        all_runs[name] = runs
        if name == "extract_pipeline":
            n_docs = n

    DETAIL_PATH.write_text(
        json.dumps({"queries": timings, "queries_runs": all_runs}, indent=1) + "\n"
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(ledger_line(timings, n_docs, int(CPUS), sf))
    spark.stop()


if __name__ == "__main__":
    main()
