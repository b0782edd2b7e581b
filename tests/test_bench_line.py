"""The bench ledger line stays parseable whatever the suite's size.

A ledger keeps only the last 2,000 chars of the bench output, so the final
JSON line must fit in that however many queries the suite times."""

from __future__ import annotations

import json
import random

from bench import HEADLINE, SLOWEST, ledger_line


def test_ledger_line_fits_with_86_rows():
    rng = random.Random(5)
    timings = {name: round(rng.uniform(0.1, 200.0), 4) for name in HEADLINE}
    assert len(timings) >= 86
    timings["extract_pipeline"] = 2.5
    line = ledger_line(timings, 10000, 32, "0.1")
    assert len(line) < 2000
    rec = json.loads(line)
    assert rec["metric"] == "headline_suite_wall" and rec["unit"] == "sec"
    assert rec["value"] == round(sum(timings.values()), 4)
    assert (rec["docs_per_sec"], rec["n_docs"], rec["cpus"], rec["sf"]) == (
        4000.0, 10000, 32, "0.1")
    top = sorted(timings, key=timings.get, reverse=True)[:SLOWEST]
    assert rec["slowest"] == {name: timings[name] for name in top}
    assert "queries" not in rec and "queries_runs" not in rec


def test_ledger_line_without_extraction_row():
    rec = json.loads(ledger_line({"tpch_q1": 1.0}, 0, 4, "0.01"))
    assert rec["docs_per_sec"] is None and rec["slowest"] == {"tpch_q1": 1.0}
