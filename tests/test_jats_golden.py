"""JATS backend golden parity: byte-identical md + itxt + json vs all 3
reference nxml fixtures
(/root/reference/docling/backend/xml/jats_backend.py semantics; goldens
under tests/data/groundtruth/docling_v2/*.nxml.*). JSON normalization is
limited to the docling-core version string and embedded image payloads."""

from __future__ import annotations

import copy
import json
from pathlib import Path

import pytest

from docling_spark.jatsx import extract_jats
from docling_spark.job import sniff_content_type
from docling_spark.serialize import to_itxt, to_markdown
from docling_spark.serialize_json import to_docling_dict

DATA = Path("/root/reference/tests/data/jats")
GT = DATA.parent / "groundtruth" / "docling_v2"
FIXTURES = sorted(DATA.glob("*.nxml"))


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.stem)
def test_jats_md_golden(path: Path):
    assert len(FIXTURES) == 3
    doc = extract_jats(path.read_bytes(), name=path.stem)
    assert to_markdown(doc) == (GT / f"{path.name}.md").read_text().rstrip()


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.stem)
def test_jats_itxt_golden(path: Path):
    doc = extract_jats(path.read_bytes(), name=path.stem)
    assert to_itxt(doc, 70) == (GT / f"{path.name}.itxt").read_text()


def _norm(d: dict) -> dict:
    d = copy.deepcopy(d)
    d["version"] = "X"
    for p in d.get("pictures", []):
        p.pop("image", None)
    return d


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.stem)
def test_jats_json_golden(path: Path):
    raw = path.read_bytes()
    doc = extract_jats(raw, name=path.stem)
    ours = _norm(to_docling_dict(doc, path.name, raw, mimetype="application/xml"))
    gt = _norm(json.loads((GT / f"{path.name}.json").read_text()))
    assert ours == gt


def test_jats_sniff():
    for p in FIXTURES:
        assert sniff_content_type(None, p.read_bytes()) == "jats"
    assert sniff_content_type(None, b"<html><body>no</body></html>") != "jats"


def test_jats_spark_dispatch():
    import datetime

    from pyspark.sql import SparkSession

    from docling_spark.job import extract_pages
    from docling_spark.schema import PAGES_SCHEMA

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    ts = datetime.datetime(2024, 1, 1)
    # urls without extension: dispatch via the JATS DTD content sniff
    rows = [
        (f"https://t/{p.stem}", ts, p.read_bytes(), None, "en")
        for p in FIXTURES
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = {r.url: r for r in extract_pages(pages).collect()}
    for p in FIXTURES:
        r = out[f"https://t/{p.stem}"]
        assert r.content_type == "jats", p.name
        assert r.status == "success", (p.name, r.error)
        assert r.extracted_text == (
            GT / f"{p.name}.md"
        ).read_text().rstrip(), p.name
