"""USPTO backend golden parity: byte-identical md + itxt + json vs all 5
reference golden sets — one per dialect the reference supports
(/root/reference/docling/backend/xml/uspto_backend.py semantics):
v4.x ICE application (ipa2018, ipa2020), v1.x application (pa2001),
APS grant text (pftaps), v2.5 grant (pg06442728).

The reference exports its USPTO itxt WITHOUT text truncation
(tests/test_backend_patent_uspto.py:130) and keeps the file extension in
the document name; json differs only in the docling-core version string."""

from __future__ import annotations

import copy
import json
from pathlib import Path

import pytest

from docling_spark.serialize import to_itxt, to_markdown
from docling_spark.serialize_json import to_docling_dict
from docling_spark.job import sniff_content_type
from docling_spark.usptox import extract_uspto

DATA = Path("/root/reference/tests/data/uspto")
GT = DATA.parent / "groundtruth" / "docling_v2"
FIXTURES = [
    DATA / "ipa20180000016.xml",
    DATA / "ipa20200022300.xml",
    DATA / "pa20010031492.xml",
    DATA / "pftaps057006474.txt",
    DATA / "pg06442728.xml",
]


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.stem)
def test_uspto_md_golden(path: Path):
    doc = extract_uspto(path.read_bytes(), name=path.name)
    assert to_markdown(doc) == (GT / f"{path.stem}.md").read_text().rstrip()


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.stem)
def test_uspto_itxt_golden(path: Path):
    doc = extract_uspto(path.read_bytes(), name=path.name)
    assert to_itxt(doc, None) == (GT / f"{path.stem}.itxt").read_text()


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.stem)
def test_uspto_json_golden(path: Path):
    raw = path.read_bytes()
    doc = extract_uspto(raw, name=path.name)
    mime = "text/plain" if path.suffix == ".txt" else "application/xml"
    ours = copy.deepcopy(to_docling_dict(doc, path.name, raw, mimetype=mime))
    gt = json.loads((GT / f"{path.stem}.json").read_text())
    ours["version"] = gt["version"] = "X"
    assert ours == gt


def test_uspto_sniff():
    for p in FIXTURES:
        assert sniff_content_type(p.name, p.read_bytes()) == "uspto", p.name
    assert sniff_content_type("x", b"<html><body>x</body></html>") != "uspto"
    assert sniff_content_type("x", b"random text") != "uspto"


def test_uspto_spark_dispatch():
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
    rows = [
        (f"https://t/{p.name}", ts, p.read_bytes(), None, "en")
        for p in FIXTURES
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = {r.url: r for r in extract_pages(pages).collect()}
    for p in FIXTURES:
        r = out[f"https://t/{p.name}"]
        assert r.content_type == "uspto", p.name
        assert r.status == "success", (p.name, r.error)
        assert r.extracted_text == (
            GT / f"{p.stem}.md"
        ).read_text().rstrip(), p.name
