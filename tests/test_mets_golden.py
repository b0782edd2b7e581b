"""METS-GBS backend: the reference fixture has no golden files upstream
(its path runs the NN layout pipeline), so this pins the deterministic
behavior: the Google Books tar.gz parses, the hOCR line cells run through
the SAME layout path as PDFs, and the output is stable text + labeled
spans."""

from __future__ import annotations

from pathlib import Path

from docling_spark.job import sniff_content_type
from docling_spark.metsx import extract_mets_gbs

FIXTURE = Path(
    "/root/reference/tests/data/mets_gbs/32044009881525_select.tar.gz"
)


def test_mets_fixture_extracts():
    res = extract_mets_gbs(FIXTURE.read_bytes())
    assert res.status == "success"
    assert res.n_pages == 3
    assert "THE PROBLEM OF THE PACIFIC" in res.text
    assert len(res.text) > 3000
    labels = {s["label"] for s in res.spans}
    assert "text" in labels and "section_header" in labels
    # deterministic: repeated parse gives identical output
    res2 = extract_mets_gbs(FIXTURE.read_bytes())
    assert res2.text == res.text


def test_mets_containment():
    import gzip

    assert extract_mets_gbs(b"not gzip").status == "skipped"
    # a gzip that is not a tar
    assert extract_mets_gbs(gzip.compress(b"hello")).status == "skipped"
    assert sniff_content_type(None, gzip.compress(b"x")) == "mets_gbs"


def test_mets_spark_dispatch():
    import datetime
    import gzip

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
        ("https://t/book", ts, FIXTURE.read_bytes(), None, "en"),
        # stray gzip that is not METS: contained, skipped
        ("https://t/stray.gz", ts, gzip.compress(b"payload"), None, "en"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = {r.url: r for r in extract_pages(pages).collect()}
    assert out["https://t/book"].content_type == "mets_gbs"
    assert out["https://t/book"].status == "success"
    assert "PACIFIC" in out["https://t/book"].extracted_text
    assert out["https://t/stray.gz"].status == "skipped"


def test_mets_doctags_located():
    """The Google Books fixture produces located DocTags through the same
    structural-blocks bridge the PDF path uses."""
    import re
    from pathlib import Path

    from docling_spark.metsx import extract_mets_gbs
    from docling_spark.serialize_doctags import to_doctags

    fixture = next(
        Path("/root/reference/tests/data/mets_gbs").glob("*.tar.gz")
    )
    res = extract_mets_gbs(fixture.read_bytes(), with_span_doc=True)
    assert res.span_doc is not None
    dt = to_doctags(res.span_doc)
    assert dt.startswith("<doctag>")
    assert re.search(r"<loc_\d+>", dt)
    # multi-page fixture → page breaks present
    assert "<page_break>" in dt
