"""`docling_spark convert` on in-repo inputs (no reference corpus needed).

The CLI sniffs each file with the job's rule table (job.sniff_content_type)
and converts it with the job's backends, so its md/itxt/json must equal
what the job's per-document core (job._extract_one) produces for the same
bytes. PDFs and METS archives take their text paths (md and text only).
Unsupported content types are reported as skipped."""

from __future__ import annotations

import gzip
import io
import tarfile

import pytest

from docling_spark.__main__ import convert_main
from docling_spark.htmlx.extract import extract_html
from docling_spark.job import CONTENT_TYPES, _extract_one, sniff_content_type
from docling_spark.ops.corpus import (
    synth_docx_bytes,
    synth_ofd_bytes,
    synth_pdf_bytes,
    synth_pdf_structured_bytes,
    synth_uspto_bytes,
    synth_xlsx_bytes,
)
from docling_spark.ops.png import encode_png
from docling_spark.serialize_json import to_docling_json

HTML = (
    b"<html><head><title>Doc 7</title></head><body>\n<h1>Document 7</h1>\n"
    b"<p>alpha beta gamma</p>\n<ul><li>alpha</li><li>beta</li></ul>\n"
    b"<table><tr><th>K</th><th>V</th></tr><tr><td>k07</td><td>v07</td></tr>"
    b"</table>\n</body></html>"
)
VTT = (
    b"WEBVTT\n\n00:00.000 --> 00:01.000\n<v Alice>Hello there\n\n"
    b"00:01.000 --> 00:02.000\nsecond cue\n"
)
JATS_NO_DTD = (
    b'<?xml version="1.0"?>\n<article><front><article-meta><title-group>'
    b"<article-title>Title</article-title></title-group></article-meta>"
    b"</front><body><sec><title>Intro</title><p>Hello jats</p></sec></body>"
    b"</article>"
)
DOCTAGS = b"<doctag><title>T</title>\n<text>hello doctags</text>\n</doctag>"

# a minimal METS-GBS archive, one hOCR page
METS_MANIFEST = b"""<?xml version="1.0"?>
<mets:mets xmlns:mets="http://www.loc.gov/METS/"
           xmlns:xlink="http://www.w3.org/1999/xlink" PROFILE="gbs">
 <mets:fileSec>
  <mets:fileGrp USE="coordOCR">
   <mets:file ID="ocr1"><mets:FLocat xlink:href="00000001.html"/></mets:file>
  </mets:fileGrp>
 </mets:fileSec>
 <mets:structMap>
  <mets:div TYPE="volume">
   <mets:div TYPE="page" ORDER="1"><mets:fptr FILEID="ocr1"/></mets:div>
  </mets:div>
 </mets:structMap>
</mets:mets>
"""
METS_HOCR = b"""<html><body>
<div class="ocr_page" title="bbox 0 0 1000 1400">
<span class="ocr_line" title="bbox 100 100 700 140; x_wconf 95">Chapter One</span>
<span class="ocr_line" title="bbox 100 200 900 220; x_wconf 91">It was a dark and stormy night,</span>
<span class="ocr_line" title="bbox 100 224 880 244; x_wconf 90">and the rain fell in torrents.</span>
</div></body></html>
"""


def mets_tar_gz() -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name, data in (("book/mets.xml", METS_MANIFEST),
                           ("00000001.html", METS_HOCR)):
            info = tarfile.TarInfo(name)
            info.size, info.mtime = len(data), 0
            tar.addfile(info, io.BytesIO(data))
    return gzip.compress(buf.getvalue(), mtime=0)


# file name -> (bytes, content type the job's table gives it)
CONVERTED = {
    "page.html": (HTML, "html"),
    "page": (HTML, "html"),
    "word.docx": (synth_docx_bytes(3, "alpha beta gamma"), "docx"),
    "sheet.xlsx": (synth_xlsx_bytes(4), "xlsx"),
    "book.ofd": (synth_ofd_bytes(5, "ofd words here"), "ofd"),
    "patent.xml": (synth_uspto_bytes(6, "patent words here"), "uspto"),
    "table.csv": (b"K,V\nk1,v1\n", "csv"),
    "table": (b"K,V\nk1,v1\nk2,v2\n", "csv"),
    "notes.md": (b"# Notes\n\nSome *text*.\n\n- a\n- b\n", "md"),
    "notes.adoc": (b"= Notes\n\nSome text.\n\n* a\n* b\n", "asciidoc"),
    "subs.vtt": (VTT, "vtt"),
    "subs.html": (VTT, "html"),  # url extension wins over WEBVTT magic
    "page.doctags.txt": (DOCTAGS, "doctags"),
    "article.nxml": (JATS_NO_DTD, "jats"),
    "page.json": (
        to_docling_json(extract_html(HTML, name="page"), "page.html", HTML).encode(),
        "docling_json",
    ),
    "doc.pdf": (synth_pdf_bytes(8, "eight words in a small pdf body"), "pdf"),
    "struct.pdf": (
        synth_pdf_structured_bytes(9, "nine words in a structured pdf body"),
        "pdf",
    ),
    "book.tar.gz": (mets_tar_gz(), "mets_gbs"),
}
SKIPPED = {
    "notes.txt": (b"just some prose, nothing else\nmore prose\n", "other"),
    "empty.txt": (b"", "other"),
    "blob.bin": (bytes(range(256)) * 4, "other"),
    "img.png": (encode_png(2, 2, 1, bytes([10, 20, 30, 40])), "image"),
    "arch.gz": (gzip.compress(b"hello"), "mets_gbs"),
}


def _write(tmp_path, name: str, raw: bytes):
    src = tmp_path / "in" / name
    src.parent.mkdir(exist_ok=True)
    src.write_bytes(raw)
    return src


@pytest.mark.parametrize("name", sorted(CONVERTED))
def test_cli_output_equals_job_core(tmp_path, capsys, name):
    raw, fmt = CONVERTED[name]
    assert sniff_content_type(name, raw) == fmt
    src = _write(tmp_path, name, raw)
    out = tmp_path / "out"
    rc = convert_main(
        [str(src), "--to", "md,itxt,json,text,html,doctags", "--output", str(out)]
    )
    assert rc == 0
    want = _extract_one(name, raw, fmt, "none", 60.0, with_doc_json=True)
    assert want["status"] == "success", want["error"]
    stem = src.stem
    assert (out / f"{stem}.md").read_text() == want["extracted_text"]
    assert (out / f"{stem}.txt").read_text() == want["extracted_text"]
    if fmt in ("pdf", "mets_gbs"):  # text paths write md/text only, and say so
        kind = "PDF" if fmt == "pdf" else "METS"
        assert sorted(p.name for p in out.iterdir()) == [f"{stem}.md", f"{stem}.txt"]
        assert capsys.readouterr().out.splitlines() == [
            f"skipped {name} outputs itxt,json,html,doctags: "
            f"the {kind} text path writes md and text only",
            f"converted {name}",
        ]
        return
    assert (out / f"{stem}.itxt").read_text() == want["itxt"]
    assert (out / f"{stem}.json").read_text() == want["doc_json"]
    assert "<html" in (out / f"{stem}.html").read_text()
    dt = (out / f"{stem}.doctags.txt").read_text()
    assert dt.startswith("<doctag>") and dt.endswith("</doctag>")


@pytest.mark.parametrize("name", sorted(SKIPPED))
def test_cli_skips_unsupported_types(tmp_path, capsys, name):
    raw, fmt = SKIPPED[name]
    assert sniff_content_type(name, raw) == fmt
    src = _write(tmp_path, name, raw)
    out = tmp_path / "out"
    assert convert_main([str(src), "--to", "md", "--output", str(out)]) == 0
    # a gzip that is no METS archive is skipped by the METS backend, which
    # gives the reason the job's row carries
    reason = (
        _extract_one(name, raw, fmt, "none", 60.0)["error"]
        if fmt == "mets_gbs"
        else f"unsupported format {fmt}"
    )
    assert capsys.readouterr().out.splitlines() == [f"skipped {name}: {reason}"]
    assert list(out.iterdir()) == []


def test_cli_pdf_without_text_outputs_reports_the_skip(tmp_path, capsys):
    """A PDF asked only for outputs its text path cannot write names them,
    writes nothing and does not claim it converted the file."""
    src = _write(tmp_path, "doc.pdf", CONVERTED["doc.pdf"][0])
    out = tmp_path / "out"
    assert convert_main([str(src), "--to", "json,itxt", "--output", str(out)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        "skipped doc.pdf outputs json,itxt: the PDF text path writes md and text only"
    ]
    assert list(out.iterdir()) == []


def test_cli_abort_on_error(tmp_path):
    """--abort-on-error stops at the first failure; without it the
    remaining sources still convert and the exit code reports the failure."""
    bad = _write(tmp_path, "bad.pdf", b"%PDF-1.4 truncated")
    good = _write(tmp_path, "table.csv", CONVERTED["table.csv"][0])
    out = tmp_path / "out"
    rc = convert_main(
        [str(bad), str(good), "--to", "md", "--output", str(out), "--abort-on-error"]
    )
    assert rc == 1 and not (out / "table.md").exists()
    rc = convert_main([str(bad), str(good), "--to", "md", "--output", str(out)])
    assert rc == 1 and (out / "table.md").exists()


def test_cli_from_unknown_format_is_an_error(tmp_path, capsys):
    """`json` is not a content type (Docling JSON is `docling_json`): the
    allowlist rejects it instead of silently skipping every file."""
    src = _write(tmp_path, "page.json", CONVERTED["page.json"][0])
    with pytest.raises(SystemExit) as exc:
        convert_main([str(src), "--output", str(tmp_path / "out"), "--from", "json"])
    assert exc.value.code == 2
    assert "unknown format(s) json" in capsys.readouterr().err
    rc = convert_main(
        [str(src), "--output", str(tmp_path / "out"), "--from", "docling_json"]
    )
    assert rc == 0 and (tmp_path / "out" / "page.md").exists()


def test_cli_from_doctags(tmp_path, capsys):
    src = _write(tmp_path, "page.doctags.txt", DOCTAGS)
    out = tmp_path / "out"
    assert convert_main([str(src), "--output", str(out), "--from", "html"]) == 0
    assert "skipped page.doctags.txt: format doctags not in --from" in (
        capsys.readouterr().out
    )
    assert not (out / "page.doctags.md").exists()
    assert convert_main([str(src), "--output", str(out), "--from", "doctags"]) == 0
    assert (out / "page.doctags.md").read_text() == _extract_one(
        "page.doctags.txt", DOCTAGS, "doctags", "none", 60.0
    )["extracted_text"]


def test_cli_from_help_lists_the_table(capsys):
    with pytest.raises(SystemExit):
        convert_main(["--help"])
    help_text = " ".join(capsys.readouterr().out.split())
    assert ", ".join(CONTENT_TYPES) in help_text


@pytest.mark.parametrize("value", ["abc", "1-x", "x-2", "1.5"])
def test_cli_malformed_page_range_is_a_usage_error(tmp_path, capsys, value):
    """A malformed --page-range exits through argparse (code 2, one error
    line) instead of a ValueError traceback."""
    src = _write(tmp_path, "doc.pdf", synth_pdf_bytes(1, "alpha beta"))
    with pytest.raises(SystemExit) as exc:
        convert_main([str(src), "--output", str(tmp_path / "out"), "--page-range", value])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert f"invalid page range '{value}'" in err and "Traceback" not in err


def test_cli_page_range_parses(tmp_path):
    src = _write(tmp_path, "doc.pdf", synth_pdf_bytes(1, "alpha beta"))
    out = tmp_path / "out"
    for value in ("1-1", "1"):
        assert convert_main([str(src), "--output", str(out), "--page-range", value]) == 0
        assert (out / "doc.md").read_text() == "Document 1\n\nalpha beta"


def test_cli_missing_source_is_contained(tmp_path, capsys):
    """A source that cannot be read fails like a bad document: the run
    reports it, converts the rest and exits 1; --abort-on-error stops."""
    good = _write(tmp_path, "table.csv", CONVERTED["table.csv"][0])
    missing = tmp_path / "in" / "nope.html"
    out = tmp_path / "out"
    rc = convert_main([str(missing), str(good), "--to", "md", "--output", str(out)])
    captured = capsys.readouterr()
    assert rc == 1 and (out / "table.md").exists()
    assert "FAILED nope.html:" in captured.err and "Traceback" not in captured.err
    assert "converted table.csv" in captured.out
    out2 = tmp_path / "out2"
    rc = convert_main(
        [str(missing), str(good), "--to", "md", "--output", str(out2), "--abort-on-error"]
    )
    assert rc == 1 and not (out2 / "table.md").exists()


def test_cli_unknown_output_format_is_a_usage_error(tmp_path, capsys):
    """An unknown --to name exits 2 with one error line instead of being
    dropped while the known names are written."""
    src = _write(tmp_path, "page.html", HTML)
    out = tmp_path / "out"
    with pytest.raises(SystemExit) as exc:
        convert_main([str(src), "--to", "mdx,json", "--output", str(out)])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "unknown output format(s) mdx" in err and "Traceback" not in err
    assert not out.exists()
    assert convert_main([str(src), "--to", "md,json", "--output", str(out)]) == 0
    assert sorted(p.name for p in out.iterdir()) == ["page.json", "page.md"]
