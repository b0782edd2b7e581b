"""OFD backend vs the reference fixtures.

Reference: OFDDocumentBackend (/root/reference/docling/backend/ofd_backend.py)
+ OFDZipParser (ofd_parser.py); fixtures in /root/reference/tests/data/ofd.
The reference ships no docling goldens for OFD (its own test data has only
third-party converted texts), so assertions pin the deterministic subset:
container routing, title/paragraph structure, and content recovery against
the shipped ``ano.txt`` transcription.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from docling_spark.job import sniff_content_type
from docling_spark.ofdx import extract_ofd
from docling_spark.serialize import to_markdown

OFD_DIR = Path("/root/reference/tests/data/ofd")


@pytest.mark.parametrize("name", ["1.ofd", "999.ofd", "ano.ofd", "helloworld.ofd"])
def test_all_fixtures_parse(name):
    raw = (OFD_DIR / name).read_bytes()
    assert sniff_content_type(None, raw) == "ofd"
    doc = extract_ofd(raw, name=name[:-4])
    texts = [it.text for it in doc.items if it.kind == "text" and it.text]
    assert texts, f"{name}: no text extracted"


def test_helloworld_content():
    doc = extract_ofd((OFD_DIR / "helloworld.ofd").read_bytes())
    texts = [it.text for it in doc.items if it.kind == "text"]
    assert any("OFD Reader" in t for t in texts)


def test_ano_recovers_reference_transcription_lines():
    """ano.txt is the fixture's shipped transcription; the leading
    document-title lines must be recovered (whitespace-insensitively — the
    transcription was made by a different tool with its own spacing)."""
    doc = extract_ofd((OFD_DIR / "ano.ofd").read_bytes())
    got = "".join(it.text for it in doc.items if it.kind == "text").replace(" ", "")
    for line in ["可信安全浏览器", "Web应用开发指南", "（常用手册）"]:
        assert line in got


def test_invoice_fields_extracted():
    """1.ofd is an electronic VAT invoice; key printed fields survive."""
    doc = extract_ofd((OFD_DIR / "1.ofd").read_bytes())
    got = "".join(it.text for it in doc.items if it.kind == "text")
    assert "浙江增值税电子普通发票" in got
    assert "2020年07月23日" in got


def test_multi_page_999():
    doc = extract_ofd((OFD_DIR / "999.ofd").read_bytes())
    got = "".join(it.text for it in doc.items if it.kind == "text")
    assert "2020年08月05日" in got


def test_synth_roundtrip_markdown():
    from docling_spark.ops.corpus import synth_ofd_bytes

    text = ("alpha beta gamma delta epsilon zeta " * 5).strip()
    doc = extract_ofd(synth_ofd_bytes(11, text), name="11")
    assert to_markdown(doc) == f"# Document 11\n\n{text}\n\nsealed v11"


def test_invalid_container_raises():
    with pytest.raises(Exception):
        extract_ofd(b"PK\x03\x04 not a real zip")


# --------------------------------------------- round-4: glyph decoding
def test_glyph_paragraph_decoded_from_pua():
    """The synth container's last paragraph exists ONLY as glyph ids (its
    TextCode is U+E000 junk): recovering 'sealed vNN' proves the stdlib
    cmap decode (ofd_glyphs.py, reference ofd_glyph_decoder.py parity)."""
    from docling_spark.ops.corpus import synth_ofd_bytes

    doc = extract_ofd(synth_ofd_bytes(3, "one two"), name="3")
    texts = [it.text for it in doc.items if it.kind == "text"]
    assert "sealed v03" in texts
    assert not any("\ue000" in t for t in texts)


def test_glyph_font_missing_falls_back_to_pua_strip():
    """Without the embedded font the PUA TextCode falls through to the
    reference's no-fonttools path (strip-or-keep)."""
    import io
    import zipfile

    from docling_spark.ops.corpus import synth_ofd_bytes

    raw = synth_ofd_bytes(3, "one two")
    buf = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(raw)) as zin, zipfile.ZipFile(
        buf, "w"
    ) as zout:
        for n in zin.namelist():
            if not n.endswith("font_7.ttf"):
                zout.writestr(n, zin.read(n))
    doc = extract_ofd(buf.getvalue(), name="3")
    texts = [it.text for it in doc.items if it.kind == "text"]
    # all-PUA block keeps raw text (reference fallthrough) — never crashes
    assert any("\ue000" in t for t in texts)


def test_cmap_parser_units():
    from docling_spark.ofd_glyphs import (
        best_cmap,
        decode_glyphs,
        reverse_cmap,
    )
    from docling_spark.ops.corpus import synth_ttf_bytes

    font = synth_ttf_bytes({ord("A"): 5, ord("B"): 6, ord("C"): 6})
    fwd = best_cmap(font)
    assert fwd == {ord("A"): 5, ord("B"): 6, ord("C"): 6}
    # shared glyph: highest codepoint wins (fontTools reverse parity)
    assert reverse_cmap(font) == {5: ord("A"), 6: ord("C")}
    assert decode_glyphs(font, "5 6", "xy") == "AC"
    # unmapped gid falls back positionally to the raw text
    assert decode_glyphs(font, "5 99", "xy") == "Ay"
    assert decode_glyphs(font, "junk", "xy") is None
    assert decode_glyphs(b"notafont", "5", "x") is None


def test_real_embedded_fonts_parse():
    """ano.ofd ships real TTF subsets: the stdlib parser must read their
    cmaps (sizes pinned loosely) and extraction must stay lossless vs the
    round-3 behavior on blocks whose cmap maps back into PUA."""
    import io
    import zipfile

    from docling_spark.ofd_glyphs import reverse_cmap

    raw = (OFD_DIR / "ano.ofd").read_bytes()
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        rev = reverse_cmap(zf.read("Doc_0/Res/font_91_91.ttf"))
    assert len(rev) > 20000  # full CJK cmap
