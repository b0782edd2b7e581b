"""OFD (Open Fixed-layout Document, GB/T 33190) backend — deterministic subset.

Reference parity: OFDDocumentBackend + OFDZipParser
(/root/reference/docling/backend/ofd_backend.py:1-662,
/root/reference/docling/backend/ofd_parser.py:1-440). The reference's
pipeline is zip → OFD.xml → DocRoot → Document.xml → per-page Content.xml
TextObjects, then deterministic line grouping / paragraph building; on top
of that it optionally runs a fonttools glyph decoder and a RapidOCR
fallback for Private-Use-Area (PUA) codepoints. The glyph decoder IS
replicated here — stdlib sfnt cmap parsing (ofd_glyphs.py) maps
<CGTransform><Glyphs> ids through the embedded font exactly like the
reference's fonttools path (ofd_glyph_decoder.py:120-159). Only the OCR
fallback stays out (NN). Blocks the decoder cannot resolve follow the
reference's no-fonttools fallthrough: PUA characters are stripped when a
cleaned text survives (ofd_backend.py:372-380), and blocks whose text is
entirely PUA keep their raw text.

Structure produced: optional title (DocInfo metadata), one "text" item per
reconstructed paragraph, one picture per referenced image object —
matching the reference's doc.add_title/add_text(PARAGRAPH)/add_picture
sequence (ofd_backend.py:602-646).
"""

from __future__ import annotations

import posixpath
import xml.etree.ElementTree as ET
import zipfile
from dataclasses import dataclass, field
from io import BytesIO
from typing import Dict, List, Optional, Tuple

from .model import SpanDoc

_DEFAULT_NS = "http://www.ofdspec.org/2016"


def _to_float(value: Optional[str]) -> Optional[float]:
    if value is None:
        return None
    value = value.strip()
    if not value:
        return None
    try:
        return float(value)
    except ValueError:
        return None


def _parse_boundary(boundary: Optional[str]) -> Tuple[float, float, float, float]:
    if not boundary:
        return (0.0, 0.0, 0.0, 0.0)
    tokens = [t for t in boundary.replace(",", " ").split() if t]
    if len(tokens) != 4:
        return (0.0, 0.0, 0.0, 0.0)
    try:
        return tuple(float(t) for t in tokens)  # type: ignore[return-value]
    except ValueError:
        return (0.0, 0.0, 0.0, 0.0)


def _normalize_posix(path: str) -> str:
    parts: List[str] = []
    for part in path.split("/"):
        if part in ("", "."):
            continue
        if part == "..":
            if parts:
                parts.pop()
            continue
        parts.append(part)
    return "/".join(parts)


def _resolve_path(
    document_dir: str, res_base: Optional[str], target: Optional[str]
) -> Optional[str]:
    if not target or not target.strip():
        return None
    target = target.strip()
    if target.startswith("/"):
        return _normalize_posix(target)
    base = document_dir
    if res_base:
        if res_base.startswith("/"):
            base = _normalize_posix(res_base)
        else:
            base = _normalize_posix(posixpath.join(document_dir, res_base))
    return _normalize_posix(posixpath.join(base, target))


def _detect_ns(root: ET.Element) -> Dict[str, str]:
    if "}" in root.tag:
        return {"ofd": root.tag.split("}")[0][1:]}
    return {"ofd": _DEFAULT_NS}


@dataclass
class _TextItem:
    text: str
    x: float
    y: float
    width: float
    height: float
    glyph_size: float


@dataclass
class _Page:
    text_items: List[_TextItem] = field(default_factory=list)
    image_resource_ids: List[str] = field(default_factory=list)


def _is_pua(ch: str) -> bool:
    return 0xE000 <= ord(ch) <= 0xF8FF


def _estimate_text_width(text: str, glyph_size: Optional[float]) -> float:
    # reference ofd_backend.py:145-149
    if glyph_size is None or glyph_size <= 0:
        glyph_size = 6.0
    return glyph_size * 0.6 * max(len(text), 1)


def _decode_block_text(raw_text: str) -> str:
    """PUA handling without the glyph/OCR decoders (ofd_backend.py:366-380):
    strip PUA codepoints when a non-empty cleaned text remains, otherwise
    keep the raw text."""
    if not any(_is_pua(c) for c in raw_text):
        return raw_text
    cleaned = "".join(c for c in raw_text if not _is_pua(c)).strip()
    return cleaned if cleaned else raw_text


def _merge_line_text(row_items: List[_TextItem]) -> str:
    # reference ofd_backend.py:441-454 (gap > max(font*0.6, 0.8) → space)
    pieces: List[str] = []
    cursor_x: Optional[float] = None
    for item in row_items:
        width = (
            item.width
            if item.width > 0
            else _estimate_text_width(item.text, item.glyph_size)
        )
        if cursor_x is not None:
            gap = item.x - cursor_x
            threshold = max(item.glyph_size * 0.6, 0.8)
            if gap > threshold:
                pieces.append(" ")
        pieces.append(item.text)
        cursor_x = item.x + width
    return "".join(pieces)


def _group_lines(items: List[_TextItem]) -> List[dict]:
    # reference ofd_backend.py:456-497: y-sort, vertical-gap clustering with
    # threshold max(heights, font)*0.6 + 0.8
    if not items:
        return []
    ordered = sorted(items, key=lambda i: (round(i.y, 3), i.x))
    line_groups: List[List[_TextItem]] = []
    open_line: List[_TextItem] = []
    open_top: Optional[float] = None
    open_height: Optional[float] = None
    for item in ordered:
        top, height = item.y, item.height
        if open_line:
            dy = abs(top - open_top)
            threshold = (
                max(open_height, height, item.glyph_size or height, 1.0) * 0.6
                + 0.8
            )
            if dy <= threshold:
                open_line.append(item)
                open_top = min(open_top, top)
                open_height = max(open_height, height)
            else:
                line_groups.append(open_line)
                open_line, open_top, open_height = [item], top, height
        else:
            open_line, open_top, open_height = [item], top, height
    if open_line:
        line_groups.append(open_line)
    out: List[dict] = []
    for line in line_groups:
        line.sort(key=lambda i: i.x)
        text = _merge_line_text(line).strip()
        if not text:
            continue
        out.append(
            {
                "text": text,
                "top": min(i.y for i in line),
                "height": max(i.height for i in line),
            }
        )
    return out


def _build_paragraphs(lines: List[dict]) -> List[str]:
    # reference ofd_backend.py:499-528: paragraph break when the vertical
    # gap exceeds 1.4x the line height
    if not lines:
        return []
    paras: List[str] = []
    para_lines: List[str] = []
    last_top: Optional[float] = None
    last_height: Optional[float] = None
    for entry in lines:
        text, top, height = entry["text"], entry["top"], entry["height"]
        if last_top is None:
            para_lines = [text]
        else:
            gap = top - last_top
            threshold = max(last_height or height, height, 1.0) * 1.4
            if gap > threshold:
                paras.append(" ".join(para_lines).strip())
                para_lines = [text]
            else:
                para_lines.append(text)
        last_top, last_height = top, height
    if para_lines:
        paras.append(" ".join(para_lines).strip())
    return [p for p in paras if p]


class _OfdZip:
    """Minimal OFDZipParser analog (ofd_parser.py:199-310)."""

    def __init__(self, zf: zipfile.ZipFile):
        self.zf = zf
        self.names = set(zf.namelist())
        self.ns = {"ofd": _DEFAULT_NS}
        # font_id → archive path of the embedded font (res.xml Fonts), and
        # the per-document reverse-cmap cache (glyph id → codepoint)
        self.fonts: Dict[str, str] = {}
        self._rev: Dict[str, Optional[Dict[int, int]]] = {}

    def _xml(self, path: str) -> ET.Element:
        return ET.fromstring(self.zf.read(path))

    def parse(self) -> Tuple[Dict[str, str], List[_Page], Dict[str, str]]:
        root = self._xml("OFD.xml")
        self.ns = _detect_ns(root)
        metadata: Dict[str, str] = {}
        doc_info = root.find(".//ofd:DocInfo", self.ns)
        if doc_info is not None:
            for child in doc_info:
                tag = child.tag.split("}")[-1]
                if child.text and child.text.strip():
                    metadata[tag.lower()] = child.text.strip()
        body = root.find(".//ofd:DocBody", self.ns)
        if body is None:
            raise ValueError("Unable to locate DocBody in OFD.xml")
        docroot_el = body.find("ofd:DocRoot", self.ns)
        if docroot_el is None or not docroot_el.text:
            raise ValueError("DocRoot element missing in OFD.xml")
        docroot_loc = docroot_el.text.strip()
        document_dir = posixpath.dirname(docroot_loc)
        document_root = self._xml(docroot_loc)

        images: Dict[str, str] = {}
        common = document_root.find("ofd:CommonData", self.ns)
        if common is not None:
            for tag_name in ("PublicRes", "DocumentRes"):
                for res_elem in common.findall(f"ofd:{tag_name}", self.ns):
                    if res_elem.text:
                        res_loc = _resolve_path(document_dir, None, res_elem.text)
                        if res_loc and res_loc in self.names:
                            self._parse_resources(res_loc, document_dir, images)

        pages: List[_Page] = []
        pages_elem = document_root.find("ofd:Pages", self.ns)
        if pages_elem is not None:
            for page_elem in pages_elem.findall("ofd:Page", self.ns):
                page_loc = _resolve_path(
                    document_dir, None, page_elem.get("BaseLoc")
                )
                if not page_loc or page_loc not in self.names:
                    continue
                pages.append(self._parse_page(self._xml(page_loc)))
        return metadata, pages, images

    def _parse_resources(
        self, res_loc: str, document_dir: str, images: Dict[str, str]
    ) -> None:
        res_xml = self._xml(res_loc)
        res_base = res_xml.get("BaseLoc")
        # embedded fonts (reference ofd_glyph_decoder._discover_font_paths:
        # res.xml → Fonts/Font[@ID]/FontFile, resolved against BaseLoc)
        for fe in res_xml.findall(".//ofd:Font", self.ns):
            font_id = fe.get("ID")
            if not font_id:
                continue
            ff = fe.find("ofd:FontFile", self.ns)
            if ff is None or not ff.text:
                continue
            path = _resolve_path(document_dir, res_base, ff.text)
            if path:
                self.fonts.setdefault(font_id, path)
        for mm in res_xml.findall("ofd:MultiMedias/ofd:MultiMedia", self.ns):
            media_id = mm.get("ID")
            if not media_id:
                continue
            mf = mm.find("ofd:MediaFile", self.ns)
            path = (
                _resolve_path(document_dir, res_base, mf.text)
                if mf is not None and mf.text
                else None
            )
            images[media_id] = path or ""

    def _font_rev(self, font_id: str) -> Optional[Dict[int, int]]:
        """Load + cache the reverse cmap of an embedded font (stdlib sfnt
        parse, ofd_glyphs.py); None when absent/unparsable — the caller
        falls through to the PUA-strip path exactly like the reference
        does without fonttools."""
        if font_id in self._rev:
            return self._rev[font_id]
        rev: Optional[Dict[int, int]] = None
        path = self.fonts.get(font_id)
        if path and path in self.names:
            try:
                from .ofd_glyphs import reverse_cmap

                rev = reverse_cmap(self.zf.read(path)) or None
            except Exception:
                rev = None
        self._rev[font_id] = rev
        return rev

    def _parse_page(self, page_xml: ET.Element) -> _Page:
        page = _Page()
        for layer in page_xml.findall("ofd:Content/ofd:Layer", self.ns):
            for tobj in layer.findall("ofd:TextObject", self.ns):
                boundary = _parse_boundary(tobj.get("Boundary"))
                glyph_size = _to_float(tobj.get("Size"))
                raw = "".join(
                    tc.text or ""
                    for tc in tobj.findall("ofd:TextCode", self.ns)
                )
                if not raw:
                    continue
                # glyph decode first (reference _decode_text_block order:
                # CGTransform glyph ids through the embedded font's cmap,
                # ofd_backend.py:352-362), then the PUA fallthrough
                decoded = raw
                font_id = tobj.get("Font")
                cg = tobj.find("ofd:CGTransform", self.ns)
                glyphs = None
                if cg is not None:
                    ge = cg.find("ofd:Glyphs", self.ns)
                    if ge is not None and ge.text:
                        glyphs = ge.text.strip()
                if glyphs and font_id:
                    rev = self._font_rev(font_id)
                    if rev:
                        from .ofd_glyphs import decode_glyphs

                        got = decode_glyphs(rev, glyphs, raw)
                        if got:
                            decoded = got
                text = _decode_block_text(decoded)
                if not text.strip():
                    continue
                x, y, width, height = boundary
                fs = glyph_size or 0.0
                if width <= 0:
                    width = _estimate_text_width(text, glyph_size)
                if height <= 0:
                    height = (
                        max(fs * 1.2, 2.0)
                        if fs
                        else max(width / max(len(text), 1), 2.0)
                    )
                page.text_items.append(
                    _TextItem(
                        text=text.strip(),
                        x=x,
                        y=y,
                        width=width,
                        height=height,
                        glyph_size=fs or height,
                    )
                )
            for iobj in layer.findall("ofd:ImageObject", self.ns):
                rid = iobj.get("ResourceID")
                if rid:
                    page.image_resource_ids.append(rid)
        return page


def extract_ofd(raw: bytes, name: str = "file") -> SpanDoc:
    """bytes → SpanDoc. Raises on a broken container (caller contains)."""
    with zipfile.ZipFile(BytesIO(raw)) as zf:
        if "OFD.xml" not in zf.namelist():
            raise ValueError("Invalid OFD file: missing OFD.xml")
        metadata, pages, images = _OfdZip(zf).parse()

    doc = SpanDoc(name)
    title = metadata.get("title")
    if title:
        doc.add_text("title", title)
    for page in pages:
        lines = _group_lines(page.text_items)
        for paragraph in _build_paragraphs(lines):
            doc.add_text("text", paragraph)
        for rid in page.image_resource_ids:
            if rid in images:
                doc.add_picture()
    return doc
