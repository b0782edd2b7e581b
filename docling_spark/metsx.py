"""METS-GBS backend: Google-Books-schema tar.gz → SpanDoc.

Re-derives the observable behavior of the reference MetsGbsDocumentBackend
(/root/reference/docling/backend/mets_gbs_backend.py:197-399 — METS is the
public Library-of-Congress schema, hOCR the public OCR markup format):

- tar.gz member scan for the METS manifest (``mets:mets`` with
  PROFILE="gbs"), fileGrp USE ∈ {image, OCR, coordOCR} → per-page file
  map via the structMap page divs;
- per page, the coordOCR hOCR member is parsed (lenient HTML) and
  ``ocr_line`` spans become positioned text cells (bbox from the hocr
  ``title`` attribute, x_wconf confidences).

Where the reference then feeds these cells into the NN layout pipeline
(out of contract), this backend runs the SAME deterministic layout path
the PDF branch uses — XY-cut reading order, paragraph grouping,
sanitize_text, and the font-geometry structural labeler — so a METS
archive yields the same labeled span model as a digital-born PDF. No
PIL: the page size comes from the hOCR ocr_page bbox.
"""

from __future__ import annotations

import re
import tarfile
from io import BytesIO
from typing import Optional

_METS_NS = "{http://www.loc.gov/METS/}"
_XLINK = "{http://www.w3.org/1999/xlink}"


def _extract_bbox(title: str) -> Optional[tuple[int, int, int, int]]:
    for part in title.split(";"):
        part = part.strip()
        if part.startswith("bbox "):
            try:
                l, t, r, b = map(int, part.split()[1:5])
                return l, t, r, b
            except (ValueError, IndexError):
                return None
    return None


class MetsGbsResult:
    def __init__(self, status: str, text: str = "", spans=None, error=None,
                 n_pages: int = 0):
        self.status = status
        self.text = text
        self.spans = spans
        self.error = error
        self.n_pages = n_pages
        self.span_doc = None


def extract_mets_gbs(raw: bytes, with_span_doc: bool = False) -> MetsGbsResult:
    """tar.gz bytes → reading-ordered text + structured spans. Never raises.
    ``with_span_doc`` additionally builds the SpanDoc form (located DocTags
    path); hOCR pages carry no page-size declaration our parser reads, so
    page dims are the per-page cell extents."""
    import xml.etree.ElementTree as ET

    from .pdfx.layout import Cell, page_cells_to_text
    from .pdfx.structure import (
        blocks_to_spandoc,
        blocks_to_spans,
        doc_structured_blocks,
    )

    try:
        tar = tarfile.open(fileobj=BytesIO(raw), mode="r:gz")
    except Exception as e:  # noqa: BLE001
        return MetsGbsResult("skipped", error=f"not a tar.gz: {e}")
    try:
        root = None
        for member in tar.getmembers():
            if member.name.endswith(".xml"):
                f = tar.extractfile(member)
                if f is None:
                    continue
                try:
                    cand = ET.fromstring(f.read())
                except ET.ParseError:
                    continue
                if cand.tag == f"{_METS_NS}mets" and cand.get("PROFILE") == "gbs":
                    root = cand
                    break
        if root is None:
            return MetsGbsResult(
                "skipped", error="no METS manifest with PROFILE=gbs"
            )

        # file id → (use, path)
        files: dict[str, tuple[str, str]] = {}
        for filegrp in root.iter(f"{_METS_NS}fileGrp"):
            use = filegrp.get("USE")
            if use not in ("image", "OCR", "coordOCR"):
                continue
            for file_elem in filegrp.findall(f"{_METS_NS}file"):
                fid = file_elem.get("ID")
                flocat = file_elem.find(f"{_METS_NS}FLocat")
                href = flocat.get(f"{_XLINK}href") if flocat is not None else None
                if fid and href:
                    files[fid] = (use, href)

        # page order → coordOCR member path
        page_ocr: dict[int, str] = {}
        for div in root.iter(f"{_METS_NS}div"):
            if div.get("TYPE") != "page":
                continue
            order = div.get("ORDER")
            if not order or not order.isdigit():
                continue
            page_no = int(order) - 1
            for fptr in div.findall(f"{_METS_NS}fptr"):
                info = files.get(fptr.get("FILEID", ""))
                if info and info[0] == "coordOCR":
                    page_ocr[page_no] = info[1]
        if not page_ocr:
            return MetsGbsResult("skipped", error="no coordOCR pages in METS")

        from .htmlx.dom import parse_html

        pages_cells: list[list[Cell]] = []
        page_texts: list[str] = []
        n_empty = 0
        for page_no in sorted(page_ocr):
            f = tar.extractfile(page_ocr[page_no])
            if f is None:
                continue
            hocr = parse_html(f.read())
            cells: list[Cell] = []
            for ix, line in enumerate(hocr.find_all("span")):
                if "ocr_line" not in (line.get("class") or ""):
                    continue
                text = line.get_text().strip()
                text = re.sub(r"\s+", " ", text)
                box = _extract_bbox(line.get("title") or "")
                if box and text:
                    l, t, r, b = box
                    cells.append(Cell(ix, text, l, t, r, b))
            if not cells:
                n_empty += 1
                continue
            pages_cells.append(cells)
            page_texts.append(page_cells_to_text(cells))
        if not page_texts:
            return MetsGbsResult(
                "needs_ocr", n_pages=len(page_ocr),
                error="no OCR lines in any page",
            )
        blocks = doc_structured_blocks(pages_cells)
        spans = blocks_to_spans(blocks)
        status = "partial_success" if n_empty else "success"
        res = MetsGbsResult(
            status,
            text="\n\n".join(page_texts),
            spans=spans,
            n_pages=len(page_ocr),
        )
        if with_span_doc:
            sizes = [
                (max(c.r for c in cells), max(c.b for c in cells))
                for cells in pages_cells
            ]
            res.span_doc = blocks_to_spandoc(blocks, sizes)
        return res
    except Exception as e:  # noqa: BLE001 — containment by design
        return MetsGbsResult("failure", error=f"{type(e).__name__}: {e}"[:500])
    finally:
        tar.close()
