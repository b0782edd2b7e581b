"""PDF text extraction entry point (pure Python — no native PDF libs in env).

The full layout path (object/xref parsing, content-stream interpretation,
text-cell clustering, reading-order sort) lives in sibling modules; this is
the per-document facade used by the Spark UDF.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from ..model import SpanDoc


@dataclass
class PdfResult:
    status: str
    text: Optional[str] = None
    error: Optional[str] = None
    pages: Optional[list] = None  # per-page cell counts
    spans: Optional[list] = None  # structured labeled spans (with_structure)
    page_texts: Optional[list] = None  # per-page text of the pages with cells
    span_doc: Optional[SpanDoc] = None  # with_structure + with_span_doc
    pictures: Optional[list] = None  # image-XObject placements (with_pictures)


def extract_pdf_text(
    blob: bytes,
    deadline: Optional[float] = None,
    with_structure: bool = False,
    password: "str | bytes" = "",
    page_range: "tuple[int, int]" = (1, 2**31 - 1),
    max_num_pages: Optional[int] = None,
    with_span_doc: bool = False,
    with_pictures: bool = False,
) -> PdfResult:
    """bytes → reading-ordered text. Never raises.

    ``deadline`` (a ``time.monotonic()`` instant) is the per-document
    wall-clock guard: checked before each page, mirroring the reference's
    in-loop timeout (/root/reference/docling/pipeline/base_pipeline.py:254-262)
    — a pathological page stops the document, not the Spark task.

    ``password`` unlocks standard-security-handler encrypted PDFs
    (reference: backend_options.py:71 threads a password into pdfium; here
    pdfx/crypt.py implements the public-spec handler). The default empty
    password also opens owner-locked documents with a blank user password;
    a wrong/missing password yields a clean failure row.

    ``page_range`` (1-based inclusive) and ``max_num_pages`` mirror the
    reference's DocumentLimits (document.py:188-192, base_pipeline.py:217-219):
    pages outside the range are skipped; a document with more pages than
    ``max_num_pages``, or fewer pages than the range start, fails cleanly."""
    import time

    try:
        from .crypt import PdfPasswordError
        from .parser import PdfDocument
        from .layout import page_cells_to_text

        try:
            pdf = PdfDocument(blob, password=password)
        except PdfPasswordError as e:
            return PdfResult(status="failure", error=f"encrypted PDF: {e}")
        all_pages = pdf.pages()
        start_page, end_page = page_range
        if max_num_pages is not None and len(all_pages) > max_num_pages:
            return PdfResult(
                status="failure",
                error=f"page count {len(all_pages)} exceeds "
                f"max_num_pages {max_num_pages}",
            )
        if all_pages and len(all_pages) < start_page:
            return PdfResult(
                status="failure",
                error=f"page count {len(all_pages)} below page_range start "
                f"{start_page}",
            )
        page_texts = []
        needs_ocr_pages = 0
        pages_meta = []
        pages_cells = []
        pages_sizes = []
        pictures = [] if with_pictures else None
        timed_out = False
        for page_no, page in enumerate(all_pages, start=1):
            if not (start_page <= page_no <= end_page):
                continue
            if deadline is not None and time.monotonic() > deadline:
                timed_out = True
                break
            cells = page.text_cells()
            if with_pictures:
                for pic in page.pictures():
                    pictures.append({"page": page_no, **pic})
            pages_meta.append(len(cells))
            if not cells:
                needs_ocr_pages += 1
                continue
            if with_structure:
                pages_cells.append(cells)
                mb = page.mediabox()
                pages_sizes.append((mb[2] - mb[0], mb[3] - mb[1]))
            page_texts.append(page_cells_to_text(cells))
        if timed_out:
            if not page_texts:
                return PdfResult(
                    status="failure",
                    error=f"document timeout after {len(pages_meta)} pages",
                )
            return PdfResult(
                status="partial_success",
                text="\n\n".join(page_texts),
                error=f"document timeout after {len(pages_meta)} pages",
                pages=pages_meta,
                page_texts=page_texts,
            )
        if not pages_meta:
            return PdfResult(status="failure", error="no pages found")
        if needs_ocr_pages == len(pages_meta):
            # image-only (scanned) PDFs still carry their picture regions
            return PdfResult(
                status="needs_ocr", text="", pages=pages_meta,
                pictures=pictures,
            )
        status = "partial_success" if needs_ocr_pages else "success"
        spans = None
        span_doc = None
        if with_structure and pages_cells:
            from .structure import (
                blocks_to_spandoc,
                blocks_to_spans,
                doc_structured_blocks,
            )

            blocks = doc_structured_blocks(pages_cells)
            spans = blocks_to_spans(blocks)
            if with_span_doc:
                span_doc = blocks_to_spandoc(blocks, pages_sizes)
        return PdfResult(
            status=status,
            text="\n\n".join(page_texts),
            pages=pages_meta,
            spans=spans,
            page_texts=page_texts,
            span_doc=span_doc,
            pictures=pictures,
        )
    except Exception as e:  # noqa: BLE001
        return PdfResult(status="failure", error=f"{type(e).__name__}: {e}"[:500])
