"""Structured-extraction API shape (DocumentExtractor parity).

Reference: DocumentExtractor.extract → ExtractionResult with per-page
``ExtractedPageData(page_no, extracted_data, raw_text, errors)``
(/root/reference/docling/document_extractor.py:90-120,
/root/reference/docling/datamodel/extraction.py:11-35). The reference
fills ``extracted_data`` with a VLM pipeline (NN, out of contract); here
the deterministic remainder is exposed with the same result shape:
per-page ``raw_text`` from the PDF layout path, page-scoped ``errors``,
the document-level status calculus, and a DETERMINISTIC template engine
for ``extracted_data``: named regex patterns with typed coercion over the
page's raw_text (the non-NN analog of the reference's
``ExtractionTemplateType`` — a dict of fields, extraction.py:38-39).

Spark surface: :func:`extract_structured` fans a pages table out to one
row per (url, page_no) with the same fields — the relational form of
``ExtractionResult.pages``; ``extracted_data`` rides as a JSON column.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame


@dataclass
class ExtractedPageData:
    """Mirror of the reference model (extraction.py:11-22)."""

    page_no: int  # 1-indexed
    extracted_data: Optional[dict] = None
    raw_text: Optional[str] = None
    errors: list = field(default_factory=list)


@dataclass
class ExtractionResult:
    """Mirror of the reference model (extraction.py:25-35), minus the
    pydantic InputDocument handle (url/filename stands in)."""

    source: str
    status: str = "pending"
    errors: list = field(default_factory=list)
    pages: list = field(default_factory=list)


# ---------------------------------------------------- template engine
def _coerce_int(s: str):
    return int(s.replace(",", "").strip())


def _coerce_float(s: str):
    return float(s.replace(",", "").strip())


def _coerce_bool(s: str):
    return s.strip().lower() in ("true", "yes", "y", "1", "paid")


def _coerce_date(s: str):
    """Normalize to ISO yyyy-mm-dd; raises (→ None field) on junk."""
    from datetime import date

    m = re.match(r"\s*(\d{4})-(\d{1,2})-(\d{1,2})\s*$", s)
    if not m:
        raise ValueError(f"not an ISO date: {s!r}")
    return date(int(m.group(1)), int(m.group(2)), int(m.group(3))).isoformat()


_COERCERS = {
    "str": lambda s: s.strip(),
    "int": _coerce_int,
    "float": _coerce_float,
    "bool": _coerce_bool,
    "date": _coerce_date,
}


def compile_template(template) -> list:
    """Deterministic analog of the reference's ExtractionTemplateType
    (extraction.py:38-39: str | dict | pydantic model): a dict of
    ``field -> spec`` where spec is ``{"pattern": regex, "type": name}``
    (first capture group, or the whole match) or a bare regex string
    (type str); the str form is the same dict as JSON. Field order is
    preserved into the output dict."""
    if isinstance(template, str):
        template = json.loads(template)
    compiled = []
    for name, spec in template.items():
        if isinstance(spec, str):
            pat, typ = spec, "str"
        else:
            pat, typ = spec["pattern"], str(spec.get("type", "str"))
        if typ not in _COERCERS:
            raise ValueError(f"unknown field type {typ!r} for {name!r}")
        compiled.append((name, re.compile(pat, re.S), typ))
    return compiled


def apply_template(compiled: list, raw_text: Optional[str]) -> Optional[dict]:
    """raw_text → {field: typed value | None}; None when there is no text.
    A pattern miss or a failed coercion yields None for THAT field — one
    malformed field never poisons the page."""
    if raw_text is None:
        return None
    out = {}
    for name, rx, typ in compiled:
        m = rx.search(raw_text)
        if m is None:
            out[name] = None
            continue
        s = m.group(1) if m.groups() else m.group(0)
        try:
            out[name] = _COERCERS[typ](s)
        except Exception:
            out[name] = None
    return out


def extract_document(
    blob: bytes,
    source: str = "stream",
    password: str = "",
    page_range: "tuple[int, int]" = (1, 2**31 - 1),
    max_num_pages: Optional[int] = None,
    template=None,
) -> ExtractionResult:
    """One document → per-page extraction result. Never raises.
    ``template``: see :func:`compile_template` (or a precompiled list);
    when given, each page's ``extracted_data`` is filled from its
    raw_text."""
    from .pdfx.extract import extract_pdf_text

    compiled = None
    if template is not None:
        compiled = (
            template
            if isinstance(template, list)
            else compile_template(template)
        )

    res = ExtractionResult(source=source)
    try:
        if blob[:5] == b"%PDF-":
            pr = extract_pdf_text(
                blob,
                password=password,
                page_range=page_range,
                max_num_pages=max_num_pages,
            )
            if pr.status in ("failure",):
                res.status = "failure"
                res.errors.append(pr.error or "extraction failed")
                return res
            res.status = (
                "success" if pr.status == "success" else "partial_success"
            )
            if pr.error:
                res.errors.append(pr.error)
            start = page_range[0]
            texts = pr.page_texts or []
            counts = pr.pages or []
            ti = 0
            for i, n_cells in enumerate(counts):
                page_no = start + i
                if n_cells == 0:
                    res.pages.append(
                        ExtractedPageData(
                            page_no=page_no,
                            raw_text=None,
                            errors=["page has no text cells (needs OCR)"],
                        )
                    )
                else:
                    res.pages.append(
                        ExtractedPageData(
                            page_no=page_no,
                            raw_text=texts[ti],
                            extracted_data=(
                                apply_template(compiled, texts[ti])
                                if compiled is not None
                                else None
                            ),
                        )
                    )
                    ti += 1
            return res
        # image inputs: reference routes these to the VLM extractor; the
        # deterministic engine reports the page with an explicit error
        res.status = "partial_success"
        res.pages.append(
            ExtractedPageData(
                page_no=1,
                errors=["image extraction requires a VLM (not in contract)"],
            )
        )
        return res
    except Exception as e:  # noqa: BLE001 — per-document containment
        res.status = "failure"
        res.errors.append(f"{type(e).__name__}: {e}"[:500])
        return res


EXTRACT_STRUCTURED_SCHEMA = (
    "url string, status string, page_no int, raw_text string, "
    "extracted_data string, errors array<string>"
)


def extract_structured(
    pages: DataFrame, password: str = "", template=None
) -> DataFrame:
    """pages(url, html binary, ...) → one row per (url, page_no), the
    relational ExtractionResult.pages. Vectorized mapInPandas fan-out —
    same batch shape as the conversion UDF, no per-row Python.

    ``template``: deterministic field spec (see :func:`compile_template`);
    per-page results ride in the ``extracted_data`` JSON column (field
    order = template order, so the column is byte-deterministic)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compiled = compile_template(template) if template is not None else None
        for b in batches:
            rows = []
            for url, blob in zip(b["url"], b["html"]):
                r = extract_document(
                    bytes(blob), source=url, password=password,
                    template=compiled,
                )
                if not r.pages:
                    rows.append((url, r.status, None, None, None, r.errors))
                for p in r.pages:
                    ed = (
                        json.dumps(p.extracted_data, separators=(",", ":"))
                        if p.extracted_data is not None
                        else None
                    )
                    rows.append(
                        (url, r.status, p.page_no, p.raw_text, ed, p.errors)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "status", "page_no", "raw_text",
                    "extracted_data", "errors",
                ],
            )

    return pages.select("url", "html").mapInPandas(
        run, schema=EXTRACT_STRUCTURED_SCHEMA
    )
