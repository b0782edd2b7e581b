"""The Spark extraction job: Common-Crawl pages → extracted structured text.

Spark trace (SURVEY.md §3.1): scan → content-type dispatch column →
latest-crawl dedup window → resume anti-join vs committed lineage →
salted repartition → mapInPandas(html_extract) ∪ mapInPandas(pdf_extract)
→ chunked atomic writes + per-chunk lineage/metrics rows.

Scale design notes
------------------
- All per-document work happens in **vectorized Arrow-batched UDFs**
  (``mapInPandas``), never per-row Python ``udf()`` (input_hint contract).
- **Dispatch** is a cheap JVM-side expression (magic bytes / regex on an
  8 KB prefix), so Catalyst prunes each branch's scan to its rows.
- **Skew**: rows are hash-repartitioned on ``xxhash64(url, salt)``;
  Arrow batches are kept small (``spark.sql.execution.arrow.maxRecordsPerBatch``)
  because rows carry multi-MB blobs.
- **Resume / exactly-once**: the input is deterministically split into
  ``num_chunks`` hash buckets; each chunk is one atomic parquet write
  (all-or-nothing via the Spark commit protocol) followed by a lineage
  append. A killed run reruns only chunks without lineage rows — no
  half-written chunk is ever visible. This is the Iceberg-snapshot
  pattern expressed with plain parquet (no Iceberg runtime in this
  sandbox); on a real cluster each chunk write maps to one Iceberg
  append snapshot.
"""

from __future__ import annotations

import importlib
import io
import re
import threading
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import cached_property, reduce
from operator import and_, or_
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .schema import EXTRACTED_SCHEMA, LINEAGE_SCHEMA

# ------------------------------------------------------------ format dispatch
# DISPATCH_RULES decides a blob's content type everywhere: with_content_type
# compiles it to the job's JVM CaseWhen, sniff_content_type evaluates it in
# Python for single files (CLI, web demo). Every content probe reads a
# BOUNDED window, never the full blob (the reference sniffs only the first
# 8 KB — document.py:513,527), so a marker buried at byte 50 M cannot flip
# the format: markers, regexes and the CSV sniff read the PREFIX_BYTES
# head; zip-member probes read a ZIP_PROBE_BYTES head (first local-file
# headers) plus the same-sized tail (the central directory, which names
# every member). Known limit: an EXTENSIONLESS archive whose identifying
# member is in neither window (a central directory of hundreds of members)
# routes to 'other' — real OOXML/OFD writers put the document part first
# and crawl rows carry extensions.
PREFIX_BYTES = 8192
ZIP_PROBE_BYTES = 65536
MAGIC_BYTES = 12  # every magic atom lies inside this head

# url extension, lower-cased (Python compiles it with re.ASCII; Java's '.'
# and '$' also stop at \r and Unicode line breaks, which urls never carry)
_EXT_RE = r"\.([A-Za-z0-9]+)(?:[?#].*)?$"

# HTML sniff pattern re-derived from the reference's _detect_html_xhtml
# (/root/reference/docling/datamodel/document.py:620-657): optional leading
# comments/script, then doctype/html/head/body markers.
_HTML_SNIFF_RE = (
    r"(?is)^\s*(<!--.*?-->\s*)*(<script.*?>.*?</script>\s*)?"
    r"(<!doctype\s+html|<html|<head|<body)"
)

# First match wins; one row per CASE branch. A row is
# (content_type, *alternatives): alternatives are ORed, and each is one
# atom or a tuple of atoms that must all hold. Atoms:
#   ("magic", sig[, offset])  bytes at an offset of the blob
#   ("ext", *names)           url extension
#   ("marker", needle)        bytes inside the PREFIX_BYTES head
#   ("zip", member)           "PK" magic and a member name in a zip window
#   ("regex", pattern)        Java-compatible regex on the decoded head
#   ("csv",)                  the CSV sniff (_csv_sniff)
# The order mirrors the reference _guess_format (document.py:488-554):
# content magic first, then url extension, then content sniffing.
DISPATCH_RULES = (
    ("pdf", ("magic", b"%PDF-")),
    ("html", ("ext", "html", "htm", "xhtml")),
    ("pdf", ("ext", "pdf")),
    ("csv", ("ext", "csv")),
    ("vtt", ("magic", b"WEBVTT")),
    ("vtt", ("ext", "vtt")),
    ("md", ("ext", "md", "markdown")),
    ("asciidoc", ("ext", "adoc", "asciidoc", "asc")),
    ("jats", ("marker", b"JATS-journalpublishing"),
     ("marker", b"JATS-archive"), ("ext", "nxml")),
    ("uspto", ("magic", b"PATN"), ("marker", b"us-patent-application-v4"),
     ("marker", b"us-patent-grant-v4"), ("marker", b"us-grant-025"),
     ("marker", b"US-Grant-025"),
     (("marker", b"patent-application-publication"), ("marker", b"pap-v1"))),
    ("ofd", ("ext", "ofd")),
    ("ofd", ("zip", b"OFD.xml")),
    ("docx", ("ext", "docx")),
    ("xlsx", ("ext", "xlsx", "xlsm")),
    ("pptx", ("ext", "pptx", "pptm", "potx")),
    ("docx", ("zip", b"word/document.xml")),
    ("xlsx", ("zip", b"xl/workbook.xml")),
    ("pptx", ("zip", b"ppt/presentation.xml")),
    # gzip → mets_gbs candidate: the backend inspects the tar and skips
    # non-METS archives (reference _guess_format, document.py:688-707)
    ("mets_gbs", ("magic", b"\x1f\x8b")),
    # images get an explicit needs_ocr status (reference image_backend)
    ("image", ("magic", b"\x89PNG")),
    ("image", ("magic", b"\xff\xd8\xff")),
    ("image", ("magic", b"GIF8")),
    ("image", ("magic", b"II*\x00")),
    ("image", ("magic", b"MM\x00*")),
    ("image", ("magic", b"BM")),
    ("image", (("magic", b"RIFF"), ("magic", b"WEBP", 8))),
    ("image", ("ext", "png", "jpg", "jpeg", "gif", "tif", "tiff", "bmp", "webp")),
    # audio needs ASR (reference NoOpBackend; NN, out of contract)
    ("audio", (("magic", b"RIFF"), ("magic", b"WAVE", 8))),
    ("audio", ("magic", b"ID3")),
    ("audio", ("ext", "wav", "mp3", "m4a", "flac", "ogg")),
    ("docling_json",
     ("regex", r'(?s)^\s*\{\s*"schema_name"\s*:\s*"DoclingDocument"')),
    ("doctags", ("regex", r"(?s)^\s*<doctag>")),
    ("html", ("regex", _HTML_SNIFF_RE)),
    ("csv", ("csv",)),
)
CONTENT_TYPES = tuple(dict.fromkeys(rule[0] for rule in DISPATCH_RULES))


def _alternatives(rule) -> list[tuple]:
    return [alt if isinstance(alt[0], tuple) else (alt,) for alt in rule[1:]]


def _jvm_atom(atom):
    kind, *args = atom
    if kind == "magic":
        sig, at = (*args, 0)[:2]
        assert at + len(sig) <= MAGIC_BYTES, atom
        return F.substring(F.col("_magic"), at + 1, len(sig)) == F.lit(sig)
    if kind == "ext":
        return F.col("_ext").isin(*args)
    if kind == "marker":
        return F.contains(F.col("_head_bin"), F.lit(args[0]))
    if kind == "zip":
        html = F.col("html")
        tail_at = F.greatest(F.length(html) - F.lit(ZIP_PROBE_BYTES - 1), F.lit(1))
        return _jvm_atom(("magic", b"PK")) & (
            F.contains(F.substring(html, 1, ZIP_PROBE_BYTES), F.lit(args[0]))
            | F.contains(
                F.substring(html, tail_at, F.lit(ZIP_PROBE_BYTES)), F.lit(args[0])
            )
        )
    if kind == "regex":
        return F.col("_head").rlike(args[0])
    return _csv_sniff(F.col("_head"))


# (py4j gateway, probe columns, CaseWhen) — see _dispatch_columns
_dispatch_memo: tuple = (None, None, None)
_dispatch_lock = threading.Lock()


def _dispatch_columns() -> tuple[dict, object]:
    """The probe columns and DISPATCH_RULES compiled to one CaseWhen, built
    once per py4j gateway. Compiling the table is hundreds of py4j calls
    (0.4–0.6 s); the Columns are unresolved expressions bound by column
    name, so every frame can reuse them. The lock makes concurrent chunk
    threads build them once."""
    global _dispatch_memo
    from pyspark import SparkContext

    with _dispatch_lock:
        if _dispatch_memo[0] is not SparkContext._gateway:
            # Probe inputs are materialized ONCE in a preceding projection:
            # CaseWhen branches get no cross-branch subexpression
            # elimination, so inline probes would re-slice the blob (and
            # re-run the extension regex) on every branch a fall-through row
            # reaches. The cast is lenient (invalid UTF-8 → replacement
            # chars; F.decode would raise on binary crawl blobs). The zip
            # windows stay INSIDE the chain: only rows starting with "PK"
            # reach them (short-circuit &&).
            head_bin = F.substring(F.col("html"), 1, PREFIX_BYTES)
            probes = {
                "_magic": F.substring(F.col("html"), 1, MAGIC_BYTES),
                "_head_bin": head_bin,
                "_head": head_bin.cast("string"),
                "_ext": F.lower(F.regexp_extract(F.col("url"), _EXT_RE, 1)),
            }
            case = F  # F.when opens the CaseWhen, Column.when extends it
            for rule in DISPATCH_RULES:
                alts = (reduce(and_, map(_jvm_atom, a)) for a in _alternatives(rule))
                case = case.when(reduce(or_, alts), rule[0])
            _dispatch_memo = (SparkContext._gateway, probes, case.otherwise("other"))
        return _dispatch_memo[1:]


def with_content_type(df: DataFrame) -> DataFrame:
    """Add the dispatch column: DISPATCH_RULES compiled to one CaseWhen.
    Pure JVM expressions — no Python."""
    probes, case = _dispatch_columns()
    return df.withColumns(probes).withColumn("content_type", case).drop(*probes)


def _csv_sniff(head):
    """Content-level CSV detection on the bounded head window — the JVM
    analog of the reference's _detect_csv (csv.Sniffer over the first 8 KB,
    document.py:659-686): an extensionless blob is CSV when one of the
    common delimiters {, ; TAB |} appears a CONSISTENT number of times
    (>=1) on each of the first complete lines (>=2 lines required)."""
    lines_all = F.split(head, r"\r\n|\r|\n")
    # the head window may have truncated the blob mid-line: drop the final
    # (possibly partial) line in that case so counts are never skewed
    n_complete = F.when(
        F.length(F.col("html")) > PREFIX_BYTES, F.size(lines_all) - 1
    ).otherwise(F.size(lines_all))
    nonempty = F.filter(
        F.slice(lines_all, F.lit(1), n_complete),
        lambda l: F.length(l) > 0,
    )
    sample = F.slice(nonempty, 1, 5)

    def consistent(delim_regex: str):
        counts = F.transform(
            sample, lambda l: F.size(F.split(l, delim_regex, -1)) - 1
        )
        return (
            (F.size(sample) >= 2)
            & (F.size(F.array_distinct(counts)) == 1)
            & (F.element_at(counts, 1) >= 1)
        )

    return reduce(or_, map(consistent, (",", ";", "\t", r"\|")))


def _py_atom(atom, raw: bytes, ext: str, head: str) -> bool:
    """_jvm_atom's twin. Regexes run with re.ASCII because Java's \\s and
    (?i) are ASCII-only."""
    kind, *args = atom
    if kind == "magic":
        sig, at = (*args, 0)[:2]
        return raw[at:at + len(sig)] == sig
    if kind == "ext":
        return ext in args
    if kind == "marker":
        return args[0] in raw[:PREFIX_BYTES]
    if kind == "zip":
        return raw[:2] == b"PK" and (
            args[0] in raw[:ZIP_PROBE_BYTES] or args[0] in raw[-ZIP_PROBE_BYTES:]
        )
    if kind == "regex":
        return re.search(args[0], head, re.ASCII) is not None
    lines = re.split(r"\r\n|\r|\n", head)
    if len(raw) > PREFIX_BYTES:
        lines = lines[:-1]
    sample = [line for line in lines if line][:5]
    return len(sample) >= 2 and any(
        len({line.count(d) for line in sample}) == 1 and sample[0].count(d) >= 1
        for d in ",;\t|"
    )


def sniff_content_type(name: Optional[str], raw: Optional[bytes]) -> str:
    """with_content_type for one file: the same DISPATCH_RULES over the
    same windows, so a file gets the type its row gets in the job
    (``name`` plays the row's url)."""
    raw = bytes(raw or b"")
    m = re.search(_EXT_RE, name or "", re.ASCII)
    ext = m.group(1).lower() if m else ""
    head = raw[:PREFIX_BYTES].decode("utf-8", "replace")
    for rule in DISPATCH_RULES:
        if any(
            all(_py_atom(a, raw, ext, head) for a in alt)
            for alt in _alternatives(rule)
        ):
            return rule[0]
    return "other"


def dedup_latest_crawl(df: DataFrame) -> DataFrame:
    """Latest snapshot per url (row_number over warc_ts desc)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ------------------------------------------------------------------ UDF core
def _doc_to_spans(doc, offsets: "dict | None" = None) -> list[dict]:
    spans = []
    offsets = offsets or {}
    for it in doc.items:
        f = it.formatting
        cs = offsets.get(it.idx)
        spans.append(
            {
                "idx": it.idx,
                "parent": it.parent,
                "kind": it.kind,
                "label": it.label,
                "name": it.name or None,
                "text": it.text or None,
                "level": it.level,
                "marker": it.marker or None,
                "enumerated": it.enumerated,
                "bold": f.bold if f else None,
                "italic": f.italic if f else None,
                "underline": f.underline if f else None,
                "strikethrough": f.strikethrough if f else None,
                "script": f.script if f else None,
                "hyperlink": it.hyperlink,
                "content_layer": it.content_layer,
                "num_rows": it.num_rows if it.kind == "table" else None,
                "num_cols": it.num_cols if it.kind == "table" else None,
                "char_start": cs[0] if cs else None,
                "char_end": cs[1] if cs else None,
            }
        )
    return spans


# Conversion table: content type -> (module, backend, mimetype, itxt width,
# md kwargs) for every type with a SpanDoc backend. The backend is stored by
# NAME and resolved on each call: imports stay lazy (worker start-up pays
# only for the types it meets) and wrappers installed by attribute see every
# call. Mimetype None is the serializer default (text/html); itxt width None
# is untruncated.
_OOXML = "application/vnd.openxmlformats-officedocument."
CONVERSIONS = {
    "html": (".htmlx.extract", "HtmlExtractor", None, 70, {}),
    # reference vtt goldens are exported with escape_html=False
    # (tests/test_backend_vtt.py:220)
    "vtt": (".vttx", "extract_vtt", "text/vtt", 70, {"escape_html": False}),
    "docling_json": (".jsonx", "parse_docling_json", "application/json", 70, {}),
    "docx": (".docxx", "extract_docx", _OOXML + "wordprocessingml.document", 70, {}),
    "xlsx": (".xlsxx", "extract_xlsx", _OOXML + "spreadsheetml.sheet", 70, {}),
    "pptx": (".pptxx", "extract_pptx", "application/vnd.ms-powerpoint", 70, {}),
    # USPTO keeps untruncated itxt (reference pftaps/grant goldens)
    "uspto": (".usptox", "extract_uspto", "application/xml", None, {}),
    "jats": (".jatsx", "extract_jats", "application/xml", 70, {}),
    "asciidoc": (".asciidocx", "extract_asciidoc", "text/asciidoc", 70, {}),
    "md": (".mdx", "extract_markdown", "text/markdown", 70, {}),
    "csv": (".csvx", "extract_csv", "text/csv", 70, {}),
    # VLM-interchange format (docling-core DocTagsDocument role);
    # round-trip-exact inverse of serialize_doctags.to_doctags
    "doctags": (".doctagsx", "parse_doctags", "text/plain", 70, {}),
    # reference OFD origin mimetype is application/zip (ofd_backend.py:581)
    "ofd": (".ofdx", "extract_ofd", "application/zip", 70, {}),
}

# Types whose backend returns a result object (text, spans, optional
# SpanDoc), and types with no text backend, which get a fixed row.
RESULT_TYPES = ("pdf", "mets_gbs")
NO_TEXT = {
    # reference NoOpBackend → ASR pipeline (whisper NN, out of contract)
    "audio": ("skipped", "audio input requires ASR (not in contract)"),
    # reference ImageDocumentBackend → 1-page doc with zero text cells → OCR
    # (NN, out of contract; image_backend.py:121-190): the row gets the
    # needs_ocr status a 0-cell PDF page gets
    "image": ("needs_ocr", "image input requires OCR (not in contract)"),
}
DOC_TIMEOUT_S = 60.0  # per-document deadline (enforced in the PDF page loop)


def _doc_backend(content_type: str, blob: bytes, url: str, base_uri_mode: str):
    """Route one blob to its SpanDoc backend through :data:`CONVERSIONS`:
    ``(doc, filename, mimetype, itxt_width, md_kwargs)``, or ``None`` for a
    type without one. The doc is named after the url's file stem, except
    that Docling JSON keeps its own name and USPTO the full filename."""
    if content_type not in CONVERSIONS:
        return None
    module, func, mimetype, itxt_width, md_kwargs = CONVERSIONS[content_type]
    backend = getattr(importlib.import_module(module, __package__), func)
    filename = url.rstrip("/").rsplit("/", 1)[-1] or "file"
    stem = filename.rsplit(".", 1)[0] or "file"
    if content_type == "html":
        base = url if base_uri_mode == "url" else "None"
        doc = backend(base_uri=base).convert(blob)
        doc.name = stem
    elif content_type == "docling_json":
        doc = backend(blob)
    elif content_type == "uspto":
        doc = backend(blob, name=filename)
        if blob.startswith(b"PATN"):
            mimetype = "text/plain"
    else:
        doc = backend(blob, name=stem)
    return doc, filename, mimetype, itxt_width, md_kwargs


def _png_picture(raw: bytes) -> dict:
    """Spans of the reference's 1-page image doc for a PNG (the one codec
    here, ops/png.py): one picture item sized to the decoded image, the
    structure the reference builds before OCR. Undecodable: no spans."""
    try:
        from .model import SpanDoc
        from .ops.png import decode_png, is_png

        if not is_png(raw):
            return {}
        w, h, _c, _payload = decode_png(raw)
        doc = SpanDoc("image")
        pic = doc.add_picture()
        pic.prov = (1, 0.0, 0.0, float(w), float(h))
        doc.pages[1] = (float(w), float(h))
        return {"spans": _doc_to_spans(doc), "n_items": len(doc.items)}
    except Exception:
        return {}


def _extract_one(url: str, blob: Optional[bytes], content_type: str,
                 base_uri_mode: str, doc_timeout_s: float,
                 with_doc_json: bool = False,
                 with_doctags: bool = False,
                 with_structure: bool = True,
                 pdf_password: str = "") -> dict:
    """One document through its backend; never raises (SURVEY §2.5:
    one bad doc must not kill a task)."""
    t0 = time.perf_counter()
    out = dict.fromkeys(
        ("status", "error", "extracted_text", "itxt", "spans", "n_items",
         "n_chars", "doc_json", "doctags")
    )
    try:
        doc = None  # the SpanDoc this row's doctags are built from
        raw = bytes(blob or b"")
        if not raw:
            out.update(status="skipped", error="empty document")
        elif content_type in RESULT_TYPES:
            if content_type == "pdf":
                from .pdfx.extract import extract_pdf_text

                deadline = time.monotonic() + doc_timeout_s if doc_timeout_s else None
                # structural labeling (pdfx/structure.py) is demand-gated:
                # text-only paths skip grid detection and heading ranking.
                # The SpanDoc gives located DocTags: its loc tokens quantize
                # REAL page geometry (block bboxes)
                res = extract_pdf_text(
                    raw,
                    deadline=deadline,
                    with_structure=with_structure or with_doctags,
                    password=pdf_password,
                    with_span_doc=with_doctags,
                )
                text = res.text  # a needs_ocr PDF keeps its "" text
            else:
                from .metsx import extract_mets_gbs

                res = extract_mets_gbs(raw, with_span_doc=with_doctags)
                text = res.text or None
            doc = res.span_doc
            out.update(
                status=res.status,
                extracted_text=text,
                error=res.error,
                spans=res.spans,
                n_items=len(res.spans) if res.spans else None,
                n_chars=len(res.text) if res.text else None,
            )
        elif content_type in NO_TEXT:
            status, error = NO_TEXT[content_type]
            out.update(status=status, error=error)
            if content_type == "image":
                out.update(_png_picture(raw))
        else:
            routed = _doc_backend(content_type, raw, url, base_uri_mode)
            if routed is None:
                out.update(status="skipped", error="unsupported content_type")
            else:
                from .serialize import to_itxt, to_markdown_with_spans

                doc, filename, mimetype, itxt_width, md_kwargs = routed
                # byte-identical to to_markdown (golden-pinned) + per-item
                # char offsets for the spans column
                md, offsets = to_markdown_with_spans(doc, **md_kwargs)
                if with_doc_json:
                    from .serialize_json import to_docling_json

                    kw = {} if mimetype is None else {"mimetype": mimetype}
                    out["doc_json"] = to_docling_json(doc, filename, raw, **kw)
                out.update(
                    status="success",
                    extracted_text=md,
                    itxt=to_itxt(doc, itxt_width),
                    spans=_doc_to_spans(doc, offsets),
                    n_items=len(doc.items),
                    n_chars=len(md),
                )
        if with_doctags and doc is not None:
            from .serialize_doctags import to_doctags

            out["doctags"] = to_doctags(doc)
    except Exception as e:  # noqa: BLE001 — containment by design
        # a failure row carries nothing a step before the raise produced
        out = dict.fromkeys(out)
        out.update(status="failure", error=f"{type(e).__name__}: {e}"[:1000])
    out["proc_ms"] = (time.perf_counter() - t0) * 1e3
    return out


def extract_pages(
    pages: DataFrame,
    base_uri_mode: str = "none",
    max_bytes: int = 64 * 1024 * 1024,
    shuffle_partitions: Optional[int] = None,
    salt: int = 0,
    with_doc_json: bool = False,
    with_doctags: bool = False,
    with_structure: bool = True,
    pdf_password: str = "",
) -> DataFrame:
    """Logical plan for one extraction pass (no side effects).

    ``base_uri_mode``: "url" resolves relative hrefs against the row's url;
    "none" mirrors the reference's golden-generation default
    (source_uri=None). ``with_doc_json`` adds the full DoclingDocument JSON
    per row (the reference's save format) — off by default since it roughly
    doubles output bytes. ``with_doctags`` adds the DocTags serialization
    (reference OutputFormat.DOCTAGS). ``with_structure`` gates the PDF
    structural labeler (off = text-only fast path).

    ``shuffle_partitions``: explicit salted-repartition width (north rule:
    defuse skew from giant HTML blobs). ``None``/0 = trust the upstream
    partitioning — at real scale the scan already has thousands of file
    splits, so reshuffling multi-MB blobs here would be a gratuitous full
    shuffle; small local inputs should widen UPSTREAM of blob synthesis
    (see ops/corpus.synth_pages) or pass an explicit width. The runner
    computes the width once per run, not once per chunk.
    """
    # with_content_type plus doc_hash and the oversize override in two
    # projections: each DataFrame step is an eager JVM analysis, and the
    # optimized plan is the same as with one step per column
    probes, case = _dispatch_columns()
    oversize = F.length(F.col("html")) > F.lit(max_bytes)
    df = pages.withColumns(probes).withColumns(
        {
            "content_type": F.when(oversize, F.lit("oversize")).otherwise(case),
            "doc_hash": F.sha2(F.col("html"), 256),
        }
    )
    if shuffle_partitions:
        df = _route_skew(df, shuffle_partitions, salt)

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_in in batches:
            yield pd.DataFrame([
                {
                    "url": r.url,
                    "warc_ts": r.warc_ts,
                    "lang": r.lang,
                    "doc_hash": r.doc_hash,
                    "content_type": r.content_type,
                    **_extract_one(
                        r.url, r.html, r.content_type, base_uri_mode,
                        DOC_TIMEOUT_S,
                        with_doc_json=with_doc_json,
                        with_doctags=with_doctags,
                        with_structure=with_structure,
                        pdf_password=pdf_password,
                    ),
                }
                for r in pdf_in.itertuples(index=False)
            ])

    cols = ["url", "warc_ts", "lang", "doc_hash", "content_type", "html"]
    return df.select(*cols).mapInPandas(extract_batches, schema=EXTRACTED_SCHEMA)


# Blobs above this go to the dedicated big-row lane (SURVEY §4: length
# bucketing). A doc is an atomic unit of extraction work, so a 50 MB blob
# is an irreducible multi-second task — the defense is ISOLATION: it must
# never queue a pile of small docs behind it in the same task.
BIG_BLOB_BYTES = 4 * 1024 * 1024


def _route_skew(df: DataFrame, shuffle_partitions: int, salt: int) -> DataFrame:
    """Skew-defused repartition: small rows hash-spread across
    ``shuffle_partitions``; giant blobs (> ``BIG_BLOB_BYTES``) ride a separate
    lane partitioned on their own url hash, so no partition mixes a giant
    doc with a fair share of small ones — the stage wall becomes
    max(small-lane wall, slowest giant) instead of their sum. Exactly-once
    and ordering are unaffected (union of two disjoint filters)."""
    big = F.length(F.col("html")) > F.lit(BIG_BLOB_BYTES)
    small_lane = df.filter(~big).repartition(
        shuffle_partitions, F.xxhash64(F.col("url"), F.lit(salt))
    )
    big_lane = df.filter(big).repartition(
        shuffle_partitions, F.xxhash64(F.col("url"), F.lit(salt + 1))
    )
    return small_lane.unionByName(big_lane)


# -------------------------------------------------------------- runner w/ resume
@dataclass
class RunConfig:
    run_id: str
    output_path: str
    num_chunks: int = 8
    base_uri_mode: str = "none"
    max_bytes: int = 64 * 1024 * 1024
    shuffle_partitions: Optional[int] = None
    dedup_latest: bool = True
    pdf_password: str = ""  # standard-security-handler password (pdfx/crypt)
    # concurrent chunk jobs (driver-side thread pool + FAIR scheduler pool):
    # >1 keeps the cluster busy through each chunk's job tail while
    # preserving the per-chunk atomic commit + lineage append. 1 runs the
    # chunks one at a time.
    max_concurrent_chunks: int = 4


# Every status _extract_one writes. A chunk's lineage row counts each one
# from an Observation on the chunk's write, so a new status must be added
# here.
STATUSES = ("success", "partial_success", "failure", "skipped", "needs_ocr")


class ExtractionRunner:
    """Chunked, resumable execution of ``extract_pages``.

    Layout:
        {output}/data/run_id={run}/chunk_id={k}/*.parquet   (atomic per chunk)
        {output}/lineage/*.parquet                           (append-only)

    A chunk is one Spark job, its parquet write: the lineage metrics are
    observed on that write, and the driver writes the lineage row itself.
    """

    def __init__(self, spark: SparkSession, cfg: RunConfig):
        self.spark = spark
        self.cfg = cfg

    # -- lineage ------------------------------------------------------------
    def _lineage_path(self) -> str:
        return f"{self.cfg.output_path}/lineage"

    @cached_property
    def _lineage_dir(self):
        """The lineage directory's FileSystem (the store Spark writes to:
        local, HDFS, s3a, ...), its Hadoop Path and the Path class, looked
        up once per runner: every py4j lookup is a round trip."""
        sc = self.spark.sparkContext
        path_cls = sc._jvm.org.apache.hadoop.fs.Path
        path = path_cls(self._lineage_path())
        return path.getFileSystem(sc._jsc.hadoopConfiguration()), path, path_cls

    def committed_chunks(self) -> set[int]:
        """Chunk ids with a lineage row for this run. Only a missing lineage
        directory means none: any other read error propagates, because a
        corrupt lineage read as empty would re-extract every chunk and
        append a second lineage row for each."""
        fs, lineage, _ = self._lineage_dir
        if not fs.exists(lineage):
            return set()
        rows = (
            self.spark.read.schema(LINEAGE_SCHEMA)
            .parquet(self._lineage_path())
            .filter(F.col("run_id") == self.cfg.run_id)
            .select("chunk_id")
            .collect()
        )
        return {r.chunk_id for r in rows}

    def _append_lineage(self, row: dict) -> None:
        """Append one lineage row without a Spark job: pyarrow encodes it in
        memory, the Hadoop FileSystem creates it under a '.'-prefixed name
        (which Spark's readers skip) and renames it into place."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        buf = io.BytesIO()
        table = pa.Table.from_pylist([row], schema=to_arrow_schema(LINEAGE_SCHEMA))
        pq.write_table(table, buf)
        fs, lineage, Path = self._lineage_dir
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = Path(lineage, f".{name}.tmp")
        stream = fs.create(tmp, False)
        try:
            stream.write(buf.getvalue())
        finally:
            stream.close()
        if not fs.rename(tmp, Path(lineage, name)):
            raise IOError(f"could not rename {tmp} to {name} in {lineage}")

    # -- execution ------------------------------------------------------------
    def _run_chunk(self, pages: DataFrame, k: int, shuffle_partitions) -> dict:
        """One chunk job: extract → atomic parquet write, with the metrics
        row observed on the write. Runs on a driver pool thread; Spark
        local properties are thread-local, so each chunk lands in the FAIR
        pool "chunks"."""
        cfg = self.cfg
        t0 = time.perf_counter()
        try:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "chunks"
            )
        except Exception:
            pass
        chunk = pages.filter(F.col("_chunk") == k).drop("_chunk")
        out = extract_pages(
            chunk,
            base_uri_mode=cfg.base_uri_mode,
            max_bytes=cfg.max_bytes,
            shuffle_partitions=shuffle_partitions,
            salt=k,
            pdf_password=cfg.pdf_password,
        )
        metrics = Observation(f"chunk-{cfg.run_id}-{k}")
        out = out.observe(
            metrics,
            F.count("*").alias("url_count"),
            F.sum(F.coalesce(F.octet_length("extracted_text"), F.lit(0))).alias(
                "byte_count"
            ),
            *(F.count_if(F.col("status") == s).alias(s) for s in STATUSES),
        )
        path = f"{cfg.output_path}/data/run_id={cfg.run_id}/chunk_id={k}"
        out.write.mode("overwrite").parquet(path)
        m = metrics.get
        url_count = int(m["url_count"])
        wall = time.perf_counter() - t0
        return {
            "run_id": cfg.run_id,
            "chunk_id": k,
            "num_chunks": cfg.num_chunks,
            "url_count": url_count,
            "byte_count": int(m["byte_count"] or 0),
            "status_counts": {s: int(m[s]) for s in STATUSES if m[s]},
            "wall_sec": wall,
            "docs_per_sec": url_count / wall if wall > 0 else 0.0,
            "committed_at": datetime.now(timezone.utc),
        }

    def run(self, pages: DataFrame) -> dict:
        cfg = self.cfg
        done = self.committed_chunks()
        stats = {"chunks_total": cfg.num_chunks, "chunks_skipped": len(done)}
        pending = [k for k in range(cfg.num_chunks) if k not in done]
        if not pending:
            return stats
        if cfg.dedup_latest:
            pages = dedup_latest_crawl(pages)
        pages = pages.withColumn(
            "_chunk", F.pmod(F.xxhash64("url"), F.lit(cfg.num_chunks))
        )
        # decide the repartition width ONCE per run: widen small local
        # inputs to the session parallelism; at real scale the scan has
        # many file splits and no blob shuffle happens. inputFiles() is the
        # probe — a driver-side file listing, unlike df.rdd which builds a
        # whole RDD lineage (~100 ms per call)
        shuffle_partitions = cfg.shuffle_partitions
        if shuffle_partitions is None:
            try:
                default_par = self.spark.sparkContext.defaultParallelism
                if len(pages.inputFiles()) < default_par:
                    shuffle_partitions = default_par
            except Exception:
                shuffle_partitions = None
        # bounded driver pool (one worker = a serial run): chunk k's job tail
        # overlaps chunk k+1's ramp. An append follows its chunk's atomic
        # write, under a lock, so a kill leaves exactly the committed chunks.
        # After a failure no chunk starts; running ones finish and append.
        # A flag, not Future.cancel: a worker that just failed would take the
        # next queued chunk before the driver could cancel it.
        from concurrent.futures import ThreadPoolExecutor

        lineage_lock = threading.Lock()
        failed = threading.Event()

        def submit(k: int) -> None:
            if failed.is_set():
                return
            try:
                row = self._run_chunk(pages, k, shuffle_partitions)
                with lineage_lock:
                    self._append_lineage(row)
            except BaseException:
                failed.set()
                raise

        workers = max(1, min(int(cfg.max_concurrent_chunks), len(pending)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(submit, k) for k in pending]
        for f in futures:
            f.result()  # re-raise the first failure in chunk order
        return stats

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(
            f"{self.cfg.output_path}/data/run_id={self.cfg.run_id}"
        )


def tuned_session(
    master: str = "local[*]",
    shuffle_partitions: int = 32,
    arrow_batch: int = 128,
    app: str = "docling-spark",
) -> SparkSession:
    """Session defaults sized for blob-heavy rows (SURVEY §4: keep Arrow
    batches small, AQE on)."""
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.driver.memory", "8g")  # local mode: the driver JVM IS
        # the executor; the 1g default GC-thrashes on blob-heavy shuffles
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")  # concurrent chunk jobs
        # share executors fairly across concurrent chunk jobs
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # JVM↔Python worker transport over unix domain sockets (Spark 4):
        # shaves the per-task handshake on every Arrow UDF round trip
        .config("spark.python.unix.domain.socket.enabled", "true")
        .getOrCreate()
    )
