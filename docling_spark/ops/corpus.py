"""Deterministic Common-Crawl-shaped corpus synthesis.

Builds the ``(url, warc_ts, html, text, lang)`` pages table (BASELINE.json
``input_hint``) from the driver-provided ``documents`` parquet. The row law
lives in three helpers: ``read_docs`` (the scan and its one-partition-per-core
widening), ``_jvm_pages`` (text formats, built with JVM-side expressions so
synthesis never bottlenecks the bench) and ``_blob_pages`` (binary formats,
one Arrow-batched mapInPandas builder). The HTML template is simple enough
that the expected extraction output is expressible in ANSI SQL (giving the
whole UDF path a DuckDB value oracle) yet exercises headings, paragraphs,
lists and tables.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


# ------------------------------------------------------------ the row law
def read_docs(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """documents.parquet, projected to ``cols`` when given, widened to one
    partition per core when the scan has fewer files than cores.

    Widening happens on the small source rows, BEFORE any blob build or
    explode: the shuffle moves only those rows, and every downstream stage
    inherits the parallel partitioning (extract_pages' auto repartition then
    skips its blob shuffle). Width = exactly one partition per core (NOT
    par*4): every extra Python-stage wave pays a measured ~150 ms fixed
    mapInPandas round-trip latency per task, and the synthetic corpus is
    uniform so over-decomposition buys no balance (at 100 TB the scan's file
    splits set the width and each task amortizes the fixed cost over
    100+ MB anyway)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if cols:
        docs = docs.select(*cols)
    par = spark.sparkContext.defaultParallelism
    if len(docs.inputFiles()) < par:  # cheap file-count proxy (no RDD build)
        docs = docs.repartition(par, F.col("doc_id"))
    return docs


def _did() -> Column:
    return F.col("doc_id").cast("string")


def _id2() -> Column:
    """The two-digit table key ``doc_id % 100`` (k07 / v07)."""
    return F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")


def _word(k: int) -> Column:
    return F.split_part(F.col("text"), F.lit(" "), F.lit(k))


def _doc_url(*tail: Column | str) -> Column:
    """``https://synth.test/doc/{doc_id}`` followed by ``tail``."""
    return F.concat(
        F.lit("https://synth.test/doc/"), _did(),
        *(F.lit(t) if isinstance(t, str) else t for t in tail),
    )


def _jvm_pages(docs: DataFrame, url: Column, body: Column) -> DataFrame:
    """The pages row from a url and a string body, built in the JVM:
    ``warc_ts`` = 2024-01-01 + doc_id seconds, ``html`` = UTF-8 body."""
    return docs.select(
        url.alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.encode(body, "UTF-8").alias("html"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
    )


def _blob_pages(
    spark: SparkSession, sf_dir: str, url: str, build: Callable[[int, str], bytes]
) -> DataFrame:
    """The pages row with a Python-built blob ``build(doc_id, text)`` and
    the url ``url.format(doc_id)``; same law as ``_jvm_pages``.

    Blob assembly is bytes-in-Python, so it runs as a vectorized Arrow batch
    (mapInPandas) — never per-row ``udf()``."""
    import pandas as pd

    def gen(batches):
        for b in batches:
            yield pd.DataFrame(
                {
                    "url": [url.format(i) for i in b["doc_id"]],
                    "warc_ts": pd.Timestamp("2024-01-01")
                    + pd.to_timedelta(b["doc_id"], unit="s"),
                    "html": [
                        build(int(i), t)
                        for i, t in zip(b["doc_id"], b["text"])
                    ],
                    "text": b["text"],
                    "lang": b["lang"],
                }
            )

    return read_docs(spark, sf_dir, "doc_id", "text", "lang").mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def synth_pages(
    spark: SparkSession, sf_dir: str, variants: int = 1
) -> DataFrame:
    """documents.parquet → deterministic pages table (xN url variants)."""
    # the variant explode runs after the widening shuffle: upstream of it,
    # variant fan-out would serialize in one task
    docs = read_docs(spark, sf_dir)
    if variants > 1:
        docs = docs.withColumn(
            "_v", F.explode(F.sequence(F.lit(0), F.lit(variants - 1)))
        )
    else:
        docs = docs.withColumn("_v", F.lit(0))

    html_str = F.concat(
        F.lit("<html><head><title>Doc "), _did(),
        F.lit("</title></head><body>\n<h1>Document "), _did(),
        F.lit("</h1>\n<p>"), F.col("text"),
        F.lit("</p>\n<ul><li>"), _word(1),
        F.lit("</li><li>"), _word(2),
        F.lit("</li><li>"), _word(3),
        F.lit("</li></ul>\n<table><tr><th>K</th><th>V</th></tr><tr><td>k"),
        _id2(),
        F.lit("</td><td>v"), _id2(),
        F.lit("</td></tr></table>\n</body></html>"),
    )
    variant = F.when(
        F.col("_v") > 0, F.concat(F.lit("-v"), F.col("_v").cast("string"))
    ).otherwise(F.lit(""))
    return _jvm_pages(docs, _doc_url(variant, ".html"), html_str)


# ----------------------------------------------------------- synthetic PDFs
def _pdf_esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _wrap60(words: list[str]) -> list[str]:
    """Greedy line wrap at 60 chars (the synth PDF / OFD body paragraph)."""
    lines: list[str] = []
    cur: list[str] = []
    for w in words:
        if cur and len(" ".join(cur + [w])) > 60:
            lines.append(" ".join(cur))
            cur = [w]
        else:
            cur.append(w)
    if cur:
        lines.append(" ".join(cur))
    return lines


def _pdf_file(ops: list[str], images: Sequence[bytes] = ()) -> bytes:
    """One-page Helvetica PDF with content stream ``ops`` and a classic
    xref; image XObject k is object 6 + k, named /Im{k}."""
    content = "\n".join(ops).encode("ascii")
    refs = b" ".join(b"/Im%d %d 0 R" % (k, 6 + k) for k in range(len(images)))
    xres = b" /XObject << " + refs + b" >>" if images else b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >>" + xres
        + b" >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        *images,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def synth_pdf_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic one-page digital-born PDF whose extracted text is exactly
    ``Document {doc_id}\\n\\n{text}`` under the pdfx layout path (title block,
    then one paragraph of wrapped lines). Classic xref, Helvetica, ASCII."""
    ops = [f"BT /F1 18 Tf 72 720 Td ({_pdf_esc(f'Document {doc_id}')}) Tj ET"]
    for k, ln in enumerate(_wrap60(text.split(" "))):
        ops.append(f"BT /F1 11 Tf 72 {680 - 13 * k} Td ({_pdf_esc(ln)}) Tj ET")
    return _pdf_file(ops)


def synth_pages_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages table of deterministic PDF blobs."""
    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}.pdf", synth_pdf_bytes
    )


def synth_pdf_images_bytes(doc_id: int) -> bytes:
    """One-page PDF with a text block plus ``1 + doc_id % 3`` REAL image
    XObjects (alternating /DCTDecode — genuine baseline JPEG from
    ops/jpeg.encode_gray — and /FlateDecode gray rasters), each placed
    through an explicit CTM. Deterministic laws (image k):

    - pixel dims: w_px = 8 * (1 + (doc_id + k) % 4), h_px = 8
    - placement:  x = 72 + 20*k, y = 100 + 30*k
    - display:    w_pts = 100 + 10*k, h_pts = 50 + 5*k
    - filter:     DCTDecode if k even else FlateDecode

    so the pdf_pictures oracle predicts every output column from doc_id."""
    import zlib as _zlib

    from .jpeg import encode_gray

    n_imgs = 1 + doc_id % 3
    ops = [f"BT /F1 18 Tf 72 720 Td (Document {doc_id}) Tj ET"]
    img_objs = []
    for k in range(n_imgs):
        w_px, h_px = 8 * (1 + (doc_id + k) % 4), 8
        px = bytes((doc_id + 16 * (x // 8)) % 256 for _y in range(h_px) for x in range(w_px))
        if k % 2 == 0:
            data, flt = encode_gray(px, w_px, h_px), "DCTDecode"
        else:
            data, flt = _zlib.compress(px), "FlateDecode"
        img_objs.append(
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /%s "
            b"/Length %d >>\nstream\n%s\nendstream"
            % (w_px, h_px, flt.encode(), len(data), data)
        )
        ops.append(
            f"q {100 + 10 * k} 0 0 {50 + 5 * k} {72 + 20 * k} {100 + 30 * k} cm "
            f"/Im{k} Do Q"
        )
    return _pdf_file(ops, img_objs)


def synth_pages_pdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → PDFs carrying real embedded images."""
    import pandas as pd

    docs = read_docs(spark, sf_dir, "doc_id")

    def build(batches):
        for b in batches:
            yield pd.DataFrame(
                {
                    "url": [
                        f"https://synth.test/doc/{i}.pdf" for i in b["doc_id"]
                    ],
                    "doc_id": b["doc_id"],
                    "html": [
                        synth_pdf_images_bytes(int(i)) for i in b["doc_id"]
                    ],
                }
            )

    return docs.mapInPandas(
        build, schema="url string, doc_id long, html binary"
    )


def invoice_text(doc_id: int) -> str:
    """Deterministic invoice-style body for the structured-extraction
    template oracle (all fields derivable from doc_id in SQL)."""
    return (
        f"Invoice INV-{doc_id} "
        f"Date: 2024-02-{(doc_id % 28) + 1:02d} "
        f"Total: {(doc_id * 37) % 9000}.{doc_id % 100:02d} USD "
        f"Paid: {'yes' if doc_id % 2 == 0 else 'no'}"
    )


def synth_pages_pdf_invoice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → invoice-style PDF blobs (template-engine corpus:
    every field of the invoice is a deterministic function of doc_id)."""
    return _blob_pages(
        spark, sf_dir, "https://synth.test/inv/{}.pdf",
        lambda i, _t: synth_pdf_bytes(i, invoice_text(i)),
    )


def synth_pages_pdf_encrypted(
    spark: SparkSession, sf_dir: str, password: str = "sesame"
) -> DataFrame:
    """documents.parquet → RC4-encrypted (standard security handler V2/R3)
    variants of the synthetic PDFs, all locked with ``password``. Extracting
    with the right password must byte-match the plaintext corpus; without it
    every row must fail cleanly."""
    from ..pdfx.crypt import encrypt_pdf_rc4

    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}-enc.pdf",
        lambda i, t: encrypt_pdf_rc4(synth_pdf_bytes(i, t), password),
    )


# ------------------------------------------------- structured synthetic PDFs
def synth_pdf_structured_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic one-page PDF exercising the full structural labeler
    (pdfx/structure.py): 18pt title, 14pt section heading, a 3-item bullet
    list, a 2×2 two-column table (column gap >> line height so the grid
    detector sees separate cells), then the wrapped body paragraph. Every
    block's label/level/parent and text are expressible in ANSI SQL."""
    esc = _pdf_esc
    words = text.split(" ")
    w1 = words[0] if words else "w"
    w2 = words[1] if len(words) > 1 else w1
    w3 = words[2] if len(words) > 2 else w1
    kv = f"{doc_id % 100:02d}"
    ops = [
        f"BT /F1 18 Tf 72 720 Td ({esc(f'Document {doc_id}')}) Tj ET",
        f"BT /F1 14 Tf 72 670 Td ({esc(f'Section {w1}')}) Tj ET",
        f"BT /F1 11 Tf 72 630 Td ({esc(f'- {w1}')}) Tj ET",
        f"BT /F1 11 Tf 72 617 Td ({esc(f'- {w2}')}) Tj ET",
        f"BT /F1 11 Tf 72 604 Td ({esc(f'- {w3}')}) Tj ET",
        f"BT /F1 11 Tf 72 560 Td (K) Tj ET",
        f"BT /F1 11 Tf 172 560 Td (V) Tj ET",
        f"BT /F1 11 Tf 72 547 Td ({esc('k' + kv)}) Tj ET",
        f"BT /F1 11 Tf 172 547 Td ({esc('v' + kv)}) Tj ET",
    ]
    for k, ln in enumerate(_wrap60(words)):
        ops.append(f"BT /F1 11 Tf 72 {500 - 13 * k} Td ({esc(ln)}) Tj ET")
    return _pdf_file(ops)


def synth_pages_pdf_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages table of structured PDF blobs."""
    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}-struct.pdf",
        synth_pdf_structured_bytes,
    )


def synth_pages_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages whose HTML nests a 3-level list under a
    section header (list>li>list>li>list>li). Exercises heading ancestry
    deeper than 2 parent hops: the innermost list item is 6 links from its
    section_header, so the chunker's bounded ancestor walk (not a fixed
    2-hop lookup) is required to resolve its heading."""
    html_str = F.concat(
        F.lit("<html><head><title>Doc "), _did(),
        F.lit("</title></head><body>\n<h1>Document "), _did(),
        F.lit("</h1>\n<p>"), F.col("text"),
        F.lit("</p>\n<h2>Section "), _did(),
        F.lit("</h2>\n<ul><li>"), _word(1),
        F.lit("<ul><li>"), _word(2),
        F.lit("<ul><li>"), _word(3),
        F.lit("</li></ul></li></ul></li></ul>\n</body></html>"),
    )
    return _jvm_pages(
        read_docs(spark, sf_dir), _doc_url("-deep.html"), html_str
    )


# --------------------------------------------------------- synthetic OFD
def synth_ttf_bytes(mapping: "dict[int, int]") -> bytes:
    """Minimal valid sfnt carrying ONLY a format-4 cmap (codepoint → glyph
    id) — enough for the ofd_glyphs stdlib parser, tiny enough to embed in
    every synth OFD container. One segment per codepoint (idRangeOffset 0,
    idDelta = gid - cp)."""
    import struct

    cps = sorted(mapping)
    segs = [(cp, (mapping[cp] - cp) & 0xFFFF) for cp in cps] + [(0xFFFF, 1)]
    segcount = len(segs)
    sub = struct.pack(
        ">HHHHHHH", 4, 16 + 8 * segcount, 0, segcount * 2, 1, 0, 0
    )
    sub += b"".join(struct.pack(">H", cp) for cp, _ in segs)  # endCodes
    sub += b"\x00\x00"  # reservedPad
    sub += b"".join(struct.pack(">H", cp) for cp, _ in segs)  # startCodes
    sub += b"".join(struct.pack(">H", d) for _, d in segs)  # idDeltas
    sub += b"\x00\x00" * segcount  # idRangeOffsets
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12) + sub
    return (
        struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
        + struct.pack(">4sIII", b"cmap", 0, 28, len(cmap))
        + cmap
    )


# fixed glyph-id scheme for the synth glyph paragraph: gid = ord(ch) - 30
_OFD_GLYPH_FONT = None


def _ofd_glyph_font() -> bytes:
    global _OFD_GLYPH_FONT
    if _OFD_GLYPH_FONT is None:
        _OFD_GLYPH_FONT = synth_ttf_bytes(
            {cp: cp - 30 for cp in range(32, 127)}
        )
    return _OFD_GLYPH_FONT


def ofd_glyph_para(doc_id: int) -> str:
    """The glyph-encoded paragraph's DECODED text (oracle-predictable)."""
    return f"sealed v{doc_id % 100:02d}"


def synth_ofd_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic one-page OFD container (GB/T 33190 zip layout): DocInfo
    title 'Document {id}' + one body paragraph of wrapped text lines, spaced
    so the ofdx line/paragraph thresholds reconstruct exactly
    ``# Document {id}\\n\\n{text}\\n\\n{glyph para}`` in markdown. The final
    paragraph is GLYPH-ENCODED: its TextCode is PUA junk and the real text
    only exists as <CGTransform><Glyphs> ids through the embedded font's
    cmap — extracting it proves the ofd_glyphs decode path end-to-end."""
    ns = "http://www.ofdspec.org/2016"
    objs = []
    y = 40.0
    for i, ln in enumerate(_wrap60(text.split(" "))):
        objs.append(
            f'<ofd:TextObject ID="{100 + i}" Boundary="20 {y} 170 5" '
            f'Font="1" Size="4">'
            f'<ofd:TextCode X="0" Y="4">{ln}</ofd:TextCode>'
            f"</ofd:TextObject>"
        )
        y += 5.0  # within-paragraph spacing (gap 5 <= 1.4*height)
    # glyph-encoded paragraph: PUA TextCode, real text only via Glyphs ids
    gtext = ofd_glyph_para(doc_id)
    gids = " ".join(str(ord(c) - 30) for c in gtext)
    pua = "\ue000" * len(gtext)
    y += 15.0  # paragraph break (gap > 1.4 * line height)
    objs.append(
        f'<ofd:TextObject ID="199" Boundary="20 {y} 170 5" '
        f'Font="7" Size="4">'
        f"<ofd:CGTransform><ofd:Glyphs>{gids}</ofd:Glyphs>"
        f"</ofd:CGTransform>"
        f'<ofd:TextCode X="0" Y="4">{pua}</ofd:TextCode>'
        f"</ofd:TextObject>"
    )
    content = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f'<ofd:Page xmlns:ofd="{ns}">'
        f"<ofd:Area><ofd:PhysicalBox>0 0 210 297</ofd:PhysicalBox></ofd:Area>"
        f'<ofd:Content><ofd:Layer ID="2">{"".join(objs)}</ofd:Layer>'
        f"</ofd:Content></ofd:Page>"
    )
    public_res = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f'<ofd:Res xmlns:ofd="{ns}" BaseLoc="Res"><ofd:Fonts>'
        f'<ofd:Font ID="7" FontName="SynthGlyph">'
        f"<ofd:FontFile>font_7.ttf</ofd:FontFile></ofd:Font>"
        f"</ofd:Fonts></ofd:Res>"
    )
    document = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f'<ofd:Document xmlns:ofd="{ns}"><ofd:CommonData>'
        f"<ofd:PageArea><ofd:PhysicalBox>0 0 210 297</ofd:PhysicalBox>"
        f"</ofd:PageArea><ofd:PublicRes>PublicRes.xml</ofd:PublicRes>"
        f"</ofd:CommonData><ofd:Pages>"
        f'<ofd:Page ID="1" BaseLoc="Pages/Page_0/Content.xml"/>'
        f"</ofd:Pages></ofd:Document>"
    )
    ofd_xml = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f'<ofd:OFD xmlns:ofd="{ns}" Version="1.0"><ofd:DocBody>'
        f"<ofd:DocInfo><ofd:Title>Document {doc_id}</ofd:Title></ofd:DocInfo>"
        f"<ofd:DocRoot>Doc_0/Document.xml</ofd:DocRoot>"
        f"</ofd:DocBody></ofd:OFD>"
    )
    return _zip_bytes(
        {
            "OFD.xml": ofd_xml,
            "Doc_0/Document.xml": document,
            "Doc_0/PublicRes.xml": public_res,
            "Doc_0/Res/font_7.ttf": _ofd_glyph_font(),
            "Doc_0/Pages/Page_0/Content.xml": content,
        }
    )


def synth_pages_ofd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages table of deterministic OFD blobs."""
    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}.ofd", synth_ofd_bytes
    )


def synth_pages_doctags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → doctags source blobs (the VLM-interchange input
    format), pure JVM string build mirroring the HTML corpus structure."""
    dt = F.concat(
        F.lit("<doctag><title>Document "), _did(), F.lit("</title>\n"),
        F.lit("<text>"), F.col("text"), F.lit("</text>\n"),
        F.lit("<unordered_list><list_item>"), _word(1),
        F.lit("</list_item>\n<list_item>"), _word(2),
        F.lit("</list_item>\n<list_item>"), _word(3),
        F.lit("</list_item>\n</unordered_list>\n"),
        F.lit("<otsl><ched>K<ched>V<nl><fcel>k"), _id2(),
        F.lit("<fcel>v"), _id2(), F.lit("<nl></otsl>\n</doctag>"),
    )
    return _jvm_pages(read_docs(spark, sf_dir), _doc_url(".doctags.txt"), dt)


def synth_pages_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → EXTENSIONLESS csv source blobs: the url carries
    no format hint, so dispatch must detect CSV from content (the JVM
    analog of the reference's _detect_csv, document.py:659-686). Pure JVM
    string build: a 2-column header + one data row."""
    csv_str = F.concat(
        F.lit("K,V\nk"), _id2(), F.lit(",v"), _id2(), F.lit("\n")
    )
    url = F.concat(F.lit("https://synth.test/data/"), _did())
    return _jvm_pages(read_docs(spark, sf_dir), url, csv_str)


# ----------------------------------------- synthetic md / asciidoc sources
def synth_pages_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → markdown source blobs (pure JVM string build)."""
    md_str = F.concat(
        F.lit("# Document "), _did(), F.lit("\n\n"), F.col("text"),
        F.lit("\n\n- "), _word(1),
        F.lit("\n- "), _word(2),
        F.lit("\n- "), _word(3),
        F.lit("\n"),
    )
    return _jvm_pages(read_docs(spark, sf_dir), _doc_url(".md"), md_str)


def synth_pages_asciidoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → asciidoc source blobs (pure JVM string build)."""
    adoc_str = F.concat(
        F.lit("= Document "), _did(), F.lit("\n\n"), F.col("text"),
        F.lit("\n\n* "), _word(1),
        F.lit("\n* "), _word(2),
        F.lit("\n"),
    )
    return _jvm_pages(read_docs(spark, sf_dir), _doc_url(".adoc"), adoc_str)


# -------------------------------------------- synthetic docx / xlsx sources
_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'


def synth_docx_bytes(doc_id: int, text: str) -> bytes:
    """Minimal deterministic DOCX: Title paragraph + one body paragraph.
    Extracted markdown is exactly ``# Document {id}\\n\\n{text}``."""
    from xml.sax.saxutils import escape

    document = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {_W_NS}><w:body>"
        f"<w:p><w:pPr><w:pStyle w:val=\"Title\"/></w:pPr>"
        f"<w:r><w:t>Document {doc_id}</w:t></w:r></w:p>"
        f"<w:p><w:r><w:t>{escape(text)}</w:t></w:r></w:p>"
        f"</w:body></w:document>"
    )
    styles = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:styles {_W_NS}>"
        f'<w:style w:type="paragraph" w:styleId="Title">'
        f'<w:name w:val="Title"/></w:style>'
        f'<w:style w:type="paragraph" w:default="1" w:styleId="Normal">'
        f'<w:name w:val="Normal"/></w:style>'
        f"</w:styles>"
    )
    return _zip_bytes(
        {"word/document.xml": document, "word/styles.xml": styles}
    )


_S_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_R_NS = (
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
    'relationships"'
)


def synth_xlsx_bytes(doc_id: int) -> bytes:
    """Minimal deterministic XLSX: one sheet with a 2×2 K/V data island.
    Extracted markdown is the constant-width pipe table for k{NN}/v{NN}."""
    kv = f"{doc_id % 100:02d}"
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<workbook {_S_NS} {_R_NS}><sheets>"
        f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )

    def cell(ref: str, val: str) -> str:
        return (
            f'<c r="{ref}" t="inlineStr"><is><t>{val}</t></is></c>'
        )

    sheet = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<worksheet {_S_NS}><sheetData>"
        f'<row r="1">{cell("A1", "K")}{cell("B1", "V")}</row>'
        f'<row r="2">{cell("A2", "k" + kv)}{cell("B2", "v" + kv)}</row>'
        f"</sheetData></worksheet>"
    )
    return _zip_bytes(
        {
            "xl/workbook.xml": workbook,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/worksheets/sheet1.xml": sheet,
        }
    )


def _zip_bytes(parts: dict[str, str]) -> bytes:
    import zipfile
    from io import BytesIO

    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in parts.items():
            # fixed timestamp → byte-deterministic archives
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            zf.writestr(info, content)
    return buf.getvalue()


def synth_uspto_bytes(doc_id: int, text: str) -> bytes:
    """Minimal deterministic USPTO v4.x ICE application: title + abstract +
    one claim. Extracted markdown is
    ``# DOCUMENT {id}\\n\\n### ABSTRACT\\n\\n{text}\\n\\n### CLAIMS\\n\\n{w1} claim``."""
    from xml.sax.saxutils import escape

    w1 = text.split(" ")[0] if text else "w"
    xml_doc = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<!DOCTYPE us-patent-application SYSTEM "us-patent-application-v44-2014-04-03.dtd">\n'
        "<us-patent-application>"
        "<us-bibliographic-data-application>"
        f"<invention-title>DOCUMENT {doc_id}</invention-title>"
        "</us-bibliographic-data-application>"
        f"<abstract><p>{escape(text)}</p></abstract>"
        "<claims><claim><claim-text>"
        f"{escape(w1)} claim</claim-text></claim></claims>"
        "</us-patent-application>"
    )
    return xml_doc.encode("utf-8")


def synth_pages_uspto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}.uspto.xml", synth_uspto_bytes
    )


def synth_pages_docx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}.docx", synth_docx_bytes
    )


def synth_pages_xlsx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blob_pages(
        spark, sf_dir, "https://synth.test/doc/{}.xlsx",
        lambda i, _t: synth_xlsx_bytes(i),
    )


# Expected extracted text of a synth PDF, as ANSI SQL (DuckDB oracle).
SYNTH_PDF_TEXT_SQL = "'Document ' || doc_id || chr(10) || chr(10) || text"


# The SQL (DuckDB-dialect-compatible ANSI) reconstruction of the expected
# markdown for the synth template above — the oracle for the full UDF path.
SYNTH_MD_SQL = (
    "'# Document ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10) || "
    "'- ' || split_part(text, ' ', 1) || chr(10) || "
    "'- ' || split_part(text, ' ', 2) || chr(10) || "
    "'- ' || split_part(text, ' ', 3) || chr(10) || chr(10) || "
    "'| K   | V   |' || chr(10) || '|-----|-----|' || chr(10) || "
    "'| k' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || "
    "' | v' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' |'"
)
