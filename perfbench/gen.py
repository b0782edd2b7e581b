"""Seeded input generators and the expected-output law for each workload.

Every input derives from ``(workload, seed)`` alone; the word list below is
the only fixed data. The page shapes are chosen so that the extracted text
of every document follows a closed-form law (the same law
``docling_spark.ops.corpus.SYNTH_MD_SQL`` and ``SYNTH_PDF_TEXT_SQL`` state
for the one-section synthetic corpus), so correctness is judged against the
generator, never against the program under test.

Size distributions are fixed per workload (a deterministic spread of
sizes); the seed decides which document gets which size and every word of
content. Total input bytes therefore vary by well under 1% between seeds,
so runs with different seeds measure the same amount of work.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

# A fixed, read-only vocabulary: lowercase ASCII only, so no word is ever
# altered by markdown escaping or treated as a number by the table writer.
WORDS = tuple(
    """
    able about above across after again against along among answer appear
    area around basic become before begin behind being below better between
    beyond black board border bottom branch bridge bright bring broad brown
    build burden butter cable camera canal carbon career carry castle cattle
    center chain chance change charge check choice circle claim class clean
    clear climb clock close cloud coast color common corner cotton count
    course cover craft credit crowd culture current cycle daily damage dance
    danger debate decide deep degree demand depth design detail device
    differ dinner direct double dream drive early earth east edge effect
    effort eight either energy engine enough entire equal escape estate
    event every exact example expert export extra fabric factor fair family
    farmer father field figure final finger finish first flight floor flower
    follow force forest formal forward frame fresh friend front fruit future
    garden gather gentle glass global golden grain grass great green ground
    group growth guard guide habit happy harbor health heart heavy height
    hidden history holder honest horse hotel house human hunger island
    journal kitchen ladder large later leader learn letter level light limit
    linen little local lower machine manner market master matter meadow
    measure medium member method middle mirror modern moment motion mountain
    narrow nation nature nearby needle network never night noble normal north
    notice number object ocean office orange order origin other outer owner
    paper parent party pattern people pepper period person piano picture
    plain planet plant pocket policy powder power press price print private
    profit proper public purple quiet rapid reason record region remote report
    result river rocket rough round rubber saddle safety sample school season
    second secret select series shadow shape share shelter short signal silver
    simple single sister smooth social soft solid sound source south space
    spirit spring square stable steady stone storm story street strong
    study summer supply survey system table talent target teacher temple
    theory thread timber title total tower track trade travel treaty trust
    tunnel uncle union upper useful valley value vessel village visit voice
    wagon water weather wheel winter wonder wooden worker writer yellow young
    """.split()
)

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

WORKLOADS = ("crawl_small", "html_large", "pdf_multipage")


@dataclass(frozen=True)
class Page:
    """One input row of the pages table plus the output the law predicts."""

    url: str
    warc_ts: datetime
    html: bytes
    expected: str
    latest: bool = True  # False for an older crawl of a repeated url


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _spread(n: int, lo: float, hi: float) -> list[float]:
    """``n`` fixed log-spaced values from ``lo`` to ``hi`` (inclusive)."""
    if n == 1:
        return [lo]
    r = math.log(hi / lo)
    return [lo * math.exp(r * i / (n - 1)) for i in range(n)]


def _table(nn: str) -> tuple[str, str]:
    """The two-column K/V table: (html, expected markdown)."""
    html = (
        "<table><tr><th>K</th><th>V</th></tr>"
        f"<tr><td>k{nn}</td><td>v{nn}</td></tr></table>"
    )
    md = f"| K   | V   |\n|-----|-----|\n| k{nn} | v{nn} |"
    return html, md


# ------------------------------------------------------------- crawl_small
CRAWL_URLS = 2000  # distinct urls per pass
CRAWL_REPEAT_SHARE = 0.10  # urls that also have an older crawl


def _crawl_page(doc_id: int, text: str) -> tuple[bytes, str]:
    """The one-section template of ``ops.corpus.synth_pages``; its expected
    markdown is exactly ``ops.corpus.SYNTH_MD_SQL``."""
    w = text.split(" ")
    nn = f"{doc_id % 100:02d}"
    table_html, table_md = _table(nn)
    html = (
        f"<html><head><title>Doc {doc_id}</title></head><body>\n"
        f"<h1>Document {doc_id}</h1>\n<p>{text}</p>\n"
        f"<ul><li>{w[0]}</li><li>{w[1]}</li><li>{w[2]}</li></ul>\n"
        f"{table_html}\n</body></html>"
    )
    md = (
        f"# Document {doc_id}\n\n{text}\n\n"
        f"- {w[0]}\n- {w[1]}\n- {w[2]}\n\n{table_md}"
    )
    return html.encode("utf-8"), md


def crawl_small(seed: int, n_urls: int = CRAWL_URLS) -> list[Page]:
    """Template pages of 0.4-2 KB; ~10% of urls also carry an older crawl
    (different text, earlier ``warc_ts``) that the dedup must drop."""
    rng = random.Random(f"crawl_small:{seed}")
    # page sizes: a fixed spread of paragraph lengths, dealt out by the seed
    n_words = [round(x) for x in _spread(n_urls, 30, 230)]
    rng.shuffle(n_words)
    n_old = round(n_urls * CRAWL_REPEAT_SHARE)
    repeated = set(rng.sample(range(n_urls), n_old))
    pages: list[Page] = []
    for i in range(n_urls):
        doc_id = seed * 1_000_000 + i
        url = f"https://crawl.bench.test/s{seed}/p/{i}.html"
        ts = EPOCH + timedelta(seconds=rng.randrange(10**7), microseconds=rng.randrange(10**6))
        text = _words(rng, n_words[i])
        html, md = _crawl_page(doc_id, text)
        pages.append(Page(url, ts, html, md))
        if i in repeated:
            old_text = _words(rng, n_words[i])
            old_html, old_md = _crawl_page(doc_id, old_text)
            old_ts = ts - timedelta(days=1 + rng.randrange(90), microseconds=rng.randrange(10**6))
            pages.append(Page(url, old_ts, old_html, old_md, latest=False))
    rng.shuffle(pages)
    return pages


# -------------------------------------------------------------- html_large
HTML_PAGES = 96  # pages per pass
HTML_KB = (10.0, 450.0)  # page size range
_SCRIPT = (
    "<script>window.dataLayer = window.dataLayer || [];"
    " function track(e) {{ dataLayer.push({{event: e, id: {sid}}}); }}"
    " track('view');</script>"
)
_STYLE = (
    "<style>.s{sid} {{ margin: 0 auto; color: #333; }}"
    " .s{sid} h2 {{ font-weight: 700; }}</style>"
)


def _large_page(rng: random.Random, doc_id: int, target_bytes: float) -> tuple[bytes, str]:
    """``20-300`` sections of h2 / p / ul / table with script and style
    boilerplate between them, sized to about ``target_bytes``."""
    n_sections = max(20, min(300, round(target_bytes / 1500)))
    per_section = target_bytes / n_sections
    # ~6.8 bytes per word; the rest of a section (h2, list, table and the
    # boilerplate of every fourth one) is ~220 bytes
    para_words = max(8, round((per_section - 220) / 6.8))
    head = (
        f"<!DOCTYPE html>\n<html><head><title>Doc {doc_id}</title>\n"
        + _STYLE.format(sid=0) + "\n" + _SCRIPT.format(sid=0)
        + f"\n</head><body>\n<h1>Document {doc_id}</h1>\n"
    )
    parts = [head]
    blocks = [f"# Document {doc_id}"]
    for s in range(1, n_sections + 1):
        text = _words(rng, para_words)
        w = [rng.choice(WORDS) for _ in range(3)]
        table_html, table_md = _table(f"{s % 100:02d}")
        parts.append(
            f"<h2>Section {s}</h2>\n<p>{text}</p>\n"
            f"<ul><li>{w[0]}</li><li>{w[1]}</li><li>{w[2]}</li></ul>\n"
            f"{table_html}\n"
        )
        if s % 4 == 0:
            parts.append(_SCRIPT.format(sid=s) + _STYLE.format(sid=s) + "\n")
        blocks.append(
            f"## Section {s}\n\n{text}\n\n- {w[0]}\n- {w[1]}\n- {w[2]}\n\n{table_md}"
        )
    parts.append("</body></html>\n")
    return "".join(parts).encode("utf-8"), "\n\n".join(blocks)


def html_large(seed: int, n_pages: int = HTML_PAGES) -> list[Page]:
    rng = random.Random(f"html_large:{seed}")
    sizes = [kb * 1024 for kb in _spread(n_pages, *HTML_KB)]
    rng.shuffle(sizes)
    pages = []
    for i, size in enumerate(sizes):
        doc_id = seed * 1_000_000 + i
        html, md = _large_page(rng, doc_id, size)
        ts = EPOCH + timedelta(seconds=rng.randrange(10**7))
        pages.append(Page(f"https://large.bench.test/s{seed}/{i}.html", ts, html, md))
    return pages


# ------------------------------------------------------------ pdf_multipage
PDF_DOCS = 1200  # documents per pass
PDF_PAGES = (1, 8)  # pages per document


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _wrap(text: str, width: int = 60) -> list[str]:
    lines: list[str] = []
    cur: list[str] = []
    for w in text.split(" "):
        if cur and len(" ".join(cur + [w])) > width:
            lines.append(" ".join(cur))
            cur = [w]
        else:
            cur.append(w)
    if cur:
        lines.append(" ".join(cur))
    return lines


def pdf_bytes(page_texts: list[tuple[str, str]]) -> bytes:
    """A digital-born PDF with one (title, paragraph) per page: an 18 pt
    title line, then the paragraph wrapped at 60 characters in 11 pt
    Helvetica. Classic xref table, uncompressed content streams."""
    n = len(page_texts)
    # objects: 1 catalog, 2 pages, 3 font, then (page, content) pairs
    kids = " ".join(f"{4 + 2 * p} 0 R" for p in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode("ascii"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
    ]
    for p, (title, para) in enumerate(page_texts):
        ops = [f"BT /F1 18 Tf 72 720 Td ({_esc(title)}) Tj ET"]
        y = 680
        for ln in _wrap(para):
            ops.append(f"BT /F1 11 Tf 72 {y} Td ({_esc(ln)}) Tj ET")
            y -= 13
        content = "\n".join(ops).encode("ascii")
        objs.append(
            (
                "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> /Contents {5 + 2 * p} 0 R >>"
            ).encode("ascii")
        )
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref_at,
    )
    return bytes(out)


def pdf_multipage(seed: int, n_docs: int = PDF_DOCS) -> list[Page]:
    rng = random.Random(f"pdf_multipage:{seed}")
    lo, hi = PDF_PAGES
    # equal numbers of 1..8-page documents, dealt out by the seed
    n_pages = [lo + (i % (hi - lo + 1)) for i in range(n_docs)]
    rng.shuffle(n_pages)
    out = []
    for i in range(n_docs):
        doc_id = seed * 1_000_000 + i
        texts = [
            (f"Document {doc_id} page {p}", _words(rng, 40 + rng.randrange(80)))
            for p in range(1, n_pages[i] + 1)
        ]
        expected = "\n\n".join(f"{t}\n\n{para}" for t, para in texts)
        ts = EPOCH + timedelta(seconds=rng.randrange(10**7))
        out.append(
            Page(f"https://pdf.bench.test/s{seed}/{i}.pdf", ts, pdf_bytes(texts), expected)
        )
    return out


GENERATORS = {
    "crawl_small": (crawl_small, CRAWL_URLS),
    "html_large": (html_large, HTML_PAGES),
    "pdf_multipage": (pdf_multipage, PDF_DOCS),
}


def generate(workload: str, seed: int, scale: float = 1.0) -> list[Page]:
    """All input rows of ``workload`` for ``seed``; ``scale`` shrinks the
    document count."""
    make, n = GENERATORS[workload]
    return make(seed, max(1, round(n * scale)))
