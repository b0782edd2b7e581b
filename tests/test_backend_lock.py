"""Byte lock on the per-document extraction core.

Every output row of the job comes from ``job._extract_one``, so a change in
any backend's md, itxt, spans, doctags or doc_json, or in a row's status or
error, shows up here. Each case runs one input under both
``base_uri_mode`` values and three flag sets, and pins a sha256 over the
six rows, each minus ``proc_ms`` and serialized with
``json.dumps(sort_keys=True, default=str)``.

Inputs, all built in the repo (no reference corpus needed):

- the 23 inputs of ``tests/test_cli_convert.py``;
- the ``ops/corpus`` ``synth_*_bytes`` builders at several doc ids, one
  of them with a paragraph longer than the itxt width;
- a long paragraph in each text format (itxt truncation);
- one seeded 300-byte junk blob routed to each ``CONTENT_TYPES`` entry;
- a truncated, a blank (needs_ocr) and an encrypted PDF, an HTML page
  with relative links, an empty blob, ``oversize`` and ``other``;
- the CLI's minimal METS-GBS tar.gz once more, as an edge case;
- small HTML pages, one per path of the HTML walker (``HTML_CASES``);
- a JATS article whose ``table-wrap`` takes every branch of the table
  grid fill (``JATS_TABLE``);
- titles, headings, lists and code in markdown, AsciiDoc, DocTags, JATS,
  the four USPTO dialects (ICE, grant v2.5, application v1.x, APS), a
  DOCX and a PPTX (``STRUCT_CASES``, ``_docx_lists``, ``_pptx_deck``), so
  every call site that builds such an item is run.

To regenerate after an intended output change, run
``PYTHONPATH=. python tests/test_backend_lock.py`` and paste the printed
table into ``DIGESTS``.
"""

from __future__ import annotations

import hashlib
import json
import random

import pytest
from test_cli_convert import CONVERTED, JATS_NO_DTD, SKIPPED, mets_tar_gz

from docling_spark.job import CONTENT_TYPES, _extract_one, sniff_content_type
from docling_spark.ops import corpus
from docling_spark.pdfx.crypt import encrypt_pdf_rc4

BASE = "https://lock.test/docs/"
FLAG_SETS = (
    {},
    {"with_doc_json": True, "with_doctags": True},
    {"with_structure": False},
)

# long enough that every itxt line it lands in is truncated at width 70
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
LONG = " ".join(f"{w}{k}" for k, w in enumerate(WORDS * 4))

HTML_LINKS = (
    b"<html><head><title>Links</title></head><body><h2>See also</h2>"
    b'<p>Read <a href="../other.html">the other page</a> and '
    b'<a href="https://ext.test/x">an outside one</a>.</p>'
    b'<img src="img/fig.png" alt="a figure"></body></html>'
)


# HTML walker paths: tables, lists, links, removals, body/br rules, headings,
# images, the depth cap and code runs; each body is wrapped in <html><body> unless it
# carries its own document structure
HTML_CASES = {
    "thead_tbody": "<table><thead><tr><th>H1</th><th>H2</th></tr></thead>"
    "<tbody><tr><td>a</td><td>b</td></tr></tbody></table>",
    "thead_holds_tbody": "<table><thead><tr><th>H</th></tr>"
    "<tbody><tr><td>a</td></tr></tbody></thead></table>",
    "spans": "<table><tr><td colspan=2>wide</td><td rowspan=3>tall</td></tr>"
    '<tr><td colspan="2x">two-x</td></tr>'
    "<tr><td colspan=1000000000 rowspan=1000000000>bomb</td></tr></table>",
    "th_rowspan_row": "<table><tr><th rowspan=2>R1</th><th rowspan=3>R2</th></tr>"
    "<tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>",
    "rich_cells": "<table><tr><td><b>bold</b></td><td><a href='/c'>link</a></td>"
    "<td>one<!-- c -->two</td><td><ul><li>l1</li><li>l2</li></ul></td>"
    "<td>plain</td><td><img src='c.png' alt='cell img'></td></tr></table>",
    "formula_block": "<table><tr><td><span>a <b>bold</b> "
    "<inline-formula>$$<p>x</p>$$</inline-formula></span></td></tr></table>",
    "formula_plain": "<table><tr><td><inline-formula>$$y^2$$</inline-formula> and"
    "</td><td><i>f</i> <inline-formula>E=mc2</inline-formula></td></tr></table>",
    "ul_in_ul": "<ul><li>a</li><ul><li>inner</li></ul><li>b</li></ul>",
    "li_runs_sublist": "<ul><li>plain <b>bold</b> <a href='/l'>link</a>"
    "<ol><li>sub1</li><li>sub2</li></ol></li><li>one<ul><li>s</li></ul></li>"
    "<li><ul><li>only sub</li></ul></li></ul>",
    "ol_start": "<ol start=5><li>five</li><li>six</li></ol><ol start=x><li>n</li></ol>",
    "a_b_span": "<a href='/x'><b><span>deep link</span></b></a>"
    "<p><a href='/y'><b><span>in p</span> <i>it</i></b></a></p>",
    "a_empty_href": "<a href=''><span>empty</span></a> <a href>bare</a>"
    "<a href='/outer'><a href=''><span>nested</span></a></a>"
    "<p><a href=''>in p</a></p>",
    "hidden_in_hidden": "<div hidden>out<div hidden>in</div></div><p>kept</p>"
    "<span hidden=hidden>h</span>",
    "noscript_holds": "<p>before</p><noscript>ns<br><span hidden>h</span>"
    "<body>fake body<br>x</body></noscript><p>after<br>line</p>",
    "two_bodies": "<html><body><p>first<br>b</p></body>"
    "<body><p>second<br>b</p></body></html>",
    "br_before_body": "<html><head><title>T</title></head>a<br>b"
    "<body><p>c<br>d</p></body></html>",
    "headings_in_table": "<p>intro</p><table><tr><td><h2>cell head</h2></td></tr>"
    "</table><p>outro</p>",
    "h1_h4": "<h1>Top</h1><p>x</p><h4>Deep</h4><p>y</p><h2>Mid</h2>",
    "footer_details_pre": "<h2>S</h2><details><summary>sum</summary><p>d</p></details>"
    "<footer><p>foot</p></footer><pre>line 1\n  line <b>2</b>\n</pre>",
    "figure": "<figure><img src='f.png' alt='alt text'><figcaption>the "
    "<i>caption</i></figcaption></figure><figure><img src='g.png' alt='only alt'>"
    "</figure>",
    "img_in_a": "<a href='/pic'><img src='p.png' alt='pic'></a>"
    "<a href='/pic2'><img src='q.png'></a>"
    "<a href='/outer'><a href=''><img src='n.png' alt='nested'></a></a>",
    "over_max_depth": "<div>" * 420 + "<p>deep p</p><ul><li>deep li</li></ul>"
    "<span>run <b>b</b></span><table><tr><td>t</td></tr></table>" + "</div>" * 420,
    "title_in_body": "<p>a</p><title>Late <b>title</b></title><p>b</p>",
    "removed_body_first": "<html><head><noscript><body>ns body</body></noscript>"
    "</head><body><p>real</p></body></html>",
    "removed_heading": "<h2 hidden>gone</h2><noscript><h1>ns</h1></noscript>"
    "<p>body text</p>",
    "annotation_above_body": "<html><sup><sub><a href='/o'><a href=''><body>"
    "<p>x <i>y</i></p><a href='/in'><b><span>s</span></b></a>"
    "</body></a></a></sub></sup></html>",
    "doctype_mid_text": "<div>a<!DOCTYPE x>b</div><p>c<?pi x?>d</p>",
    # code runs: each fragment becomes a code or a text item
    "code_kbd_samp_br": "<p>run <code>x = 1</code> then <kbd>Ctrl</kbd> "
    "<samp>out</samp><br>next <code>y</code> end</p>",
    "code_bold_italic": "<p><b><code>bold code</code></b> and "
    "<i><code>it code</code></i> <b><i><code>both</code></i></b></p>",
    "code_multiline": "<p><code>line one\nline two</code> after</p>"
    "<div><code>a\n  b</code> tail</div>",
    "li_text_code_link_sublist": "<ul><li>text <code>cd</code> "
    "<a href='/l'>link</a><ul><li>sub <code>s</code></li></ul></li>"
    "<li><code>only code</code></li></ul><ol start=3><li>n <kbd>k</kbd></li></ol>",
    "div_flush": "<div>alpha <code>c</code> <b>beta</b>\n<span>gamma</span> "
    "<div>inner <samp>smp</samp></div> tail <a href='/d'><code>lk</code></a></div>",
    "address_summary": "<address>Addr <code>x</code><br>line2 <i>it</i></address>"
    "<details><summary>Sum <b>b</b> <kbd>k</kbd></summary><p>body</p></details>",
    "pre_code": "<pre><code>def f():\n    return 1\n</code></pre>"
    "<pre><code>one</code> and <b>two</b></pre>",
    "table_code_cells": "<table><tr><th><code>h</code></th><th>H2</th></tr>"
    "<tr><td><code>c1</code></td><td>a <code>c2</code></td></tr>"
    "<tr><td><b><code>c3</code></b></td><td><kbd>k</kbd><br><samp>s</samp></td></tr>"
    "</table>",
    # tokenizer paths: a self-closing non-void tag inside its namesake,
    # attribute values with entities and Unicode spaces (in a value, after a
    # tag name, between attributes), upper-case names and repeated attributes
    "p_self_closing": "<p>a<p/>b</p><div>c<span/>d<br/>e</div>",
    "attr_entities_unicode_space": "<p><a href='/q?a=1&amp;b=2&lt;3' title=\"caf&eacute;\">"
    "amp link</a> <a href=/u\xa0v>nbsp value</a> <a\xa0href=/w>after name</a> "
    "<a href=/x\u3000title=t>ideographic</a></p>"
    "<img src=\"i.png\" alt=\"A&nbsp;B&#1;C\"><img src=j.png alt=\"x\u2003y\">",
    "upper_case_duplicate_attrs": "<DIV><H2 ID=a id=b>Head</H2><P><A HREF='/first' "
    "href='/second' Href=/third>dup link</A></P><IMG SRC=one.png src=two.png "
    "ALT=Upper alt=lower><UL><LI>item</LI></UL></DIV>",
}

# a JATS table-wrap: thead th rowspan, colspan, td rowspan, an inline
# formula, a row of rowspan th only (a row-header row) and a non-numeric
# colspan, parsed through the embedded XHTML table path
JATS_TABLE = (
    b'<?xml version="1.0"?>\n<article><front><article-meta><title-group>'
    b"<article-title>Tables</article-title></title-group></article-meta>"
    b"</front><body><sec><title>Results</title><p>See the table.</p>"
    b'<table-wrap id="t1"><label>Table 1</label><caption><p>Spans and '
    b"formulas.</p></caption><table><thead><tr><th rowspan=\"2\">Name</th>"
    b'<th colspan="2">Wide</th></tr><tr><th>a</th><th>b</th></tr></thead>'
    b'<tbody><tr><td rowspan="2">r</td><td><inline-formula>$$x$$'
    b'</inline-formula> mid</td><td colspan="x">nn</td></tr>'
    b'<tr><th rowspan="2">rh1</th><th rowspan="3">rh2</th></tr>'
    b"<tr><td>v1</td><td>v2</td><td>v3</td></tr></tbody></table>"
    b"</table-wrap></sec></body></article>"
)


# titles, headings, lists and code in every backend that builds them (the
# HTML and PDF ones are reached above): markdown, AsciiDoc, DocTags, JATS,
# the four USPTO dialects, and a DOCX and a PPTX built below
STRUCT_CASES = {
    "lists.md": b"# Top\n\n## Sub\n\nA `code span` here.\n\n"
    b"- plain *emph* tail\n- b\n\n```\nfenced\n```\n\n    indented\n\n"
    b"<div>html block</div>\n",
    "lists.adoc": b"= Top\n\n== Section\n\nText.\n\n* a\n  * nested\n* b\n\n"
    b"=== Deeper\n",
    "lists.doctags.txt": b"<doctag><title>T</title>\n"
    b"<section_header_level_2><loc_10><loc_20><loc_30><loc_40>Sec"
    b"</section_header_level_2>\n<ordered_list><list_item>one</list_item>\n"
    b"<list_item>two</list_item>\n</ordered_list>\n"
    b"<unordered_list><list_item>u</list_item>\n</unordered_list>\n"
    b"<code><_Python_>print(1)<caption>cap</caption></code>\n"
    b"<code>plain</code>\n</doctag>",
    "lists.nxml": b'<?xml version="1.0"?>\n<article><front><article-meta>'
    b"<title-group><article-title>Lists</article-title></title-group>"
    b"<abstract><title>Summary</title><p>Short abstract.</p></abstract>"
    b"</article-meta></front><body><sec><title>Intro</title><p>Before "
    b'<list list-type="bullet"><list-item><p>first</p></list-item>'
    b"<list-item><p>second</p></list-item></list> after</p></sec></body>"
    b'<back><ref-list><title>References</title><ref id="r1"><mixed-citation>'
    b'Doe J. A paper. 2001.</mixed-citation></ref><ref id="r2">'
    b"<element-citation><person-group><name><surname>Roe</surname>"
    b"<given-names>R</given-names></name></person-group><article-title>"
    b"Other</article-title><source>J</source><year>2002</year>"
    b"</element-citation></ref></ref-list></back></article>",
    "ice.xml": b'<?xml version="1.0" encoding="UTF-8"?>\n'
    b'<!DOCTYPE us-patent-grant SYSTEM "us-patent-grant-v45-2014-04-03.dtd">\n'
    b"<us-patent-grant><us-bibliographic-data-grant><invention-title>Widget"
    b"</invention-title></us-bibliographic-data-grant><abstract><p>Abstract."
    b'</p></abstract><description><heading level="1">BACKGROUND</heading>'
    b"<p>Body text.</p></description><claims><claim><claim-text>A widget."
    b"</claim-text></claim></claims></us-patent-grant>",
    "grant-v2.xml": b'<?xml version="1.0"?>\n'
    b'<!DOCTYPE PATDOC SYSTEM "ST32-US-Grant-025xml.dtd" [ ]>\n'
    b"<PATDOC><SDOBI><B500><B540><STEXT><PDAT>Gizmo</PDAT></STEXT></B540>"
    b"</B500></SDOBI><SDOAB><BTEXT><PARA><PTEXT><PDAT>An abstract.</PDAT>"
    b'</PTEXT></PARA></BTEXT></SDOAB><SDODE><H LVL="1"><STEXT><PDAT>'
    b"BACKGROUND</PDAT></STEXT></H><PARA><PTEXT><PDAT>Body.</PDAT></PTEXT>"
    b"</PARA></SDODE><SDOCL><CL><CLM><PARA><PTEXT><PDAT>A gizmo.</PDAT>"
    b"</PTEXT></PARA></CLM></CL></SDOCL></PATDOC>",
    "app-v1.xml": b'<?xml version="1.0"?>\n<!DOCTYPE '
    b'patent-application-publication SYSTEM "pap-v16-2002-01-01.dtd" [ ]>\n'
    b"<patent-application-publication><subdoc-bibliographic-information>"
    b"<technical-information><title-of-invention>Gadget</title-of-invention>"
    b"</technical-information></subdoc-bibliographic-information>"
    b"<subdoc-abstract><paragraph>An abstract.</paragraph></subdoc-abstract>"
    b'<subdoc-description><heading lvl="1">BACKGROUND</heading><paragraph>'
    b"Body.</paragraph></subdoc-description><subdoc-claims><claim>"
    b"<claim-text>A gadget.</claim-text></claim></subdoc-claims>"
    b"</patent-application-publication>",
    "aps.txt": b"PATN\nWKU  039305000\nTTL  Apparatus\nABST\n"
    b"PAL  An abstract line.\nBSUM\nPAC  BACKGROUND\nPAR  Body text.\n"
    b"CLMS\nNUM  1.\nPAR  A claim.\n",
}


def _docx_lists() -> bytes:
    """Title, two heading styles, a numbered list with a nested level and a
    two-run item, then a bulleted list."""

    def para(runs: str, ppr: str = "") -> str:
        return f"<w:p><w:pPr>{ppr}</w:pPr>{runs}</w:p>"

    def style(sid: str) -> str:
        return f'<w:pStyle w:val="{sid}"/>'

    def num(nid: int, ilvl: int) -> str:
        return f'<w:numPr><w:ilvl w:val="{ilvl}"/><w:numId w:val="{nid}"/></w:numPr>'

    def run(text: str, rpr: str = "") -> str:
        return f'<w:r><w:rPr>{rpr}</w:rPr><w:t xml:space="preserve">{text}</w:t></w:r>'

    body = "".join((
        para(run("Lists"), style("Title")),
        para(run("First"), style("Heading1")),
        para(run("Body.")),
        para(run("one"), num(1, 0)),
        para(run("one.a"), num(1, 1)),
        para(run("two ", "<w:b/>") + run("plain"), num(1, 0)),
        para(run("Second"), style("Heading2")),
        para(run("bullet"), num(2, 0)),
        para(run("After.")),
    ))
    styles = "".join(
        f'<w:style w:type="paragraph" w:styleId="{sid}"><w:name w:val="{name}"/>'
        "</w:style>"
        for sid, name in (("Title", "Title"), ("Heading1", "heading 1"),
                          ("Heading2", "heading 2"))
    )
    numbering = (
        '<w:abstractNum w:abstractNumId="0"><w:lvl w:ilvl="0"><w:numFmt '
        'w:val="decimal"/></w:lvl><w:lvl w:ilvl="1"><w:numFmt '
        'w:val="lowerLetter"/></w:lvl></w:abstractNum><w:abstractNum '
        'w:abstractNumId="1"><w:lvl w:ilvl="0"><w:numFmt w:val="bullet"/>'
        '</w:lvl></w:abstractNum><w:num w:numId="1"><w:abstractNumId w:val="0"/>'
        '</w:num><w:num w:numId="2"><w:abstractNumId w:val="1"/></w:num>'
    )
    return corpus._zip_bytes({
        "word/document.xml": f"<w:document {corpus._W_NS}><w:body>{body}"
        "</w:body></w:document>",
        "word/styles.xml": f"<w:styles {corpus._W_NS}>{styles}"
        '<w:style w:type="paragraph" w:default="1" w:styleId="Normal">'
        '<w:name w:val="Normal"/></w:style></w:styles>',
        "word/numbering.xml": f"<w:numbering {corpus._W_NS}>{numbering}"
        "</w:numbering>",
    })


def _pptx_deck() -> bytes:
    """One slide: a title placeholder, then a shape with a bullet, an
    indented auto-numbered paragraph and a plain one."""
    ns = ('xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
          'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
          'relationships"')

    def shape(ph: str, paras: str) -> str:
        return (f"<p:sp><p:nvSpPr><p:cNvPr id=\"2\" name=\"s\"/><p:cNvSpPr/>"
                f"<p:nvPr>{ph}</p:nvPr></p:nvSpPr><p:spPr><a:xfrm>"
                '<a:off x="100" y="200"/><a:ext cx="300" cy="400"/></a:xfrm>'
                f"</p:spPr><p:txBody>{paras}</p:txBody></p:sp>")

    def para(text: str, ppr: str = "") -> str:
        return f"<a:p>{ppr}<a:r><a:t>{text}</a:t></a:r></a:p>"

    slide = (
        f"<p:sld {ns}><p:cSld><p:spTree>"
        + shape('<p:ph type="title"/>', para("Deck title"))
        + shape("", para("bullet one", '<a:pPr><a:buChar char="-"/></a:pPr>')
                + para("numbered", '<a:pPr lvl="1"><a:buAutoNum '
                       'type="arabicPeriod"/></a:pPr>')
                + para("plain"))
        + "</p:spTree></p:cSld></p:sld>"
    )
    rels_ns = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
    return corpus._zip_bytes({
        "ppt/presentation.xml": f"<p:presentation {ns}><p:sldIdLst>"
        '<p:sldId id="256" r:id="rId2"/></p:sldIdLst>'
        '<p:sldSz cx="9144000" cy="6858000"/></p:presentation>',
        "ppt/_rels/presentation.xml.rels": f"<Relationships {rels_ns}>"
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/slide" Target="slides/slide1.xml"/>'
        "</Relationships>",
        "ppt/slides/slide1.xml": slide,
    })


def _html_case(body: str) -> bytes:
    if body.startswith("<html>"):
        return body.encode()
    return f"<html><body>{body}</body></html>".encode()


def _cases() -> dict[str, tuple[str, bytes, str]]:
    """case id -> (url, blob, content type)."""
    cases = {
        f"cli:{name}": (BASE + name, raw, fmt)
        for name, (raw, fmt) in {**CONVERTED, **SKIPPED}.items()
    }
    texts = {i: " ".join(WORDS[: 3 + i % 7]) for i in (1, 17, 250)}
    for i, text in {**texts, 42: LONG}.items():
        for name, raw in (
            (f"{i}.pdf", corpus.synth_pdf_bytes(i, text)),
            (f"{i}-img.pdf", corpus.synth_pdf_images_bytes(i)),
            (f"{i}-struct.pdf", corpus.synth_pdf_structured_bytes(i, text)),
            (f"{i}.ofd", corpus.synth_ofd_bytes(i, text)),
            (f"{i}.docx", corpus.synth_docx_bytes(i, text)),
            (f"{i}.xlsx", corpus.synth_xlsx_bytes(i)),
            (f"{i}.xml", corpus.synth_uspto_bytes(i, text)),
        ):
            cases[f"synth:{name}"] = (BASE + name, raw, sniff_content_type(name, raw))
    long = LONG.encode()
    for name, raw in (
        ("long.html", b"<html><body><h1>T</h1><p>" + long + b"</p></body></html>"),
        ("long.md", b"# T\n\n" + long + b"\n"),
        ("long.adoc", b"= T\n\n" + long + b"\n"),
        ("long.vtt", b"WEBVTT\n\n00:00.000 --> 00:01.000\n" + long + b"\n"),
        ("long.nxml", JATS_NO_DTD.replace(b"Hello jats", long)),
        ("long.doctags.txt", b"<doctag><text>" + long + b"</text>\n</doctag>"),
        ("long.csv", b"K,V\nk1," + long + b"\n"),
    ):
        cases[f"long:{name}"] = (BASE + name, raw, sniff_content_type(name, raw))
    for k, ct in enumerate(CONTENT_TYPES):
        junk = random.Random(1000 + k).randbytes(300)
        cases[f"junk:{ct}"] = (BASE + f"junk-{ct}", junk, ct)
    pdf = corpus.synth_pdf_bytes(3, "three words here")
    mets = mets_tar_gz()
    cases.update({
        "edge:truncated.pdf": (BASE + "truncated.pdf", pdf[: len(pdf) // 2], "pdf"),
        "edge:blank.pdf": (BASE + "blank.pdf", corpus._pdf_file([]), "pdf"),
        "edge:encrypted.pdf": (
            BASE + "encrypted.pdf", encrypt_pdf_rc4(pdf, "secret"), "pdf"),
        "edge:links.html": (BASE + "sub/links.html", HTML_LINKS, "html"),
        "edge:empty": (BASE + "empty.html", b"", "html"),
        "edge:oversize": (BASE + "big.html", b"<html>" + b"x" * 64, "oversize"),
        "edge:other": (BASE + "notes.txt", b"plain prose\n", "other"),
        "edge:book.tar.gz": (BASE + "book.tar.gz", mets, sniff_content_type("book.tar.gz", mets)),
        "edge:table.nxml": (BASE + "table.nxml", JATS_TABLE, "jats"),
    })
    for name, body in HTML_CASES.items():
        cases[f"html:{name}"] = (BASE + f"{name}.html", _html_case(body), "html")
    for name, raw in {**STRUCT_CASES, "lists.docx": _docx_lists(),
                      "deck.pptx": _pptx_deck()}.items():
        cases[f"struct:{name}"] = (BASE + name, raw, sniff_content_type(name, raw))
    return cases


CASES = _cases()


def _digest(url: str, blob: bytes, ct: str) -> str:
    h = hashlib.sha256()
    for mode in ("none", "url"):
        for flags in FLAG_SETS:
            row = _extract_one(url, blob, ct, mode, 60.0, **flags)
            row.pop("proc_ms")
            h.update(json.dumps(row, sort_keys=True, default=str).encode())
            h.update(b"\n")
    return h.hexdigest()


# case id -> sha256 of its six rows, generated before the backend router
# became a table
DIGESTS = {
    "cli:page.html": "d715e1795f7af7fe98fb5d2dbe79dd9a096ec16303870ad58e989dbee8ccbbb4",
    "cli:page": "d02b40be79cd62ad5cec1c7897152f669a9b7711975b2daba6af383f18ee4fe8",
    "cli:word.docx": "81ceca66939c011d20fb055ad79374b2fcd739252e68ba650230c575429250cf",
    "cli:sheet.xlsx": "621087788e3652206222e99ab2c6aee1314ff44d815b9cd3b15936ed0ac0e4e8",
    "cli:book.ofd": "41ba2a2eba5bbe336719c448fe067687ed7408e31fdfc38ccffbf214d3e3aef9",
    "cli:patent.xml": "0350f7154f275cea9e681b587b5bea10f831454d09b73f1be59b84cdab3ab226",
    "cli:table.csv": "1afbce2b44019ba29762d6c928de25249a2f0b2d0fbd8cb13a873b195691bf7b",
    "cli:table": "85c006834a0da07fd91a52d7c1ea1d04bcc5917e75e27571ac61410513290aa8",
    "cli:notes.md": "55f9e6d742341903041b802584e48984487df8e37e11efb580b588db1611a32b",
    "cli:notes.adoc": "50e5c8379065cf4cf52a88787f3bd5e911a9feff5a3d1283cd64fe7b28e6181b",
    "cli:subs.vtt": "6b2ecfd7c837e66267be21e7f8e4af749454018b8fa418c12c3dfe30007e8118",
    "cli:subs.html": "399b7a8558abb2899f898d3e53a54275217a486a1fb6122e7a5101ddd89c0854",
    "cli:page.doctags.txt": "2fa802f40a05425d43235dc31b0f86d5ca1e330d0f71f8330d6f0b5f08eb0cb9",
    "cli:article.nxml": "2b5924c231be1049e896c475dcb3199d49f6fc5180f3d0db418e992aaf908ada",
    "cli:page.json": "4513c22dbd3556b2720833be46646ca3fab14416fdbb0ed48991e188443e6f9e",
    "cli:doc.pdf": "305bcd9b441979eca4098a14809279d55fe5cd285fd5cfeda5a87989c87f17bb",
    "cli:struct.pdf": "1f3a2a365b3c69a395f89476fe4a8dd6d6ada4e9de70227abacb840aa122fd4b",
    "cli:book.tar.gz": "278d7cece4bf2314689b3d54ca4011d57d3f4f716bb86e86312ce38e4b9a0ba4",
    "cli:notes.txt": "5570ba033571d5ab294660f2a4d952e86e170e2854a09fde716ec6280638e748",
    "cli:empty.txt": "260438f423f84dd9d53d16a6e2fb84d80d34c71584cd2d6ee0c5661d427f3fa1",
    "cli:blob.bin": "5570ba033571d5ab294660f2a4d952e86e170e2854a09fde716ec6280638e748",
    "cli:img.png": "9d658a17b36a43e14618f21e2c8ece658330652b22212f2d18455398c636d082",
    "cli:arch.gz": "1b47a17106edf9ba921e05f1d6abfe721c70c3da2a1d03575991dd19d3475051",
    "synth:1.pdf": "80f6372551db7b62c21829aaf4bc68b32d95bf8e672a1fe8838ed7d5496d05fb",
    "synth:1-img.pdf": "79dedb5d679e1d9ee2696397aaee0d0b37f639f635235cb4f8e2a6a48acb6700",
    "synth:1-struct.pdf": "d5141cb7ac6a7fe7f02167084f3c27c448974c621ddfde5738d48fe654766916",
    "synth:1.ofd": "036eeefa9d48189cbaca87ce6c4770d6bb76440647d5fe477d24010bf801f62a",
    "synth:1.docx": "51d02bbec3db7637c388320f9614dfa0df414a0fccd41e9426e397807b867ebb",
    "synth:1.xlsx": "9201de4c4193c65b00d238b45a43c0007d06a6897fe2e78ce004a13deff8b393",
    "synth:1.xml": "b6a6f528cfa86d29f6142f67a0a9ba6be879636339f7eeae10221a9b5e234a77",
    "synth:17.pdf": "28ee99564836cd60348e9bd9b770b1ca88a697b7564f99e0753952095a717db9",
    "synth:17-img.pdf": "d7cac80bdb88a3bf9f0e1a0ca3edaceb048d7ff60f5af653785b3d747e4b86d4",
    "synth:17-struct.pdf": "a4d2bd4c0f09bc6c275f203083f7c94beeb9759726e17803a7b4b2bd49b9e065",
    "synth:17.ofd": "99b44ba98c62090f23ebecbb6424e92bba813952c220e588444b462b81bf810b",
    "synth:17.docx": "2c1bc19ba684d7878c3ba2700131983f86179710b7f55a39e56bd39884ee6a1d",
    "synth:17.xlsx": "e8fafe6da8e53486d91e59e8c5f6843da64dbdbd09654049b3f83a56e773f891",
    "synth:17.xml": "29a8b169d8531cc52deb6bbbc8258a91d8fca88738d61262b046cb833c00834d",
    "synth:250.pdf": "c49c19990e4730e27063aaf03662ccc9cff6030e0054e6af47095f9e4ad796e2",
    "synth:250-img.pdf": "e01f91c17141bc523beb51d9de1e8af13adb3764abeffddc2921ef3c91d6ebb7",
    "synth:250-struct.pdf": "b7bbed2e632063cf7439e9911832b16c720d9666cdc011ae33bd64184c0d5443",
    "synth:250.ofd": "5908665c52aaab753679f5177d5844e84296baaa30111d0d99b32256beaf8f71",
    "synth:250.docx": "4b07ab45183bc1bc1405c9f409326a5df6a81acdc5160aed828e6a1eb03d083b",
    "synth:250.xlsx": "d5b89cb22b3aefde824998eacf20349ca43c3b2bdaf4ac74b04f865284cafe86",
    "synth:250.xml": "99aeb34b22cadf20fb06ce9f4d46c8c7ef13ffed5250f98902ea78e326d1d0a9",
    "synth:42.pdf": "5b3f6c998707822ddc888af26181452c259282ef430214e9e955936145b69387",
    "synth:42-img.pdf": "7b2e1dede4474f7c21fe241d5e636ecc3e976fca5e6f7ab79766117c651f8d6a",
    "synth:42-struct.pdf": "405aee95717f88c330b811d1e2e69033e173c7942f9216a15db1c941a2b5152e",
    "synth:42.ofd": "77034fbeb7694320cf70a7acb8cdc78f8a9448c9731c14116fbb3aca5a6887bd",
    "synth:42.docx": "6651077a7cd093df22cc54853dc3994fb8e95bce55612c1d8a86df1a94f7e011",
    "synth:42.xlsx": "6dacddd68025665909295097d318ad446d596b0d24a2756beb50b8294cea4126",
    "synth:42.xml": "893cf7726fe4530dab340f1e70a0516ea3ca4d74d6c94a840bf33c826be08ded",
    "long:long.html": "bef9c5bfb67717edcd7f7acffc3ea6d47ea5f69d0cf3e8bc32eb2d65e06642fc",
    "long:long.md": "8c49da3bc845d2244eaebd7f5e2d5304d80204072ef13bbcbf55e3144a46fe59",
    "long:long.adoc": "fb10016c041256c9058c083da569d4f2f173df8bf0fc7ccd9cca37f3ff808adb",
    "long:long.vtt": "1efbb965c1be01cc71fdf96babc16577b3d0146f540dc93b953012eb1830fa2b",
    "long:long.nxml": "359f272ccc7a3b10ef746ce6b1f76a4d373526931bc92e998e51c5c1559b4dd6",
    "long:long.doctags.txt": "eca33a74a95604e92dbe518141597b8dd2fc4223cc1054bd46cacc4d4f6968a1",
    "long:long.csv": "fea1897a4dd5d53a80acad2fae29cffc32e94bb7f2f52c5e453c0efef16596ac",
    "junk:pdf": "3374c5cf5e29a0743434c884f12793a8e0e3fe55320365afc6ea84e74c98b066",
    "junk:html": "5f994b6c8681999b2bc39896778a463906150f622798089fe4d0ba5084a1e3dd",
    "junk:csv": "8a24df7eae207d9b4a7f3449f66d3c564006724fedffe794bece3d50f6da7967",
    "junk:vtt": "a83bb3a83f70de7e3908bda229c9684cc0291964efe49c58bfedf65d6fa51cb6",
    "junk:md": "1d3efa3b70ff60d9c9e074bb79613026382fb0a7a83effe51a1bdf8f9b06573a",
    "junk:asciidoc": "98db0043347f3d18501512cd320b074993970af0de4570401493fde396233598",
    "junk:jats": "0913e6b62f9294ed142f0e0ff9d1da0921bd752653c7c4b1a78e93fc11418aaa",
    "junk:uspto": "de4b6ffa5f728ad85fb14105021bb409c57a933d1ed8f02f30cae86e6bb99cb3",
    "junk:ofd": "fa5e387f944c61f281b70e9099050fedde96c73cd17f5e7c3bf0c03ad62b2cc9",
    "junk:docx": "fa5e387f944c61f281b70e9099050fedde96c73cd17f5e7c3bf0c03ad62b2cc9",
    "junk:xlsx": "fa5e387f944c61f281b70e9099050fedde96c73cd17f5e7c3bf0c03ad62b2cc9",
    "junk:pptx": "fa5e387f944c61f281b70e9099050fedde96c73cd17f5e7c3bf0c03ad62b2cc9",
    "junk:mets_gbs": "a08617760379366d3d3852acebf54edce8d58179bf46a0d6be2dc96aebd8dffb",
    "junk:image": "5c29a5b55da1957760033b542afd97b48d044184751e04d09515d4b73a5ed9f4",
    "junk:audio": "dd3b2c150834ee032f165eb301a5a27d739c0234779f8d0a215b86323ce64c48",
    "junk:docling_json": "7706732cd414c64d79f24d9c349789b40c0bee0d55e1542d049a073a1a49b120",
    "junk:doctags": "16e4fa8c385c01a2e6c081cbacccc3cdb533a9dfb1b0a5d4aad5ede13f0d2620",
    "edge:truncated.pdf": "e28bd22c0badbe4b7ee6c666be25d82d62db6f14d24beea337674bc12e890178",
    "edge:blank.pdf": "e28bd22c0badbe4b7ee6c666be25d82d62db6f14d24beea337674bc12e890178",
    "edge:encrypted.pdf": "d1f29c91f6a7b8f3f148ba05bf41b4f0179e9c7e218d51dc6524bcf2f5ad05fc",
    "edge:links.html": "31a6138347b7ceca6f9e68265bc4536a6e33d47a45fede6eb37d81076e710c23",
    "edge:empty": "260438f423f84dd9d53d16a6e2fb84d80d34c71584cd2d6ee0c5661d427f3fa1",
    "edge:oversize": "5570ba033571d5ab294660f2a4d952e86e170e2854a09fde716ec6280638e748",
    "edge:other": "5570ba033571d5ab294660f2a4d952e86e170e2854a09fde716ec6280638e748",
    "edge:book.tar.gz": "278d7cece4bf2314689b3d54ca4011d57d3f4f716bb86e86312ce38e4b9a0ba4",
    "edge:table.nxml": "a2cb4388441fe4275a72aa05c5cc3b3d262c61c35347ea89ad80877daa130d2e",
    "html:thead_tbody": "5827681b3a0c6bc98155baa2093c3024b78a96ed4e3a90d5c5530c5c15265bb6",
    "html:thead_holds_tbody": "a11e13cd5076723969a2e8747bc00a0e4afb935b098fe774e32c846f0e4f4652",
    "html:spans": "42e99b336021b3b34b738f082b45f6aad5e442fad0d2ba43afa9c77f24f45266",
    "html:th_rowspan_row": "175fc8d991be40004d6836f60592b8983235dd2edce9ad49daa21fcb53b497f7",
    "html:rich_cells": "bee27b7e3acdaa6d8752e505f00408f5dddf16f120c89be41c6d70b4378275ac",
    "html:formula_block": "8ec6083a2961a3663ec169996a4f38ba98be7b6f28d35b379c2d50536d665958",
    "html:formula_plain": "5c353594153722c98ec66f70e98b5c74cb4d543e14bcb4d07662f1e7afb55300",
    "html:ul_in_ul": "d26bc43d81e68b7e8b376f03c84a7bc8050cd75b383bc0073ab5c0f7604ee736",
    "html:li_runs_sublist": "913d50f2d16f2364c30341f5267f288bb3385801971222c705487fe3eb5a21ec",
    "html:ol_start": "7ca1cee4643029e3566e08204c35cba3cec97f8435ad235d81ce5455d44e7b4d",
    "html:a_b_span": "dafe1cc9e6877810df927530ba4c813a8b7b98d95cc977ded45e15d9366959b9",
    "html:a_empty_href": "eff3fc03443225248e82c53bfbe3ff182548c804d50441f3129273d4f3f4083c",
    "html:hidden_in_hidden": "20b19d8303e69725c50ff479af2e7e934b4dd9d57db885cd43c9c42b29bbfc9f",
    "html:noscript_holds": "45bb2b7811b9b4734c1feb8dd30c8bf4caee76024e2c5eafad1679b63e28e889",
    "html:two_bodies": "4fa38a05b10a2c3092cf9e9f60eb4450ba18d12e84cfff5a7b1969429c3478ad",
    "html:br_before_body": "0fa031d437d070048eb935777681ec4616ab9be8bbe5f306e6aeef54ac84da8a",
    "html:headings_in_table": "774d65d9b5133fa93e1ae4045df2283b9457c9cebca3a4e178b4a7d6b7c9c862",
    "html:h1_h4": "b3fd301070d18704dceacfc91de459676b600a4fde64b1dea1ec3a9b1a357b7a",
    "html:footer_details_pre": "ec3a0dd5cfb7f06ed5cc27944317a5a263e7f964ba39fd74b5ccc0a284ad1e9e",
    "html:figure": "24a9d29316d9deb92479b801d312abf8659891a3b0ca0d51061c2a652c876ba2",
    "html:img_in_a": "51eeb50c011d9b3585751682a980c1588a5636ae160fa71a8234482343527a0a",
    "html:over_max_depth": "c6c3828e428a55a139bb94af0b3182035efcee9affd6540a3e3f2e8bae9197c1",
    "html:title_in_body": "0c194c9d7425fe428cfdeaff044621520ddfd8e6aa5be2b0e584793b419f5dfb",
    "html:removed_body_first": "d5966a3856fc25d6315f952e9633b67b912d7b6c94a007cb6ada70a6eaf15cf3",
    "html:removed_heading": "80e15d2944a2c37cdc1faba2891a35c4cd2eb36ac16d5abcb927a9e357f66f69",
    "html:annotation_above_body": "d365b80114cb15138a941a515629e357a2cac60c4b5727a25bb90733f577ed9f",
    "html:doctype_mid_text": "7fff7bf3c4889282e30623085a38199f0109ae453f4f410d2ac59682237227ae",
    "html:code_kbd_samp_br": "b58c70eb8caec8e118dc9c93bdf4e960bdaf8332a573ada668c518bf235cb2ad",
    "html:code_bold_italic": "ed72b6051808ca4942b9649784b73677ec5df0cd8aabbc7dc1958c7d40c16bd1",
    "html:code_multiline": "368dace728c383aaf6c2c4dc35feaf1d8f7f7c5e77c5328c84e6bbd0c8608d35",
    "html:li_text_code_link_sublist": "856113d682384ba9922c180d84c049df78a1e928d5411015892e8321d3a75745",
    "html:div_flush": "193be8771dcbd3e7ae6206eebd3739763c224700290cdb4d446da6736adf838f",
    "html:address_summary": "8ddc37c9016cdcc433c68a46758ef6acc140cf703aabeb1941114c564680820b",
    "html:pre_code": "ba460df77a83d35b5df0354e44753c93610d2b908ba5f217cc02db820b35789f",
    "html:table_code_cells": "66d28721117436eb28ead9cbc9155f54f253a68f54fccca387f68248d9e01278",
    "html:p_self_closing": "80d162b5e458521f37cca1e2cf23ca5622e8be2af419047e98de6c598bc2c055",
    "html:attr_entities_unicode_space": "02c72c6b9336cdd12a5b0ea6e2151033d8e89a3f67bee2daf05bfcbae8f9a2a0",
    "html:upper_case_duplicate_attrs": "a16eddd52468ce2c9656c1c06efe9fd52fa79d8b91cbbc61809a316333fcf1bb",
    "struct:lists.md": "4c0f6fc1bc5d207c759eeceb6796da50bdaa0419f87ea51d9144ae6d7e786231",
    "struct:lists.adoc": "0dc3f69c64823456efc5f7d7123899ba4340143b73575d6020579d87404ec6b2",
    "struct:lists.doctags.txt": "5a9532d16b4ac12c31984d487b8c6ea7359112240aa72ebfb73a24208c6b73e5",
    "struct:lists.nxml": "29a36bee153e2a0b6f5212d938254007218372e0fb9c49e2f6630d9790e80f8f",
    "struct:ice.xml": "c226de73be823f9c1b35baead7ec18ea0b93eae1c2e09f147846530c4f7a34bd",
    "struct:grant-v2.xml": "71d70b8858c1062350e55334aed357b5e500a11122938c45965b0ba8f54ca27b",
    "struct:app-v1.xml": "f5c6b36112fd41390ebc9989032690a5caeb34ae185f9bcaf59a67284d42cbf2",
    "struct:aps.txt": "717ead80a174b97b23e8165e9c15a31fd67aab258b74416fcd0c043f0daff4d5",
    "struct:lists.docx": "d2bac4aff3d711e789cf551878f819b01b37ec6e71e3de8af380aa018fceabc6",
    "struct:deck.pptx": "b23440811a44c505d814f6aac9b53402a8a154d5d7ab743157eda4ae78a41c0f",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_backend_output_locked(case):
    url, blob, ct = CASES[case]
    assert _digest(url, blob, ct) == DIGESTS[case]


def test_every_case_is_locked():
    assert sorted(DIGESTS) == sorted(CASES)


def test_mets_fixture_converts():
    """The in-test METS archive takes the success path, so the lock covers
    the METS backend, not just its skip branch."""
    url, blob, ct = CASES["edge:book.tar.gz"]
    assert ct == "mets_gbs"
    row = _extract_one(url, blob, ct, "none", 60.0, with_doctags=True)
    assert row["status"] == "success", row["error"]
    assert "stormy night" in row["extracted_text"] and row["doctags"]


def test_every_content_type_has_exactly_one_route():
    """The conversion tables partition CONTENT_TYPES, and every backend
    name in CONVERSIONS resolves to a callable."""
    import importlib

    from docling_spark import job

    routes = [*job.CONVERSIONS, *job.RESULT_TYPES, *job.NO_TEXT]
    assert sorted(routes) == sorted(CONTENT_TYPES)
    for module, func, *_ in job.CONVERSIONS.values():
        assert callable(getattr(importlib.import_module(module, "docling_spark"), func))


@pytest.mark.parametrize("case", ["cli:page.html", "synth:1-struct.pdf", "edge:book.tar.gz"])
def test_late_failure_row_carries_only_status_and_error(monkeypatch, case):
    """A step that raises after the backend succeeded (here DocTags) leaves
    a failure row with no field of the partial result."""
    from docling_spark import serialize_doctags

    def boom(doc):
        raise RuntimeError("doctags broke")

    monkeypatch.setattr(serialize_doctags, "to_doctags", boom)
    url, blob, ct = CASES[case]
    row = _extract_one(url, blob, ct, "none", 60.0, with_doc_json=True, with_doctags=True)
    assert row.pop("proc_ms") >= 0
    assert row == {**dict.fromkeys(row), "status": "failure",
                   "error": "RuntimeError: doctags broke"}


if __name__ == "__main__":
    for case, (url, blob, ct) in CASES.items():
        print(f'    "{case}": "{_digest(url, blob, ct)}",')
