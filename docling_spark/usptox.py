"""USPTO patent backend: grant/application XML + APS text → SpanDoc.

Re-derives the observable behavior of the reference
PatentUsptoDocumentBackend
(/root/reference/docling/backend/xml/uspto_backend.py:60-1905 — the file
formats are the public USPTO bulk-data dialects, https://bulkdata.uspto.gov,
and the table model is the public OASIS Exchange Table Model):

- parser selection from the DOCTYPE line (or the APS ``PATN`` record):
  v4.x ICE grants/applications, v2.5 grants, v1.x applications, APS text;
- stdlib ``xml.sax`` handlers (same public API the reference uses) with
  the same element state machines: title → TITLE item + level bump,
  headings with level attributes, ABSTRACT/CLAIMS pseudo-sections at
  level 2, claim-text accumulation quirks, sup/sub styling via unicode
  super/subscript HTML entities, ISO-8879 greek entity mapping;
- tables: placeholder TableItems during the SAX pass, then the raw
  ``<table>…</table>`` fragments re-parsed with the OASIS
  colspec/tgroup/entry machinery (unified offsets across tgroups,
  namest/nameend column ranges with cell replication, empty-row drop,
  padded short rows);
- APS: two-column line format with section captions and claim-number
  paragraph merging.

Golden contract: byte-identical md + itxt + json vs the 5 reference
golden sets (ipa*, pa*, pg*, pftaps*).
"""

from __future__ import annotations

import html
import re
import xml.sax
import xml.sax.handler
from typing import Optional

from .model import SpanDoc, TableCellSpec

ABSTRACT_HEADING = ("ABSTRACT", 2)
CLAIMS_HEADING = ("CLAIMS", 2)

_TABLE_RE = re.compile(r"^(<table .*?</table>)", re.MULTILINE | re.DOTALL)


# ----------------------------------------------------------- entity styling
_SUPERSCRIPT = str.maketrans(
    {
        "1": "¹", "2": "²", "3": "³", "4": "⁴", "5": "⁵", "6": "⁶",
        "7": "⁷", "8": "⁸", "9": "⁹", "0": "⁰", "+": "⁺", "-": "⁻",
        "−": "⁻", "=": "⁼", "(": "⁽", ")": "⁾", "a": "ª", "o": "º",
        "i": "ⁱ", "n": "ⁿ",
    }
)
_SUBSCRIPT = str.maketrans(
    {
        "1": "₁", "2": "₂", "3": "₃", "4": "₄", "5": "₅", "6": "₆",
        "7": "₇", "8": "₈", "9": "₉", "0": "₀", "+": "₊", "-": "₋",
        "−": "₋", "=": "₌", "(": "₍", ")": "₎", "a": "ₐ", "e": "ₑ",
        "o": "ₒ", "x": "ₓ",
    }
)
_MATH_ITALIC = str.maketrans(
    {
        c: chr(0x1D44E + (ord(c) - ord("a")))
        for c in "abcdefghijklmnopqrstuvwxyz"
        if c != "h"
    }
    | {c: chr(0x1D434 + (ord(c) - ord("A"))) for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" if c != "X"}
    | {"h": "ℎ"}
)

# ISO 8879 greek entity → standard HTML entity (public SGML entity set)
_ISO8879 = {
    "Agr": "Alpha", "Bgr": "Beta", "Ggr": "Gamma", "Dgr": "Delta",
    "Egr": "Epsilon", "Zgr": "Zeta", "EEgr": "Eta", "THgr": "Theta",
    "Igr": "Iota", "Kgr": "Kappa", "Lgr": "Lambda", "Mgr": "Mu",
    "Ngr": "Nu", "Xgr": "Xi", "Ogr": "Omicron", "Pgr": "Pi",
    "Rgr": "Rho", "Sgr": "Sigma", "Tgr": "Tau", "Ugr": "Upsilon",
    "PHgr": "Phi", "KHgr": "Chi", "PSgr": "Psi", "OHgr": "Omega",
    "agr": "alpha", "bgr": "beta", "ggr": "gamma", "dgr": "delta",
    "egr": "epsilon", "zgr": "zeta", "eegr": "eta", "thgr": "theta",
    "igr": "iota", "kgr": "kappa", "lgr": "lambda", "mgr": "mu",
    "ngr": "nu", "xgr": "xi", "ogr": "omicron", "pgr": "pi",
    "rgr": "rho", "sgr": "sigmaf", "tgr": "tau", "ugr": "upsilon",
    "phgr": "phi", "khgr": "chi", "psgr": "psi", "ohgr": "omega",
}


def _greek_from_iso8879(entity: str) -> str:
    name = entity[1:-1]
    return f"&{_ISO8879[name]};" if name in _ISO8879 else entity


def _sup(text: str) -> str:
    return text.translate(_SUPERSCRIPT)


def _sub(text: str) -> str:
    return text.translate(_SUBSCRIPT)


# ================================================================= doc shim
class _Doc:
    """Thin DoclingDocument-role shim over SpanDoc: the handlers address
    items by object, and tables[] must be patchable after the SAX pass."""

    def __init__(self) -> None:
        self.doc = SpanDoc("file")
        self.tables = []

    def add_title(self, text: str, parent=None):
        return self.doc.add_text(
            "title", text, parent=parent.idx if parent else None
        )

    def add_heading(self, text: str, level: int, parent=None):
        return self.doc.add_text(
            "section_header", text, parent=parent.idx if parent else None, level=level
        )

    def add_paragraph(self, text: str, parent=None):
        return self.doc.add_text(
            "paragraph", text, parent=parent.idx if parent else None
        )

    def add_table_placeholder(self, parent=None):
        tbl = self.doc.add_table(
            num_rows=0, num_cols=0, parent=parent.idx if parent else None
        )
        self.tables.append(tbl)
        return tbl


# ====================================================== v4.x ICE (2005–now)
class _IceHandler(xml.sax.handler.ContentHandler):
    DOC_ELEMENTS = ("us-patent-application", "us-patent-grant")
    SUP_TAG = "sup"
    SUB_TAG = "sub"
    # tag → is_text
    ELEMENTS = {
        "abstract": True,
        "invention-title": True,
        "claims": False,
        "claim": False,
        "claim-text": True,
        "p": True,
        "heading": True,
        "description": False,
        "table": False,
        "description-of-drawings": True,
        "sup": True,
        "sub": True,
        "maths": False,
    }

    def __init__(self) -> None:
        super().__init__()
        self.docw: Optional[_Doc] = None
        self.level = 1
        self.parents: dict[int, Optional[object]] = {1: None}
        self.text = ""
        self._clean()

    def _clean(self):
        self.property: list[str] = []
        self.claim = ""
        self.claims: list[str] = []
        self.abstract = ""

    # -- SAX callbacks -------------------------------------------------
    def startElement(self, tag, attributes):
        if tag in self.DOC_ELEMENTS:
            self.docw = _Doc()
            self.text = ""
        self._start(tag, attributes)

    def endElement(self, tag):
        if tag in self.DOC_ELEMENTS:
            self._clean()
        self._end(tag)

    def characters(self, content):
        self._chars(content)

    def skippedEntity(self, name):
        if not self.property:
            return
        elm = self.property[-1]
        if not self.ELEMENTS.get(elm, False):
            return
        escaped = _greek_from_iso8879(f"&{name};")
        unescaped = html.unescape(escaped)
        if unescaped == escaped:
            return
        if elm in (self.SUP_TAG, self.SUB_TAG):
            if len(self.property) < 2:
                return
            if self.ELEMENTS.get(self.property[-2], False):
                self.text += self._style(unescaped, elm)
        else:
            self.text += unescaped

    def _chars(self, content):
        if not self.property:
            return
        elm = self.property[-1]
        if not self.ELEMENTS.get(elm, False):
            return
        if elm in (self.SUP_TAG, self.SUB_TAG):
            if len(self.property) < 2:
                return
            if self.ELEMENTS.get(self.property[-2], False):
                self.text += self._style(content, elm)
        else:
            self.text += content

    def _style(self, text: str, tag: str) -> str:
        if tag == self.SUP_TAG:
            return html.unescape(_sup(text))
        if tag == self.SUB_TAG:
            return html.unescape(_sub(text))
        return text

    # -- state machine -------------------------------------------------
    def _start(self, tag, attributes):
        if tag not in self.ELEMENTS:
            return
        if (
            tag == "claim-text"
            and self.property
            and self.property[-1] == tag
            and self.text.strip()
        ):
            self.claim += " " + self.text.strip()
            self.text = ""
        elif tag == "heading":
            level_attr = attributes.get("level", "")
            new_level = int(level_attr) if level_attr.isnumeric() else 1
            max_level = min(self.parents.keys())
            self.level = (
                new_level + 1 if (new_level + 1) in self.parents else max_level
            )
        self.property.append(tag)

    def _end(self, tag):
        if tag in self.ELEMENTS and self.property:
            current = self.property.pop()
            self._add(current, self.text.strip())

    def _add(self, name: str, text: str) -> None:
        if not name or not self.docw:
            return
        d = self.docw
        if name == "invention-title":
            if text:
                self.parents[self.level + 1] = d.add_title(
                    text, parent=self.parents[self.level]
                )
                self.level += 1
            self.text = ""
        elif name == "abstract":
            if self.abstract:
                h_text, h_level = ABSTRACT_HEADING
                h_level = h_level if h_level in self.parents else 1
                item = d.add_heading(
                    h_text, h_level, parent=self.parents[h_level]
                )
                d.add_paragraph(self.abstract, parent=item)
        elif name == "claim-text":
            text = re.sub(r"\s+", " ", text).strip()
            if text:
                self.claim += " " + text
            self.text = ""
        elif name == "claim" and self.claim:
            self.claims.append(self.claim.strip())
            self.claim = ""
        elif name == "claims" and self.claims:
            h_text, h_level = CLAIMS_HEADING
            h_level = h_level if h_level in self.parents else 1
            item = d.add_heading(h_text, h_level, parent=self.parents[h_level])
            for t in self.claims:
                d.add_paragraph(t, parent=item)
        elif name == "p" and text:
            text = re.sub(r"\s+", " ", text)
            if "abstract" in self.property:
                self.abstract = (
                    (self.abstract + " " + text) if self.abstract else text
                )
            else:
                d.add_paragraph(text, parent=self.parents[self.level])
            self.text = ""
        elif name == "heading" and text:
            self.parents[self.level + 1] = d.add_heading(
                text, self.level, parent=self.parents[self.level]
            )
            self.level += 1
            self.text = ""
        elif name == "table":
            d.add_table_placeholder(parent=self.parents[self.level])


# ======================================================= grants v2.5 (2002–04)
class _GrantV2Handler(xml.sax.handler.ContentHandler):
    DOC_ELEMENT = "PATDOC"
    ELEMENTS = {
        "PDAT": True,
        "SDOAB": False,
        "SDOCL": False,
        "B540": False,
        "CL": False,
        "CLM": False,
        "PARA": True,
        "H": True,
        "DRWDESC": False,
        "SP": False,
        "SB": False,
        "ITALIC": False,
        "CWU": False,
        "table": False,
    }

    def __init__(self) -> None:
        super().__init__()
        self.docw: Optional[_Doc] = None
        self.level = 1
        self.parents: dict[int, Optional[object]] = {1: None}
        self._clean()

    def _clean(self):
        self.text = ""
        self.property: list[str] = []
        self.claim = ""
        self.claims: list[str] = []
        self.paragraph = ""
        self.abstract = ""

    def startElement(self, tag, attributes):
        if tag == self.DOC_ELEMENT:
            self.docw = _Doc()
            self.text = ""
        if tag in self.ELEMENTS:
            if tag == "H" and "SDOCL" not in self.property:
                level_attr = attributes.get("LVL", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.parents.keys())
                self.level = (
                    new_level + 1
                    if (new_level + 1) in self.parents
                    else max_level
                )
            self.property.append(tag)

    def endElement(self, tag):
        if tag == self.DOC_ELEMENT:
            self._clean()
        if tag in self.ELEMENTS and self.property:
            current = self.property.pop()
            self._add(current, self.text)

    def characters(self, content):
        if not self.property:
            return
        elm = self.property[-1]
        if not self.ELEMENTS.get(elm, False):
            return
        if elm in ("SP", "SB"):
            if len(self.property) < 2:
                return
            if self.ELEMENTS.get(self.property[-2], False):
                self.text += self._style(content, elm)
        else:
            self.text += content

    def skippedEntity(self, name):
        if not self.property:
            return
        elm = self.property[-1]
        if not self.ELEMENTS.get(elm, False):
            return
        escaped = _greek_from_iso8879(f"&{name};")
        unescaped = html.unescape(escaped)
        if unescaped == escaped:
            return
        if elm in ("SP", "SB"):
            if len(self.property) < 2:
                return
            if self.ELEMENTS.get(self.property[-2], False):
                self.text += self._style(unescaped, elm)
        else:
            self.text += unescaped

    def _style(self, text: str, tag: str) -> str:
        if tag == "SP":
            return html.unescape(_sup(text))
        if tag == "SB":
            return html.unescape(_sub(text))
        if tag == "ITALIC":
            return html.unescape(text.translate(_MATH_ITALIC))
        return text

    def _add(self, name: str, text: str) -> None:
        if not name or not self.docw:
            return
        d = self.docw
        if name == "PDAT" and text:
            if not self.property:
                self.text = ""
                return
            wrapper = self.property[-1]
            text = self._style(text, wrapper)
            if "B540" in self.property and text.strip():
                self.parents[self.level + 1] = d.add_title(
                    text.strip(), parent=self.parents[self.level]
                )
                self.level += 1
            elif "SDOAB" in self.property:
                self.abstract += text
            elif "CLM" in self.property:
                self.claim += text
            elif (
                "PARA" in self.property
                and "CLM" not in self.property
                and "SDOAB" not in self.property
            ):
                self.paragraph += text
            elif (
                "H" in self.property
                and "SDOCL" not in self.property
                and text.strip()
            ):
                self.parents[self.level + 1] = d.add_heading(
                    text.strip(), self.level, parent=self.parents[self.level]
                )
                self.level += 1
            self.text = ""
        elif name == "CLM" and self.claim.strip():
            self.claims.append(self.claim.strip())
            self.claim = ""
        elif name == "CL" and self.claims:
            h_text, h_level = CLAIMS_HEADING
            h_level = h_level if h_level in self.parents else 1
            item = d.add_heading(h_text, h_level, parent=self.parents[h_level])
            for t in self.claims:
                d.add_paragraph(t, parent=item)
        elif name == "SDOAB" and self.abstract.strip():
            h_text, h_level = ABSTRACT_HEADING
            h_level = h_level if h_level in self.parents else 1
            item = d.add_heading(h_text, h_level, parent=self.parents[h_level])
            d.add_paragraph(self.abstract.strip(), parent=item)
        elif name == "PARA":
            paragraph = self.paragraph.strip()
            if paragraph and "CLM" not in self.property:
                d.add_paragraph(paragraph, parent=self.parents[self.level])
            elif "CLM" in self.property:
                self.claim += " "
            self.paragraph = ""
        elif name == "table":
            d.add_table_placeholder(parent=self.parents[self.level])


# ================================================== applications v1.x (2001–04)
class _AppV1Handler(_IceHandler):
    DOC_ELEMENTS = ("patent-application-publication",)
    SUP_TAG = "superscript"
    SUB_TAG = "subscript"
    ELEMENTS = {
        "brief-description-of-drawings": False,
        "subdoc-abstract": False,
        "title-of-invention": True,
        "subdoc-claims": False,
        "claim": False,
        "claim-text": True,
        "number": False,
        "paragraph": True,
        "heading": True,
        "superscript": True,
        "subscript": True,
        "table": False,
        "math-cwu": False,
    }

    def _style(self, text: str, tag: str) -> str:
        formatted = html.unescape(text)
        if tag == self.SUP_TAG:
            return html.unescape(_sup(formatted))
        if tag == self.SUB_TAG:
            return html.unescape(_sub(formatted))
        return formatted

    def _start(self, tag, attributes):
        if tag not in self.ELEMENTS:
            return
        if (
            tag == "claim-text"
            and self.property
            and self.property[-1] == tag
            and self.text.strip()
        ):
            self.claim += " " + self.text.strip("\n")
            self.text = ""
        elif tag == "heading":
            level_attr = attributes.get("lvl", "")
            new_level = int(level_attr) if level_attr.isnumeric() else 1
            max_level = min(self.parents.keys())
            self.level = (
                new_level + 1 if (new_level + 1) in self.parents else max_level
            )
        self.property.append(tag)

    def _add(self, name: str, text: str) -> None:
        if not name or not self.docw:
            return
        d = self.docw
        if name == "title-of-invention":
            title = text.strip()
            if title:
                self.parents[self.level + 1] = d.add_title(
                    title, parent=self.parents[self.level]
                )
                self.level += 1
            self.text = ""
        elif name == "subdoc-abstract":
            abstract = self.abstract.strip()
            if abstract:
                h_text, h_level = ABSTRACT_HEADING
                h_level = h_level if h_level in self.parents else 1
                item = d.add_heading(
                    h_text, h_level, parent=self.parents[h_level]
                )
                d.add_paragraph(self.abstract, parent=item)
                self.abstract = ""
            self.text = ""
        elif name == "claim-text":
            if text:
                self.claim += self.text.strip("\n")
            self.text = ""
        elif name == "claim":
            claim = self.claim.strip()
            if claim:
                self.claims.append(claim)
            self.claim = ""
        elif name == "subdoc-claims" and self.claims:
            h_text, h_level = CLAIMS_HEADING
            h_level = h_level if h_level in self.parents else 1
            item = d.add_heading(h_text, h_level, parent=self.parents[h_level])
            for t in self.claims:
                d.add_paragraph(t, parent=item)
        elif name in ("paragraph", "heading"):
            if text and "subdoc-abstract" in self.property:
                self.abstract = (self.abstract + text) if self.abstract else text
            elif text.strip():
                text = re.sub(r"\s+", " ", text).strip()
                if name == "heading":
                    self.parents[self.level + 1] = d.add_heading(
                        text, self.level, parent=self.parents[self.level]
                    )
                    self.level += 1
                else:
                    d.add_paragraph(text, parent=self.parents[self.level])
            self.text = ""
        elif name == "table":
            d.add_table_placeholder(parent=self.parents[self.level])

    # AppV1 raw text is passed unstripped to _add (reference passes
    # self.text, not stripped) — override _end accordingly
    def _end(self, tag):
        if tag in self.ELEMENTS and self.property:
            current = self.property.pop()
            self._add(current, self.text)


# ========================================================== grants APS (1976–01)
class _ApsParser:
    SECTIONS = {"ABST", "BSUM", "DETD", "CLMS", "DRWD"}
    PARAGRAPH_FIELDS = ("PAR", "PA1", "PA2", "PA3")

    def __init__(self) -> None:
        self.docw = _Doc()
        self.level = 1
        self.parents: dict[int, Optional[object]] = {1: None}

    def _last_text_item(self):
        parent = self.parents[self.level]
        doc = self.docw.doc
        parent_idx = parent.idx if parent is not None else 0
        children = doc.items[parent_idx].children
        texts = [
            doc.items[c]
            for c in children
            if doc.items[c].kind == "text"
            and doc.items[c].label not in ("section_header", "title")
        ]
        return texts[-1] if texts else None

    def store_section(self, section: str) -> None:
        if section == "ABST":
            heading = ABSTRACT_HEADING
        elif section == "CLMS":
            heading = CLAIMS_HEADING
        else:
            return
        h_text, h_level = heading
        self.level = h_level if h_level in self.parents else 1
        self.parents[self.level + 1] = self.docw.add_heading(
            h_text, self.level, parent=self.parents[self.level]
        )
        self.level += 1

    def store_content(self, section: str, field: str, value: str) -> None:
        if field == "TTL":
            self.parents[self.level + 1] = self.docw.add_title(
                value, parent=self.parents[self.level]
            )
            self.level += 1
        elif field == "PAL" and section == "ABST":
            item = self._last_text_item()
            if item is not None:
                # reference mutates .text in place; .orig keeps the first
                # chunk (pinned by the pftaps json golden)
                item.text += " " + value
            else:
                self.docw.add_paragraph(value, parent=self.parents[self.level])
        elif field == "NUM" and section == "CLMS":
            self.docw.add_paragraph("", parent=self.parents[self.level])
        elif field in self.PARAGRAPH_FIELDS and section == "CLMS":
            item = self._last_text_item()
            if item is None:
                item = self.docw.add_paragraph(
                    "", parent=self.parents[self.level]
                )
            item.text += f" {value.strip()}" if item.text else value.strip()
        elif field == "PAC" and section in ("BSUM", "DETD", "DRWD"):
            _, h_level = ABSTRACT_HEADING
            self.level = h_level if h_level in self.parents else 1
            self.parents[self.level + 1] = self.docw.add_heading(
                value, self.level, parent=self.parents[self.level]
            )
            self.level += 1
        elif field in self.PARAGRAPH_FIELDS and section in (
            "BSUM",
            "DETD",
            "DRWD",
        ):
            self.docw.add_paragraph(value, parent=self.parents[self.level])

    def parse(self, content: str) -> _Doc:
        section = key = value = ""
        for line in content.splitlines():
            cols = re.split(r"\s{2,}", line, maxsplit=1)
            if key and value and (len(cols) == 1 or (len(cols) == 2 and cols[0])):
                self.store_content(section, key, value)
                key = value = ""
            if len(cols) == 1:
                section = cols[0]
                self.store_section(section)
            elif len(cols) == 2:
                if cols[0]:
                    key = cols[0]
                    value = cols[1]
                elif not re.match(r"^##STR\d+##$", cols[1]):
                    value += " " + cols[1]
        if key and value:
            self.store_content(section, key, value)
        return self.docw


# ============================================ OASIS Exchange Table Model
def _parse_oasis_table(fragment: str) -> Optional[tuple]:
    """One raw <table> fragment → (num_rows, num_cols, cells) or None."""
    import xml.etree.ElementTree as ET

    # the reference parses table fragments with an XML parser that DROPS
    # undefined (non-XML) entities — &trade;, &thinsp;, greek etc. vanish
    # from cell text (pinned by the pa20010031492 golden)
    cleaned = re.sub(r"&(?!#|lt;|gt;|amp;|quot;|apos;)(\w+);", "", fragment)
    try:
        table = ET.fromstring(cleaned)
    except ET.ParseError:
        return None

    # column specs per tgroup
    tgs = []
    for tg in table.findall("tgroup"):
        colinfo = []
        for cs in tg.findall("colspec"):
            colinfo.append(cs.get("colwidth") or "0")
        tgs.append(colinfo)
    if not tgs:
        return None

    # unified offsets (reference _create_tg_range)
    colinfo: dict[int, dict] = {}
    for itg, widths in enumerate(tgs):
        info = {"offset": [], "colwidth": [], "cell_range": [], "cell_offst": [0]}
        offst = 0
        for cw_raw in widths:
            cw_s = re.sub("pt", "", cw_raw, flags=re.I)
            cw_s = re.sub("mm", "", cw_s, flags=re.I)
            try:
                cw = int(cw_s)
            except Exception:  # noqa: BLE001
                try:
                    cw = float(cw_s)
                except Exception:  # noqa: BLE001
                    cw = 0
            info["colwidth"].append(cw)
            info["offset"].append(offst)
            offst += cw
        info["offset"].append(offst)
        colinfo[itg] = info

    min_offset = colinfo[0]["offset"]
    offset_w0 = []
    for col in colinfo.values():
        for ic, cw in enumerate(col["colwidth"]):
            if cw == 0:
                offset_w0.append(col["offset"][ic])
        min_offset = sorted(set(col["offset"] + min_offset))
    min_offset = sorted(min_offset + list(set(offset_w0)))

    for col in colinfo.values():
        i = 1
        range_ = 1
        for min_i in range(1, len(min_offset)):
            if i >= len(col["offset"]):
                break
            min_offst = min_offset[min_i]
            offst = col["offset"][i]
            if min_offst == offst:
                if len(col["offset"]) == i + 1 and len(min_offset) > min_i + 1:
                    range_ += 1
                else:
                    col["cell_range"].append(range_)
                    col["cell_offst"].append(col["cell_offst"][-1] + range_)
                    range_ = 1
                    i += 1
            elif min_offst < offst:
                range_ += 1
            else:
                return None  # broken offsets

    # reference _get_max_ncols: the max over tgroups of the ORIGINAL
    # colspec count — NOT the unified column count (cell offsets may
    # exceed it; the downstream grid clips, matching the goldens)
    ncols_max = max(len(c["colwidth"]) for c in colinfo.values())

    cells = []
    i_row_global = 0
    for itg, tg in enumerate(table.findall("tgroup")):
        tg_range = colinfo[itg]
        # all row/tr descendants in document order; header iff the direct
        # parent is a thead (reference tg_sec(["row","tr"]) + parent check)
        parent_of = {c: p for p in tg.iter() for c in p}
        rows: list[tuple] = [
            (row, parent_of.get(row) is not None
             and parent_of[row].tag == "thead")
            for row in tg.iter()
            if row.tag in ("row", "tr")
        ]
        for row, is_header in rows:
            entries = [e for e in row if e.tag in ("entry", "td")]
            ncols = 0
            local_row = []
            is_row_empty = True
            wrong_nbr = False
            for ientry, entry in enumerate(entries):
                text = "".join(entry.itertext()).strip()
                namest = entry.get("namest")
                nameend = entry.get("nameend")
                start = (
                    int(namest)
                    if namest and namest.isnumeric()
                    else ientry + 1
                )
                if nameend and nameend.isnumeric():
                    end = int(nameend)
                    shift = 0
                else:
                    end = ientry + 2
                    shift = 1
                if end > len(tg_range["cell_offst"]):
                    wrong_nbr = True
                    break
                rng = [
                    tg_range["cell_offst"][start - 1],
                    tg_range["cell_offst"][end - 1] - shift,
                ]
                cell_text = text
                if cell_text:
                    is_row_empty = False
                for _ in range(rng[0], rng[1] + 1):
                    ncols += 1
                    local_row.append(
                        TableCellSpec(
                            text=cell_text,
                            row_span=1,
                            col_span=rng[1] - rng[0] + 1,
                            start_row=i_row_global,
                            end_row=i_row_global + 1,
                            start_col=rng[0],
                            end_col=rng[1] + 1,
                            column_header=is_header,
                            row_header=False,
                        )
                    )
            if wrong_nbr:
                local_row = []
                ncols = 0
            for irep in range(ncols, ncols_max):
                local_row.append(
                    TableCellSpec(
                        text="",
                        row_span=1,
                        col_span=1,
                        start_row=i_row_global,
                        end_row=i_row_global + 1,
                        start_col=irep,
                        end_col=irep + 1,
                        column_header=is_header,
                        row_header=False,
                    )
                )
            if not is_row_empty:
                cells.extend(local_row)
                i_row_global += 1

    return i_row_global, ncols_max, cells


# ================================================================= entry
def select_parser(content: str):
    for line in content.splitlines():
        if line == "PATN":
            return _ApsParser()
        if line.startswith("<!DOCTYPE"):
            low = line.lower()
            if "us-patent-application-v4" in low or "us-patent-grant-v4" in low:
                return _IceHandler()
            if "us-grant-025" in low:
                return _GrantV2Handler()
            if "patent-application-publication" in low and "pap-v1" in low:
                return _AppV1Handler()
            return None
    return None


def extract_uspto(raw: bytes, name: str = "file") -> SpanDoc:
    content = raw.decode("utf-8")
    parser = select_parser(content)
    if parser is None:
        raise RuntimeError("unsupported USPTO dialect")
    if isinstance(parser, _ApsParser):
        docw = parser.parse(content)
    else:
        xml.sax.parseString(content.encode("utf-8"), parser)
        docw = parser.docw
        if docw is None:
            raise RuntimeError("USPTO parse produced no document")
        # patch placeholder tables from the raw <table> fragments
        fragments = _TABLE_RE.findall(content)
        parsed = []
        for frag in fragments:
            try:
                t = _parse_oasis_table(frag)
                if t is not None:
                    parsed.append(t)
            except Exception:  # noqa: BLE001 — broken table skipped
                continue
        if len(parsed) == len(docw.tables):
            for (num_rows, num_cols, cells), item in zip(parsed, docw.tables):
                item.num_rows = num_rows
                item.num_cols = num_cols
                item.cells = cells
    doc = docw.doc
    doc.name = name
    return doc
