"""PPTX backend: Office Open XML presentation → SpanDoc.

Re-derives the observable behavior of the reference
MsPowerpointDocumentBackend
(/root/reference/docling/backend/mspowerpoint_backend.py:35-398) without
its python-pptx / PIL dependencies — stdlib zip + ElementTree over the
PresentationML parts (ECMA-376):

- one "slide-{i}" chapter group per slide (walk order = sldIdLst);
- shape walk in spTree document order, recursing into group shapes;
- text frames: paragraphs with line breaks flattened to spaces; bullet
  (a:buChar), auto-numbered (a:buAutoNum) or indented (lvl>0) paragraphs
  become list items in a per-shape list group, numbered items get
  "{n}." markers; title/centerTitle placeholders → TITLE label (the
  reference's subtitle branch is a no-op expression — replicated: subtitle
  stays a paragraph, :200-201);
- tables from graphicFrames with rowSpan/gridSpan, empty cells dropped,
  first row = column headers;
- pictures → placeholder items (no PIL here; markdown/itxt identical);
- notes slides → furniture text;
- provenance: EMU bboxes, BOTTOMLEFT origin, charspan [0, len(text)];
  shapes without an explicit offset cover the whole slide (the
  ``if shape.left:`` falsiness quirk included, :106-115).
"""

from __future__ import annotations

import re
import zipfile
from io import BytesIO
from typing import Optional

from .model import FURNITURE, SpanDoc, TableCellSpec

P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"


class PptxPackage:
    def __init__(self, blob: bytes):
        import xml.etree.ElementTree as ET

        self.ET = ET
        self.zf = zipfile.ZipFile(BytesIO(blob))
        pres = self._xml("ppt/presentation.xml")
        rels = self._rels("ppt/_rels/presentation.xml.rels")
        self.slide_targets: list[str] = []
        self.slide_w = self.slide_h = 1
        if pres is not None:
            sz = pres.find(P + "sldSz")
            if sz is not None:
                self.slide_w = int(sz.get("cx", "1"))
                self.slide_h = int(sz.get("cy", "1"))
            lst = pres.find(P + "sldIdLst")
            if lst is not None:
                for sid in lst.findall(P + "sldId"):
                    target = rels.get(sid.get(R + "id"))
                    if target:
                        self.slide_targets.append(self._norm(target))

    @staticmethod
    def _norm(target: str) -> str:
        return "ppt/" + target.lstrip("./") if not target.startswith("ppt/") else target

    def _xml(self, name: str):
        try:
            return self.ET.fromstring(self.zf.read(name))
        except KeyError:
            return None

    def _rels(self, name: str) -> dict:
        out = {}
        root = self._xml(name)
        if root is not None:
            for rel in root.findall(REL + "Relationship"):
                out[rel.get("Id")] = rel.get("Target", "")
        return out

    def notes_target(self, slide_target: str) -> Optional[str]:
        base = slide_target.rsplit("/", 1)[-1]
        rels = self._rels(f"ppt/slides/_rels/{base}.rels")
        for target in rels.values():
            if "notesSlide" in target:
                return self._norm(target.replace("../", ""))
        return None

    def placeholder_xfrm(
        self, slide_target: str, ph_idx: str, ph_type: Optional[str]
    ) -> Optional[tuple[int, int, int, int]]:
        """Placeholder geometry inheritance (python-pptx semantics): a
        placeholder without its own xfrm takes position/size from the
        matching placeholder (same idx) in the slide layout, then the
        slide master."""
        base = slide_target.rsplit("/", 1)[-1]
        rels = self._rels(f"ppt/slides/_rels/{base}.rels")
        layout = next(
            (t for t in rels.values() if "slideLayout" in t), None
        )
        chain = []
        if layout:
            layout = self._norm(layout.replace("../", ""))
            chain.append(layout)
            lbase = layout.rsplit("/", 1)[-1]
            lrels = self._rels(f"ppt/slideLayouts/_rels/{lbase}.rels")
            master = next(
                (t for t in lrels.values() if "slideMaster" in t), None
            )
            if master:
                chain.append(self._norm(master.replace("../", "")))
        for part in chain:
            root = self._xml(part)
            if root is None:
                continue
            for sp in root.iter(P + "sp"):
                ph = sp.find(f".//{P}nvSpPr/{P}nvPr/{P}ph")
                if ph is None:
                    continue
                if ph.get("idx", "0") != ph_idx:
                    continue
                if ph_idx == "0" and ph_type and ph.get("type") != ph_type:
                    continue
                xfrm = sp.find(f".//{A}xfrm")
                if xfrm is None:
                    continue
                off = xfrm.find(A + "off")
                ext = xfrm.find(A + "ext")
                if off is None or ext is None:
                    continue
                return (
                    int(off.get("x", "0")),
                    int(off.get("y", "0")),
                    int(ext.get("cx", "0")),
                    int(ext.get("cy", "0")),
                )
        return None


def _para_text(p_el) -> str:
    """Paragraph text with line breaks flattened to spaces (reference
    content_children loop, :157-163)."""
    parts = []
    for child in p_el:
        tag = child.tag
        if tag == A + "br":
            parts.append(" ")
        elif tag in (A + "r", A + "fld"):
            t = child.find(A + "t")
            parts.append(t.text or "" if t is not None else "")
    return "".join(parts)


def _frame_text(txbody) -> str:
    """python-pptx text_frame.text: paragraphs joined with newlines."""
    return "\n".join(
        _para_text(p) for p in txbody.findall(A + "p")
    )


class PptxExtractor:
    def __init__(self) -> None:
        self._slide_target: Optional[str] = None

    def convert(self, blob: bytes, name: str = "file") -> SpanDoc:
        pkg = PptxPackage(blob)
        doc = SpanDoc(name)
        for slide_ind, target in enumerate(pkg.slide_targets):
            self._slide_target = target
            slide = pkg._xml(target)
            grp = doc.add_group(label="chapter", name=f"slide-{slide_ind}")
            doc.pages[slide_ind + 1] = (pkg.slide_w, pkg.slide_h)
            if slide is None:
                continue
            sp_tree = slide.find(f"{P}cSld/{P}spTree")
            if sp_tree is not None:
                for shape in sp_tree:
                    self._handle_shape(
                        shape, grp.idx, slide_ind, doc, pkg
                    )
            # notes slide → furniture text
            nt = pkg.notes_target(target)
            if nt:
                notes = pkg._xml(nt)
                if notes is not None:
                    texts = [
                        _frame_text(tx)
                        for tx in notes.iter(P + "txBody")
                    ]
                    notes_text = "\n".join(t for t in texts if t).strip()
                    if notes_text:
                        it = doc.add_text(
                            "text",
                            notes_text,
                            parent=grp.idx,
                            content_layer=FURNITURE,
                        )
                        it.prov = {
                            "page_no": slide_ind + 1,
                            "l": 0,
                            "t": 0,
                            "r": 0,
                            "b": 0,
                            "coord_origin": "TOPLEFT",
                            "charspan": (0, len(notes_text)),
                        }
        return doc

    # -- provenance (reference generate_prov, :103-122) ------------------
    def _prov(self, shape, slide_ind, text, pkg) -> dict:
        # a:xfrm (shapes/pictures) or direct p:xfrm (graphicFrames)
        xfrm = shape.find(f".//{A}xfrm")
        if xfrm is None:
            xfrm = shape.find(P + "xfrm")
        left = top = None
        width = height = 0
        if xfrm is not None:
            off = xfrm.find(A + "off")
            ext = xfrm.find(A + "ext")
            if off is not None:
                left = int(off.get("x", "0"))
                top = int(off.get("y", "0"))
            if ext is not None:
                width = int(ext.get("cx", "0"))
                height = int(ext.get("cy", "0"))
        if left is None:
            # placeholder geometry inherits from layout/master
            ph = shape.find(f".//{P}nvSpPr/{P}nvPr/{P}ph")
            if ph is not None and self._slide_target:
                inherited = pkg.placeholder_xfrm(
                    self._slide_target, ph.get("idx", "0"), ph.get("type")
                )
                if inherited:
                    left, top, width, height = inherited
        if not left:  # includes left == 0 — the reference falsiness quirk
            left, top = 0, 0
            width, height = pkg.slide_w, pkg.slide_h
        # BoundingBox.from_tuple with BOTTOMLEFT origin reads the tuple as
        # (l, b, r, t) — so t carries top+height and b carries top
        # (pinned by the pptx json goldens)
        return {
            "page_no": slide_ind + 1,
            "l": left,
            "t": top + height,
            "r": left + width,
            "b": top,
            "coord_origin": "BOTTOMLEFT",
            "charspan": (0, len(text)),
        }

    def _handle_shape(self, shape, parent_idx, slide_ind, doc, pkg) -> None:
        tag = shape.tag
        if tag == P + "grpSp":
            for child in shape:
                if child.tag in (P + "sp", P + "grpSp", P + "pic", P + "graphicFrame"):
                    self._handle_shape(child, parent_idx, slide_ind, doc, pkg)
            return
        if tag == P + "graphicFrame":
            tbl = shape.find(f".//{A}tbl")
            if tbl is not None:
                self._handle_table(shape, tbl, parent_idx, slide_ind, doc, pkg)
            return
        if tag == P + "pic":
            if shape.find(f".//{A}blip") is not None:
                pic = doc.add_picture(parent=parent_idx)
                pic.prov = self._prov(shape, slide_ind, "", pkg)
            return
        if tag != P + "sp":
            return
        txbody = shape.find(P + "txBody")
        if txbody is None:
            return
        full_text = _frame_text(txbody)
        if not full_text.strip():
            return
        self._handle_text(shape, txbody, parent_idx, slide_ind, doc, pkg)

    # -- text / lists (reference handle_text_elements, :124-210) ---------
    def _handle_text(self, shape, txbody, parent_idx, slide_ind, doc, pkg):
        prov = self._prov(
            shape, slide_ind, _frame_text(txbody).strip(), pkg
        )
        ph = shape.find(f".//{P}nvSpPr/{P}nvPr/{P}ph")
        is_placeholder = ph is not None
        ph_type = ph.get("type", "body") if ph is not None else None

        is_list_group_created = False
        enum_value = 0
        list_idx = None
        for p_el in txbody.findall(A + "p"):
            ppr = p_el.find(A + "pPr")
            level = int(ppr.get("lvl", "0")) if ppr is not None else 0
            bullet = p_el.find(f".//{A}buChar") is not None
            numbered = p_el.find(f".//{A}buAutoNum") is not None
            is_a_list = bullet or numbered or level > 0

            p_text = _para_text(p_el)

            if is_a_list:
                if not is_list_group_created:
                    list_idx = doc.add_group(
                        "list", name="list", parent=parent_idx, content_layer="body"
                    ).idx
                    is_list_group_created = True
                    enum_value = 0
                marker = ""
                if numbered:
                    enum_value += 1
                    marker = f"{enum_value}."
                it = doc.add_text(
                    "list_item",
                    p_text,
                    enumerated=numbered,
                    marker=marker,
                    parent=list_idx,
                )
                it.prov = prov
            else:
                label = "paragraph"
                if is_placeholder and ph_type in ("ctrTitle", "title"):
                    label = "title"
                # subtitle: the reference's branch is a bare no-op
                # expression (:200-201) — label remains "paragraph"
                it = doc.add_text(label, p_text, parent=parent_idx)
                it.prov = prov

    # -- tables (reference handle_tables, :256-318) ----------------------
    def _handle_table(self, shape, tbl, parent_idx, slide_ind, doc, pkg):
        rows = tbl.findall(A + "tr")
        num_rows = len(rows)
        num_cols = 0
        cells = []
        for row_idx, row in enumerate(rows):
            tcs = row.findall(A + "tc")
            num_cols = max(num_cols, len(tcs))
            for col_idx, tc in enumerate(tcs):
                row_span = int(tc.get("rowSpan", "1"))
                col_span = int(tc.get("gridSpan", "1"))
                txt = _frame_text(tc.find(A + "txBody")) if tc.find(A + "txBody") is not None else ""
                txt = txt.strip()
                if not txt:
                    continue
                cells.append(
                    TableCellSpec(
                        text=txt,
                        row_span=row_span,
                        col_span=col_span,
                        start_row=row_idx,
                        end_row=row_idx + row_span,
                        start_col=col_idx,
                        end_col=col_idx + col_span,
                        column_header=row_idx == 0,
                        row_header=False,
                    )
                )
        if cells:
            item = doc.add_table(
                num_rows=num_rows, num_cols=num_cols, parent=parent_idx
            )
            item.prov = self._prov(shape, slide_ind, "", pkg)
            item.cells.extend(cells)


def extract_pptx(blob: bytes, name: str = "file") -> SpanDoc:
    return PptxExtractor().convert(blob, name=name)
