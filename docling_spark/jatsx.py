"""JATS backend: scientific-article XML (PMC/bioRxiv-style nxml) → SpanDoc.

Re-derives the observable behavior of the reference JatsDocumentBackend
(/root/reference/docling/backend/xml/jats_backend.py:70-819 — itself built
on the public JATS spec, https://jats.nlm.nih.gov, and the PubMed Parser
approach) without its lxml/BeautifulSoup dependencies:

- metadata head: title-group title (" - "-joined), author names +
  de-duplicated affiliations as paragraphs, per-abstract heading + body;
- body/back walk: sec/ack → nested headings (hlevel), list/list-item
  groups, fig → caption + placeholder picture, table-wrap → embedded
  XHTML table parsed through the HTML backend's grid machinery,
  ref-list → "References" heading + list of flattened citations
  (element-citation field order + mixed-citation text), tex-math $$…$$
  → formula items, paragraph text backpropagation with mid-paragraph
  flushes before block children;
- citation flattening replicates the reference's punctuation state
  machine (:451-478) including the en-dash page ranges.

Golden contract: byte-identical md + itxt vs the 3 reference nxml
fixtures (tests/data/groundtruth/docling_v2/*.nxml.*).
"""

from __future__ import annotations

import re
from typing import Optional

from .model import SpanDoc

_DEFAULT_ACK = "Acknowledgments"
_DEFAULT_ABSTRACT = "Abstract"
_DEFAULT_REFERENCES = "References"
_DEFAULT_ETAL = "et al."

def _get_text(node, sep: Optional[str] = None) -> str:
    """Recursive text concat skipping term/formula nodes (reference
    _get_text, :173-189)."""
    skip_tags = ("term", "disp-formula", "inline-formula")
    text = (
        node.text.replace("\n", " ")
        if (node.tag not in skip_tags and node.text)
        else ""
    )
    for child in list(node):
        if child.tag not in skip_tags:
            text += _get_text(child, sep)
        if sep:
            text = text.rstrip(sep) + sep
        text += child.tail.replace("\n", " ") if child.tail else ""
    return text


class JatsExtractor:
    def __init__(self) -> None:
        self.root: Optional[int] = None
        self.hlevel = 0

    # ---------------- metadata ----------------------------------------
    def _find_meta(self, tree):
        for name in ("article-meta", "book-part-meta"):
            node = tree.find(f".//{name}")
            if node is not None:
                return node
        return None

    def _parse_title(self, tree) -> str:
        meta_names = ("article-meta", "collection-meta", "book-meta", "book-part-meta")
        title_names = ("article-title", "subtitle", "title", "label")
        titles = []
        for mname in meta_names:
            for tg in tree.findall(f".//{mname}/title-group"):
                titles.append(
                    " ".join(
                        (el.text or "").replace("\n", " ").strip()
                        for el in list(tg)
                        if el.tag in title_names
                    ).strip()
                )
        return " - ".join(titles)

    def _parse_authors(self, tree) -> list[dict]:
        authors: list[dict] = []
        meta = self._find_meta(tree)
        if meta is None:
            return authors
        aff_names = []
        aff_ids = []
        for aff in meta.findall(".//aff"):
            if aff.get("id") is None:
                continue
            parts = [t for t in aff.itertext() if t.strip()]
            text = ", ".join(parts).replace("\n", " ")
            label = aff.find("label")
            if label is not None:
                text = text.removeprefix(f"{label.text}, ")
            aff_names.append(text)
            aff_ids.append(aff.get("id"))
        id2aff = dict(zip(aff_ids, aff_names))
        for contrib in meta.findall(".//contrib-group/contrib"):
            if contrib.get("contrib-type") != "author":
                continue
            author = {"name": "", "affiliation_names": []}
            for xref in contrib.findall("xref"):
                if xref.get("ref-type") == "aff":
                    rid = xref.get("rid")
                    if rid in id2aff:
                        author["affiliation_names"].append(id2aff[rid])
            given = contrib.find("name/given-names")
            surname = contrib.find("name/surname")
            if given is None or surname is None:
                continue
            author["name"] = (given.text or "") + " " + (surname.text or "")
            authors.append(author)
        return authors

    def _parse_abstracts(self, tree) -> list[dict]:
        out = []
        for abs_node in tree.findall(".//abstract"):
            texts = [
                _get_text(p).strip() for p in abs_node.findall("p")
            ]
            label = ""
            for ln in list(abs_node):
                if ln.tag in ("title", "label"):
                    label = (ln.text or "").strip()
                    break
            out.append({"label": label, "content": " ".join(texts)})
        return out

    def _add_metadata(self, doc: SpanDoc, tree) -> None:
        title = self._parse_title(tree)
        self.root = doc.add_text("title", title, parent=None).idx
        authors = self._parse_authors(tree)
        authors_str = ", ".join(a["name"] for a in authors)
        affiliations = [
            n for a in authors for n in a["affiliation_names"]
        ]
        aff_str = "; ".join(dict.fromkeys(affiliations))
        if authors_str:
            doc.add_text("paragraph", authors_str, parent=self.root)
        if aff_str:
            doc.add_text("paragraph", aff_str, parent=self.root)
        for abstract in self._parse_abstracts(tree):
            if not abstract["content"]:
                continue
            parent = doc.add_text(
                "section_header",
                abstract["label"] or _DEFAULT_ABSTRACT,
                level=self.hlevel + 1,
                parent=self.root,
            )
            doc.add_text("text", abstract["content"], parent=parent.idx)

    # ---------------- citations ---------------------------------------
    def _parse_element_citation(self, node) -> str:
        c = {
            "author_names": "",
            "title": "",
            "source": "",
            "year": "",
            "volume": "",
            "page": "",
            "pub_id": "",
            "publisher_name": "",
            "publisher_loc": "",
        }
        names = []
        for nm in node.findall(".//name"):
            sn = nm.find("surname")
            gn = nm.find("given-names")
            if sn is None or gn is None:
                continue
            names.append(
                (sn.text or "").replace("\n", " ").strip()
                + " "
                + (gn.text or "").replace("\n", " ").strip()
            )
        etal = node.find(".//etal")
        if etal is not None:
            names.append(etal.text or _DEFAULT_ETAL)
        c["author_names"] = ", ".join(names)

        title_node = None
        for tname in (
            "article-title",
            "chapter-title",
            "data-title",
            "issue-title",
            "part-title",
            "trans-title",
        ):
            tn = node.find(tname)
            if tn is not None:
                title_node = tn
                break
        c["title"] = (
            _get_text(title_node)
            if title_node is not None
            else (node.text or "").replace("\n", " ").strip()
        )
        for field in ("source", "year", "publisher-name", "publisher-loc", "volume"):
            fn = node.find(field)
            if fn is not None and fn.text:
                c[field.replace("-", "_")] = fn.text.replace("\n", " ").strip()
        pub_ids = []
        for idn in node.findall("pub-id"):
            id_type = idn.get("assigning-authority") or idn.get("pub-id-type")
            if id_type and idn.text:
                pub_ids.append(
                    id_type.replace("\n", " ").strip().upper()
                    + ": "
                    + idn.text.replace("\n", " ").strip()
                )
        if pub_ids:
            c["pub_id"] = ", ".join(pub_ids)
        eloc = node.find("elocation-id")
        fpage = node.find("fpage")
        if eloc is not None and eloc.text:
            c["page"] = eloc.text.replace("\n", " ").strip()
        elif fpage is not None and fpage.text:
            c["page"] = fpage.text.replace("\n", " ").strip()
            lpage = node.find("lpage")
            if lpage is not None and lpage.text:
                c["page"] += "–" + lpage.text.replace("\n", " ").strip()  # noqa: RUF001

        text = ""
        if c["author_names"]:
            text += c["author_names"].rstrip(".") + ". "
        if c["title"]:
            text += c["title"] + ". "
        if c["source"]:
            text += c["source"] + ". "
        if c["publisher_name"]:
            if c["publisher_loc"]:
                text += f"{c['publisher_loc']}: "
            text += c["publisher_name"] + ". "
        if c["volume"]:
            text = text.rstrip(". ")
            text += f" {c['volume']}. "
        if c["page"]:
            text = text.rstrip(". ")
            if c["volume"]:
                text += ":"
            text += c["page"] + ". "
        if c["year"]:
            text = text.rstrip(". ")
            text += f" ({c['year']})."
        if c["pub_id"]:
            text = text.rstrip(".") + ". "
            text += c["pub_id"]
        return text

    def _add_citation(self, doc: SpanDoc, parent: Optional[int], text: str):
        p = doc.items[parent] if parent is not None else None
        in_list = p is not None and p.kind == "group" and p.label == "list"
        doc.add_text("list_item" if in_list else "text", text, parent=parent)

    # ---------------- figures / tables / equations ---------------------
    def _caption_text(self, node) -> tuple[str, Optional[str]]:
        label_node = node.find("label")
        label = _get_text(label_node).strip() if label_node is not None else ""
        caption_node = node.find("caption")
        caption: Optional[str] = None
        if caption_node is not None:
            caption = ""
            for par in list(caption_node):
                if par.find(".//supplementary-material") is not None:
                    continue
                caption += _get_text(par).strip() + " "
            caption = caption.strip()
        return label, caption

    def _add_figure(self, doc: SpanDoc, parent: Optional[int], node) -> None:
        label, caption = self._caption_text(node)
        fig_text = f"{label}{' ' if label and caption else ''}{caption or ''}"
        cap = doc.add_text("caption", fig_text) if fig_text else None
        doc.add_picture(parent=parent, caption=cap)

    def _add_equation(self, doc: SpanDoc, parent: Optional[int], node) -> None:
        parts = (node.text or "").split("$$")
        if len(parts) == 3:
            doc.add_text("formula", parts[1], parent=parent)

    def _add_table_wrap(self, doc: SpanDoc, parent: Optional[int], node) -> None:
        import xml.etree.ElementTree as ET

        table_el = node.find("table")
        if table_el is None:
            table_el = node.find("alternatives/table")
        if table_el is None:
            return
        label, caption = self._caption_text(node)
        table_text = f"{label}{' ' if label and caption else ''}{caption or ''}"
        try:
            content = ET.tostring(table_el).decode("utf-8")
            grid_data = _parse_xhtml_table(content)
        except Exception:  # noqa: BLE001 — unsupported table skipped
            return
        cap = doc.add_text("caption", table_text) if table_text else None
        if grid_data is None:
            return
        num_rows, num_cols, cells = grid_data
        tbl = doc.add_table(
            num_rows=num_rows, num_cols=num_cols, parent=parent, caption=cap
        )
        tbl.cells.extend(cells)

    # ---------------- the walk (reference _walk_linear, :715-819) ------
    def _walk(self, doc: SpanDoc, parent: Optional[int], node, parent_tag=None) -> str:
        skip_tags = ("term",)
        flush_tags = ("ack", "sec", "list", "boxed-text", "disp-formula", "fig")
        new_parent = parent
        node_text = (
            node.text.replace("\n", " ")
            if (node.tag not in skip_tags and node.text)
            else ""
        )
        for child in list(node):
            stop_walk = False
            if node.tag == "p" and node_text.strip() and child.tag in flush_tags:
                doc.add_text("text", node_text.strip(), parent=parent)
                node_text = ""

            text: Optional[str] = None
            if child.tag in ("sec", "ack"):
                header = None
                for h in list(child):
                    if h.tag in ("title", "label"):
                        header = h
                        break
                if header is not None:
                    text = _get_text(header)
                elif child.tag == "ack":
                    text = _DEFAULT_ACK
                if text:
                    self.hlevel += 1
                    new_parent = doc.add_text(
                        "section_header", text, level=self.hlevel, parent=parent
                    ).idx
            elif child.tag == "list":
                new_parent = doc.add_group(
                    "list", name="list", parent=parent, content_layer="body"
                ).idx
            elif child.tag == "list-item":
                text = _get_text(child).strip()
                new_parent = doc.add_text(
                    "list_item", text, parent=parent
                ).idx
                stop_walk = True
            elif child.tag == "fig":
                self._add_figure(doc, parent, child)
                stop_walk = True
            elif child.tag == "table-wrap":
                self._add_table_wrap(doc, parent, child)
                stop_walk = True
            elif child.tag == "suplementary-material":
                stop_walk = True
            elif child.tag == "fn-group":
                stop_walk = True
            elif child.tag == "ref-list" and node.tag != "ref-list":
                header = None
                for h in list(child):
                    if h.tag in ("title", "label"):
                        header = h
                        break
                text = (
                    _get_text(header)
                    if header is not None
                    else _DEFAULT_REFERENCES
                )
                new_parent = doc.add_text(
                    "section_header", text, level=1, parent=parent
                ).idx
                new_parent = doc.add_group(
                    "list", name="list", parent=new_parent, content_layer="body"
                ).idx
            elif child.tag == "element-citation":
                text = self._parse_element_citation(child)
                self._add_citation(doc, parent, text)
                stop_walk = True
            elif child.tag == "mixed-citation":
                text = _get_text(child).strip()
                self._add_citation(doc, parent, text)
                stop_walk = True
            elif child.tag == "tex-math":
                self._add_equation(doc, parent, child)
                stop_walk = True
            elif child.tag == "inline-formula":
                stop_walk = True

            if not stop_walk:
                new_text = self._walk(doc, new_parent, child, parent_tag=node.tag)
                if not (parent_tag == "p" and node.tag in flush_tags):
                    node_text += new_text
                if child.tag in ("sec", "ack") and text:
                    self.hlevel -= 1
            node_text += child.tail.replace("\n", " ") if child.tail else ""

        if node.tag == "p" and node_text.strip():
            doc.add_text("text", node_text.strip(), parent=parent)
            return ""
        return node_text

    # ---------------- entry -------------------------------------------
    def convert(self, raw: bytes, name: str = "file") -> SpanDoc:
        import xml.etree.ElementTree as ET

        doc = SpanDoc(name)
        self.hlevel = 0
        try:
            tree = ET.fromstring(raw)
        except ET.ParseError:
            # tolerate undefined named entities (lxml resolves them via DTD)
            text = raw.decode("utf-8", "replace")
            text = re.sub(r"&(?!#|amp;|lt;|gt;|quot;|apos;)(\w+);", r"\1", text)
            tree = ET.fromstring(text)
        self._add_metadata(doc, tree)
        body = tree.find(".//body")
        if self.root is not None and body is not None:
            self._walk(doc, self.root, body)
        back = tree.find(".//back")
        if self.root is not None and back is not None:
            self._walk(doc, self.root, back)
        return doc


def _parse_xhtml_table(content: str):
    """Embedded XHTML table → (num_rows, num_cols, cells). Port of the
    reference parse_table_data (:545-641) over the htmlx DOM and grid fill;
    unlike the HTML backend it takes every descendant row and cell."""
    from .htmlx.dom import TextNode, parse_html
    from .htmlx.extract import _cell_spans, _concat_text, place_cells, table_shape

    soup = parse_html(content.encode("utf-8"))
    table = soup.find("table")
    if table is None:
        return None
    if table.find("table") is not None:
        return None  # nested tables unsupported (reference behavior)

    rows = [
        [(cell, *_cell_spans(cell)) for cell in row.find_all(("td", "th"))]
        for row in table.find_all("tr")
    ]
    num_rows, num_cols = table_shape(rows)
    cells = []
    for cell, spec, _ in place_cells(rows, num_rows, num_cols):
        # inline formulas become $$…$$ literals before text extraction
        for formula in cell.find_all("inline-formula"):
            parts = formula.get_text().split("$$")
            if len(parts) == 3 and formula.parent is not None:
                idx = formula.parent.contents.index(formula)
                formula.parent.contents[idx] = TextNode(f"$${parts[1]}$$")
        spec.text = _concat_text(cell).strip()
        cells.append(spec)
    return num_rows, num_cols, cells


def extract_jats(raw: bytes, name: str = "file") -> SpanDoc:
    return JatsExtractor().convert(raw, name=name)
