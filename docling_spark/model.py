"""Flattened DoclingDocument-equivalent span model.

The reference emits a ``DoclingDocument`` tree (docling-core dependency; see
SURVEY.md §1.1).  Spark has no recursive types, so this model keeps items in a
flat list with integer parent/child indices — directly convertible to an
``array<struct<...>>`` column.

Item kinds/labels mirror the observable label strings in the reference golden
``.itxt`` files (e.g. "title", "section_header", "text", "list_item", "code",
"caption", groups "list"/"inline"/"section"/"unspecified").
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

BODY = "body"
FURNITURE = "furniture"

# script values for sub/superscript formatting
SUB = "sub"
SUPER = "super"


@dataclass(frozen=True)
class Formatting:
    """Equality-comparable text formatting flags (reference: docling-core
    ``Formatting``; behavior observed via html_backend.py:72-87 map)."""

    bold: bool = False
    italic: bool = False
    underline: bool = False
    strikethrough: bool = False
    script: Optional[str] = None  # None | "sub" | "super"


@dataclass
class TableCellSpec:
    text: str
    row_span: int = 1
    col_span: int = 1
    start_row: int = 0
    end_row: int = 1
    start_col: int = 0
    end_col: int = 1
    column_header: bool = False
    row_header: bool = False
    rich_ref: int = -1  # index of the group item wrapping rich-cell content


@dataclass
class Item:
    idx: int
    kind: str  # "group" | "text" | "picture" | "table"
    label: str  # group: unspecified/list/inline/section; text: title/...
    parent: int = -1
    children: list[int] = field(default_factory=list)
    name: str = ""  # group name
    text: str = ""
    orig: str = ""
    level: int = 1  # section_header level
    marker: str = ""  # list_item marker
    enumerated: bool = False
    formatting: Optional[Formatting] = None
    hyperlink: Optional[str] = None
    content_layer: str = BODY
    # table payload
    num_rows: int = 0
    num_cols: int = 0
    cells: list[TableCellSpec] = field(default_factory=list)
    # picture/table caption refs (indices of caption text items)
    captions: list[int] = field(default_factory=list)
    # provenance: (page_no, l, t, r, b) in source units (e.g. xlsx cell
    # indices), TOPLEFT origin — None for backends without positions
    prov: Optional[tuple] = None
    # full-fidelity provenance list (raw DoclingDocument prov dicts, each
    # {page_no, bbox{l,t,r,b,coord_origin}, charspan}) — populated by the
    # JSON backend for serializers that need bboxes (doctags)
    prov_list: Optional[list] = None
    # code block language label ("unknown" unless the source declares one)
    code_language: str = "unknown"


class SpanDoc:
    """The in-flight document; items[0] is the body root group ``_root_``."""

    def __init__(self, name: str = "doc"):
        self.name = name
        root = Item(idx=0, kind="group", label="unspecified", name="_root_", parent=-1)
        self.items: list[Item] = [root]
        self.table_count = 0  # mirrors len(doc.tables) for rich-cell group names
        # page_no → (width, height); empty unless a paginated backend fills it
        self.pages: dict[int, tuple[float, float]] = {}

    # -- low-level ---------------------------------------------------------
    def _add(self, item: Item, parent: Optional[int]) -> Item:
        pid = 0 if parent is None else parent
        item.idx = len(self.items)
        item.parent = pid
        self.items.append(item)
        self.items[pid].children.append(item.idx)
        return item

    def reparent(self, child_idx: int, new_parent_idx: int) -> None:
        it = self.items[child_idx]
        old = self.items[it.parent]
        if child_idx in old.children:
            old.children.remove(child_idx)
        it.parent = new_parent_idx
        self.items[new_parent_idx].children.append(child_idx)

    # -- constructors mirroring the reference's doc.add_* calls -------------
    def add_group(
        self,
        label: str,
        name: str = "group",
        parent: Optional[int] = None,
        content_layer: str = BODY,
    ) -> Item:
        return self._add(
            Item(0, "group", label, name=name, content_layer=content_layer), parent
        )

    def add_text(
        self,
        label: str,
        text: str,
        orig: str = "",
        parent: Optional[int] = None,
        content_layer: str = BODY,
        formatting: Optional[Formatting] = None,
        hyperlink: Optional[str] = None,
        level: int = 1,
        enumerated: bool = False,
        marker: str = "",
    ) -> Item:
        """Every text item: the label ("title", "section_header", "text",
        "list_item", "code", ...) is data; ``level`` matters for section
        headers, ``enumerated`` and ``marker`` for list items."""
        return self._add(
            Item(
                0,
                "text",
                label,
                text=text,
                orig=orig or text,
                level=level,
                marker=marker,
                enumerated=enumerated,
                content_layer=content_layer,
                formatting=formatting,
                hyperlink=hyperlink,
            ),
            parent,
        )

    def add_picture(
        self,
        caption: Optional[Item] = None,
        parent: Optional[int] = None,
        content_layer: str = BODY,
    ) -> Item:
        pic = self._add(Item(0, "picture", "picture", content_layer=content_layer), parent)
        if caption is not None:
            pic.captions.append(caption.idx)
        return pic

    def add_table(
        self,
        num_rows: int,
        num_cols: int,
        parent: Optional[int] = None,
        content_layer: str = BODY,
        caption: Optional[Item] = None,
    ) -> Item:
        tbl = self._add(
            Item(
                0,
                "table",
                "table",
                num_rows=num_rows,
                num_cols=num_cols,
                content_layer=content_layer,
            ),
            parent,
        )
        if caption is not None:
            tbl.captions.append(caption.idx)
        self.table_count += 1
        return tbl
