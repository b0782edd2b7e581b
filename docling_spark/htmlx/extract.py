"""HTML → SpanDoc extraction core.

This is a from-scratch re-derivation of the reference HTML backend's
observable behavior (/root/reference/docling/backend/html_backend.py,
verified against /root/reference/tests/data/groundtruth/docling_v2 goldens).
It runs as plain Python inside a vectorized ``mapInPandas`` UDF — one call
per document, no Spark dependency in this module.

Behavioral notes (reference file:line cited for parity auditing):
- block/format tag sets: html_backend.py:50-87
- inline buffering + newline splitting quirks: html_backend.py:95-190
- furniture-before-first-heading rule: html_backend.py:287-298
- heading level mapping + invisible groups: html_backend.py:832-896
- list markers incl. ol@start: html_backend.py:898-1026
- table grid fill w/ span replication: html_backend.py:402-518
- unicode cleanup table: html_backend.py:1298-1336
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from pathlib import Path
from typing import Optional, Sequence, Union
from urllib.parse import urljoin, urlparse

from pydantic import AnyUrl, ValidationError

from ..model import BODY, FURNITURE, SUB, SUPER, Formatting, Item, SpanDoc, TableCellSpec
from .dom import Document, MarkupNode, Tag, TextNode, parse_html

Hyperlink = Union[AnyUrl, Path, None]

BLOCK_TAGS = frozenset(
    {
        "address",
        "details",
        "figure",
        "footer",
        "img",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "ol",
        "p",
        "pre",
        "summary",
        "table",
        "ul",
    }
)

CODE_TAGS = frozenset({"code", "kbd", "samp"})

# tag -> formatting flag it switches on (order matters: parent-format scan
# iterates in this order, mirroring the reference map's insertion order)
FORMAT_TAGS: dict[str, dict] = {
    "b": {"bold": True},
    "strong": {"bold": True},
    "i": {"italic": True},
    "em": {"italic": True},
    "var": {"italic": True},
    "s": {"strikethrough": True},
    "del": {"strikethrough": True},
    "u": {"underline": True},
    "ins": {"underline": True},
    "sub": {"script": SUB},
    "sup": {"script": SUPER},
    "code": {},
    "kbd": {},
    "samp": {},
}

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_REMOVED_TAGS = frozenset({"script", "noscript", "style"})
_LIST_TAGS = frozenset({"ul", "ol"})
_LIST_CHILD_TAGS = frozenset({"li", "ul", "ol"})
_SECTION_TAGS = frozenset({"thead", "tbody"})
_ROW_TAGS = frozenset({"tr"})
_CELL_TAGS = frozenset({"td", "th"})
# HtmlExtractor._ancestry's entry: (format tag names, link, figure, in table)
_Ancestry = tuple[tuple[str, ...], Optional[Tag], Optional[Tag], bool]
# the entry above the root: no format tag, no link, no figure, no table
_NO_ANCESTRY: _Ancestry = ((), None, None, False)

# HTML-typical unicode normalization (same table as the reference's
# _clean_unicode, html_backend.py:1312-1332 — a public, well-known cleanup set)
_UNICODE_MAP = {
    " ": " ",
    "​": "",
    "‌": "",
    "‍": "",
    "‐": "-",
    "‑": "-",
    "‒": "-",
    "–": "-",
    "—": "-",
    "―": "-",
    "‘": "'",
    "’": "'",
    "“": '"',
    "”": '"',
    "…": "...",
    "­": "",
    "﻿": "",
    " ": " ",
    "⁠": "",
}


def clean_unicode(text: str) -> str:
    # every map key is non-ASCII, so pure-ASCII text (the common case) is a
    # guaranteed no-op — one C-level check instead of 19 replace passes
    if text.isascii():
        return text
    for raw, repl in _UNICODE_MAP.items():
        text = text.replace(raw, repl)
    return text


def _coerce_link(value) -> Hyperlink:
    """str → AnyUrl if valid, else Path (mirrors the pydantic union coercion
    on the reference's AnnotatedText.hyperlink field)."""
    if value is None or isinstance(value, (AnyUrl, Path)):
        return value
    try:
        return AnyUrl(value)
    except ValidationError:
        return Path(value)


class AnnotText:
    """One inline fragment: text + link + formatting + code flag."""

    __slots__ = ("text", "hyperlink", "formatting", "code")

    def __init__(
        self,
        text: str,
        hyperlink=None,
        formatting: Optional[Formatting] = None,
        code: bool = False,
    ):
        self.text = text
        self.hyperlink = _coerce_link(hyperlink)
        self.formatting = formatting
        self.code = code

    def clone_with_text(self, text: str) -> "AnnotText":
        return AnnotText(text, self.hyperlink, self.formatting, self.code)


def merge_to_single(frags: list[AnnotText]) -> AnnotText:
    """Join fragments into one: strip each piece + single-space join; first
    non-null link/formatting wins; code is sticky once True."""
    link = None
    fmt = None
    code = False
    acc = ""
    for f in frags:
        acc += f.text.strip() + " "
        if f.formatting is not None and fmt is None:
            fmt = f.formatting
        if f.hyperlink is not None and link is None:
            link = f.hyperlink
        code = f.code if f.code else code
    return AnnotText(acc.strip(), link, fmt, code)


def coalesce_runs(frags: list[AnnotText]) -> list[AnnotText]:
    """Merge adjacent fragments sharing (link, formatting, code).

    Join separator is a single space, except when either side is
    whitespace-only — then the pieces concatenate directly (this is what
    preserves newlines for the later newline split).
    """
    if not frags:
        return frags
    out: list[AnnotText] = []
    cur = frags[0]
    text = cur.text
    prev_piece = text
    for nxt in frags[1:]:
        if (
            nxt.hyperlink == cur.hyperlink
            and nxt.formatting == cur.formatting
            and nxt.code == cur.code
        ):
            sep = "" if (not nxt.text.strip() or not prev_piece.strip()) else " "
            text = text + sep + nxt.text
            prev_piece = nxt.text
        else:
            out.append(AnnotText(text, cur.hyperlink, cur.formatting, cur.code))
            cur = nxt
            text = nxt.text
            prev_piece = text
    if text:
        out.append(AnnotText(text, cur.hyperlink, cur.formatting, cur.code))
    return out


def split_on_newlines(frags: list[AnnotText]) -> list[list[AnnotText]]:
    """Split a fragment run into parts at embedded newlines.

    Quirk preserved from the reference (html_backend.py:174-190): every
    newline-derived piece closes the active part — including the last piece —
    so a fragment ending a multiline run always terminates its part even when
    more fragments follow.
    """
    parts: list[list[AnnotText]] = []
    active: list[AnnotText] = []
    for f in frags:
        pieces = f.text.split("\n")
        if len(pieces) == 1:
            active.append(f)
        else:
            for piece in pieces:
                active.append(f.clone_with_text(piece))
                parts.append(active)
                active = []
    if active:
        parts.append(active)
    return parts


def resolve_href(loc: str, base: Optional[str]) -> str:
    """Resolve a location against the document base (html_backend.py:309-324).

    NB: when the reference converts without an explicit source_uri, its base
    is the literal string "None" (str(None)) — callers wanting golden parity
    must pass base="None".
    """
    out = loc
    if base:
        if loc.startswith("//"):
            out = "https:" + loc
        elif not loc.startswith(("http://", "https://", "data:", "file://")):
            scheme = urlparse(base).scheme
            if scheme in {"http", "https", "ftp", "s3", "gs"}:
                out = urljoin(base, loc)
            else:
                out = str(Path(base).parent / loc)
    return out


# hostile-input hardening beyond the reference: a colspan/rowspan bomb
# (e.g. colspan=10^9) would allocate a gigantic grid and stall a task;
# goldens never exceed single digits, so a generous cap keeps parity
# while bounding grid fill per anchor cell at ~65k cells.
_SPAN_CAP = 256
_DIGITS = re.compile(r"\d+")
_WS_RUNS = re.compile(r"\s+|\n+")


def _span(value: str) -> int:
    if value and value[0].isnumeric():
        m = _DIGITS.search(value)
        if m:
            return min(int(m.group()), _SPAN_CAP)
    return 1


def _cell_spans(cell: Tag) -> tuple[int, int]:
    """(colspan, rowspan); absent or non-numeric → 1 (html_backend.py:1338-1363)."""
    attrs = cell.attrs
    return (
        _span(attrs["colspan"]) if "colspan" in attrs else 1,
        _span(attrs["rowspan"]) if "rowspan" in attrs else 1,
    )


def _child_tags(tag: Tag, names: frozenset) -> list[Tag]:
    """The direct child tags of ``tag`` named in ``names``."""
    return [c for c in tag.contents if isinstance(c, Tag) and c.tag_name in names]


def _table_rows(table: Tag) -> list[list[tuple[Tag, int, int]]]:
    """Unwrap the table's direct thead/tbody children, then list its direct
    rows as (cell, colspan, rowspan) triples, each span parsed once."""
    for t in _child_tags(table, _SECTION_TAGS):
        t.unwrap()
    return [
        [(cell, *_cell_spans(cell)) for cell in _child_tags(tr, _CELL_TAGS)]
        for tr in _child_tags(table, _ROW_TAGS)
    ]


def table_shape(rows: list[list[tuple[Tag, int, int]]]) -> tuple[int, int]:
    """(rows, cols) of (cell, colspan, rowspan) rows, accounting for spans;
    row-header-only rows don't count (html_backend.py:1028-1051)."""
    num_rows = 0
    cols = 0
    for cells in rows:
        width = 0
        header_only = True
        for cell, cspan, rspan in cells:
            width += cspan
            if cell.tag_name == "td" or rspan == 1:
                header_only = False
        cols = max(cols, width)
        if not header_only:
            num_rows += 1
    return num_rows, cols


def place_cells(rows: list[list[tuple[Tag, int, int]]], num_rows: int, num_cols: int):
    """Fill the table grid with span replication (html_backend.py:402-518).

    Yields ``(cell, spec, cursor)`` per cell in row order: ``spec`` is a
    ``TableCellSpec`` with the cell's position, spans and header flags and
    no text yet; ``cursor`` is the column index before the skip over
    filled slots, which the reference names rich-cell groups by. A row of
    ``th`` cells that all span rows (a row-header row) does not advance the
    row index: it lands one row further below the last other row per such
    row in a run, and its cells span one row fewer."""
    filled = [[False] * num_cols for _ in range(num_rows)]
    start_row_span = 0
    row_idx = -1
    for cells in rows:
        col_header = True
        row_header = True
        for cell, _, rspan in cells:
            if cell.tag_name == "td":
                col_header = False
                row_header = False
            elif rspan == 1:
                row_header = False
        if not row_header:
            row_idx += 1
            start_row_span = 0
        else:
            start_row_span += 1
        start = row_idx + start_row_span

        col_idx = 0
        for cell, cspan, rspan in cells:
            cursor = col_idx
            if row_header:
                rspan -= 1
            while col_idx < num_cols and filled[start][col_idx]:
                col_idx += 1
            for r in range(start, min(start + rspan, num_rows)):
                for c in range(col_idx, min(col_idx + cspan, num_cols)):
                    filled[r][c] = True
            spec = TableCellSpec(
                text="",
                row_span=rspan,
                col_span=cspan,
                start_row=start,
                end_row=start + rspan,
                start_col=col_idx,
                end_col=col_idx + cspan,
                column_header=col_header,
                row_header=(not col_header) and cell.tag_name == "th",
            )
            yield cell, spec, cursor


def _inside(tag: Tag, top: Tag, memo: dict) -> bool:
    """Whether ``top`` is a proper ancestor of ``tag``.

    ``memo`` maps each tag looked at before to the answer for it and starts
    as ``{top: True}``; a batch of queries sharing it visits each ancestor
    once, whatever the depth."""
    path = []
    p = tag.parent
    while p is not None and p not in memo:
        path.append(p)
        p = p.parent
    inside = p is not None and memo[p]
    for q in path:
        memo[q] = inside
    return inside


def _block_holders(top: Tag) -> set:
    """The tags that have a ``BLOCK_TAGS`` descendant under ``top`` (and
    ``top``'s ancestors when it has one); each tag is added once."""
    holders: set = set()
    stack = [top]
    while stack:
        for node in stack.pop().contents:
            if isinstance(node, Tag):
                if node.contents:
                    stack.append(node)
                if node.tag_name in BLOCK_TAGS:
                    p = node.parent
                    while p is not None and p not in holders:
                        holders.add(p)
                        p = p.parent
    return holders


def _concat_text(node) -> str:
    """Plain text concat where <p>/<li> contribute a trailing space
    (html_backend.py:1268-1296)."""

    def rec(n) -> list[str]:
        if isinstance(n, MarkupNode):
            return [str(n)]  # reference treats any NavigableString alike here
        if isinstance(n, TextNode):
            return [str(n)]
        if isinstance(n, Tag):
            parts: list[str] = []
            for c in n.contents:
                parts.extend(rec(c))
            joined = "".join(parts)
            return [joined + " " if n.tag_name in {"p", "li"} else joined]
        return []

    return "".join(rec(node))


class HtmlExtractor:
    """Stateful single-document walker; instantiate per document."""

    MAX_LEVELS = 10

    def __init__(self, base_uri: Optional[str] = "None"):
        # "None" (the str) mirrors the reference default str(source_uri=None)
        self.base = base_uri
        # per-document state set up by convert: the _ancestry memo, the tags
        # with a block descendant, and whether the page has an inline-formula
        self._ancestry_memo: dict = {}
        self._holders: set = set()
        self._has_formula = False
        self.level = 0
        self.parents: dict[int, Optional[Item]] = {
            i: None for i in range(self.MAX_LEVELS)
        }
        self.layer = BODY
        self.hyperlink: Hyperlink = None
        self.format_stack: list[str] = []
        self.list_ordered: dict[int, bool] = {}
        self.list_start: dict[int, int] = {}

    # ------------------------------------------------------------------ api
    def convert(self, raw: Union[bytes, str], name: str = "doc") -> SpanDoc:
        root: Document = parse_html(raw)
        index = root.index
        doc = SpanDoc(name=name)

        title = next((t for t in index if t.tag_name == "title"), None)
        if title is not None:
            t_orig = title.get_text(separator=" ", strip=True)
            doc.add_text(
                "title", clean_unicode(t_orig), orig=t_orig, content_layer=FURNITURE
            )

        # detaching every removed tag gives the same tree in any order, and
        # an entry under a removed tag is detached with it
        for t in index:
            if t.tag_name in _REMOVED_TAGS or "hidden" in t.attrs:
                t.decompose()

        under_root = {root: True}
        content = next(
            (
                t
                for t in index
                if t.tag_name == "body" and _inside(t, root, under_root)
            ),
            root,
        )
        under_content = {content: True}
        for t in index:
            if t.tag_name == "br" and _inside(t, content, under_content):
                t.parent.replace_child_with(t, TextNode("\n"))

        self._ancestry_memo = {}
        headers = any(
            t.tag_name in HEADING_TAGS
            and _inside(t, content, under_content)
            and not self._ancestry(t.parent)[3]
            for t in index
        )
        self.layer = FURNITURE if headers else BODY

        self._holders = _block_holders(content)
        self._has_formula = any(t.tag_name == "inline-formula" for t in index)
        self.list_ordered.clear()
        self.list_start.clear()
        self._walk(content, doc, [])
        return doc

    # ------------------------------------------------------------- helpers
    def _parent(self) -> Optional[int]:
        it = self.parents[self.level]
        return it.idx if it is not None else None

    @property
    def _fmt(self) -> Optional[Formatting]:
        flags: dict = {}
        for t in self.format_stack:
            flags.update(FORMAT_TAGS[t])
        return Formatting(**flags) if flags else None

    @contextmanager
    def _push_format(self, tags: Sequence[str]):
        if not tags:
            yield
            return
        self.format_stack.extend(tags)
        try:
            yield
        finally:
            del self.format_stack[-len(tags):]

    @contextmanager
    def _push_hyperlink(self, tag: Tag):
        href = tag.get("href")
        if href is None:
            yield
            return
        new: Hyperlink = None
        old: Hyperlink = None
        if isinstance(href, str) and href:
            old = self.hyperlink
            resolved = resolve_href(href, self.base)
            new = _coerce_link(resolved)
            self.hyperlink = new
        try:
            yield
        finally:
            if new:
                self.hyperlink = old

    @contextmanager
    def _maybe_inline_group(self, frags: list[AnnotText], doc: SpanDoc):
        if len(frags) > 1:
            grp = doc.add_group(
                label="inline", parent=self._parent(), content_layer=self.layer
            )
            self.parents[self.level + 1] = grp
            self.level += 1
            try:
                yield
            finally:
                self.parents[self.level] = None
                self.level -= 1
        else:
            yield

    @contextmanager
    def _section_group(self, tag: Tag, doc: SpanDoc, furniture: bool = False):
        saved_layer = self.layer
        if furniture:
            self.layer = FURNITURE
        self.parents[self.level + 1] = doc.add_group(
            label="section",
            name=tag.tag_name,
            parent=self._parent(),
            content_layer=self.layer,
        )
        self.level += 1
        try:
            yield
        finally:
            self.parents[self.level + 1] = None
            self.level -= 1
            if furniture:
                self.layer = saved_layer

    # ------------------------------------------------------- text gathering
    def _ancestry(self, tag: Tag) -> _Ancestry:
        """Among ``tag`` and its ancestors: the ``FORMAT_TAGS`` names, in
        ``FORMAT_TAGS`` order; the nearest ``a`` with a truthy href; the
        nearest ``figure``; whether one is a ``table``. Each entry is built
        from its parent's, so a tag's ancestors are walked once per
        document."""
        memo = self._ancestry_memo
        path = []
        while tag is not None and tag not in memo:
            path.append(tag)
            tag = tag.parent
        entry = memo[tag] if tag is not None else _NO_ANCESTRY
        for t in reversed(path):
            name = t.tag_name
            if name in FORMAT_TAGS and name not in entry[0]:
                fmts = entry[0]
                entry = (
                    tuple(ft for ft in FORMAT_TAGS if ft == name or ft in fmts),
                ) + entry[1:]
            elif name == "a" and t.get("href"):
                entry = (entry[0], t, entry[2], entry[3])
            elif name == "figure":
                entry = (entry[0], entry[1], t, entry[3])
            elif name == "table" and not entry[3]:
                entry = entry[:3] + (True,)
            memo[t] = entry
        return entry

    def _gather(
        self,
        node,
        ignore_list: bool = False,
        find_parent_annotation: bool = False,
        keep_newlines: bool = False,
    ) -> list[AnnotText]:
        """Collect (text, link, formatting, code) fragments from a subtree
        (html_backend.py:637-715)."""
        if find_parent_annotation and node.parent is not None:
            fmt_tags, link, _, _ = self._ancestry(node.parent)
            if link is not None:
                with self._push_format(fmt_tags):
                    with self._push_hyperlink(link):
                        # NB: reference drops keep_newlines on this path
                        return self._gather(node, ignore_list)

        if isinstance(node, MarkupNode):
            return []

        if isinstance(node, TextNode):
            stripped = node.strip()
            code = not CODE_TAGS.isdisjoint(self.format_stack)
            if stripped:
                return [AnnotText(stripped, self.hyperlink, self._fmt, code)]
            # golden-derived: any whitespace-only string becomes a newline
            # fragment in keep_newlines mode (splits sibling inline runs —
            # see wiki_duck "Tools"/"move to sidebar"/"hide")
            if keep_newlines and node.strip() == "":
                return [AnnotText("\n", self.hyperlink, self._fmt, code)]
            return []

        out: list[AnnotText] = []
        tag: Tag = node
        if not ignore_list or tag.tag_name not in ("ul", "ol"):
            for child in tag.contents:
                if isinstance(child, Tag) and child.tag_name in FORMAT_TAGS:
                    with self._push_format([child.tag_name]):
                        out.extend(
                            self._gather(child, ignore_list, keep_newlines=keep_newlines)
                        )
                elif isinstance(child, Tag) and child.tag_name == "a":
                    with self._push_hyperlink(child):
                        out.extend(
                            self._gather(child, ignore_list, keep_newlines=keep_newlines)
                        )
                else:
                    out.extend(
                        self._gather(child, ignore_list, keep_newlines=keep_newlines)
                    )
        return out

    def _images(self, tag: Tag) -> list[Tag]:
        # img is a block tag, so a tag outside the holder set has none
        return tag.find_all("img") if tag in self._holders else []

    # ------------------------------------------------------------- emitting
    def _add_run(self, doc: SpanDoc, frag: AnnotText, text: str) -> Item:
        """One fragment as a code or a text item under the current parent."""
        return doc.add_text(
            "code" if frag.code else "text",
            text,
            parent=self._parent(),
            content_layer=self.layer,
            formatting=frag.formatting,
            hyperlink=_link_str(frag.hyperlink),
        )

    def _emit_parts(self, runs: list[AnnotText], doc: SpanDoc) -> list[int]:
        """Emit coalesced runs split at newlines, each part in an inline
        group when it has several fragments; blank fragments emit nothing."""
        refs: list[int] = []
        for part in split_on_newlines(runs):
            with self._maybe_inline_group(part, doc):
                for frag in part:
                    seg = frag.text.strip()
                    if seg:
                        refs.append(self._add_run(doc, frag, clean_unicode(seg)).idx)
        return refs

    # --------------------------------------------------------------- walking
    def _walk(self, element: Tag, doc: SpanDoc, emitted: list[int]) -> None:
        """Recursive DOM linearizer: buffers inline fragments, flushes at
        block boundaries (html_backend.py:520-614). Appends the emitted item
        idxs to ``emitted``, which nested walks share, so an item's idx is
        stored once however deep it sits."""
        buffer: list[AnnotText] = []

        def flush():
            if not buffer:
                return
            runs = coalesce_runs(buffer)
            buffer.clear()
            if any(f.text for f in runs):
                emitted.extend(self._emit_parts(runs, doc))

        for node in list(element.contents):
            if isinstance(node, Tag):
                name = node.tag_name
                if name == "img":
                    flush()
                    ref = self._emit_image(node, doc)
                    if ref is not None:
                        emitted.append(ref)
                elif name in FORMAT_TAGS:
                    flush()
                    with self._push_format([name]):
                        self._walk(node, doc, emitted)
                elif name == "a":
                    with self._push_hyperlink(node):
                        self._walk(node, doc, emitted)
                elif name in BLOCK_TAGS:
                    flush()
                    emitted.extend(self._handle_block(node, doc))
                elif node in self._holders:
                    flush()
                    self._walk(node, doc, emitted)
                else:
                    buffer.extend(
                        self._gather(
                            node, find_parent_annotation=True, keep_newlines=True
                        )
                    )
            elif isinstance(node, TextNode) and not isinstance(node, MarkupNode):
                # golden-derived: ANY whitespace-only string is a flush point
                # (e.g. adjacent sibling <div>s split into separate items —
                # example_06 / wiki_duck goldens)
                if str(node).strip() == "":
                    flush()
                else:
                    buffer.extend(
                        self._gather(
                            node, find_parent_annotation=True, keep_newlines=True
                        )
                    )

        flush()

    # -------------------------------------------------------------- headings
    def _handle_heading(self, tag: Tag, doc: SpanDoc) -> list[int]:
        refs: list[int] = []
        self.layer = BODY
        hlevel = int(tag.tag_name[1])
        single = merge_to_single(self._gather(tag, find_parent_annotation=True))
        text = clean_unicode(single.text)
        if hlevel == 1:
            for k in self.parents:
                self.parents[k] = None
            self.level = 0
            item = doc.add_text(
                "title",
                text,
                orig=single.text,
                content_layer=self.layer,
                formatting=single.formatting,
                hyperlink=_link_str(single.hyperlink),
            )
            self.parents[self.level + 1] = item
            refs = [item.idx]
        else:
            lvl = hlevel - 1
            if lvl > self.level:
                for i in range(self.level, lvl):
                    self.parents[i + 1] = doc.add_group(
                        label="section",
                        name=f"header-{i + 1}",
                        parent=(
                            self.parents[i].idx if self.parents[i] is not None else None
                        ),
                        content_layer=self.layer,
                    )
                self.level = lvl
            elif lvl < self.level:
                for k in self.parents:
                    if k > lvl + 1:
                        self.parents[k] = None
                self.level = lvl
            item = doc.add_text(
                "section_header",
                text,
                level=self.level,
                orig=single.text,
                parent=self._parent(),
                content_layer=self.layer,
                formatting=single.formatting,
                hyperlink=_link_str(single.hyperlink),
            )
            self.parents[self.level + 1] = item
            refs = [item.idx]
        self.level += 1
        for img in self._images(tag):
            r = self._emit_image(img, doc)
            if r is not None:
                refs.append(r)
        return refs

    # ----------------------------------------------------------------- lists
    def _handle_list(self, tag: Tag, doc: SpanDoc) -> int:
        ordered = tag.tag_name == "ol"
        start: Optional[int] = None
        if ordered:
            sa = tag.get("start")
            if isinstance(sa, str) and sa.isnumeric():
                start = int(sa)
            gname = "ordered list" + (f" start {start}" if start is not None else "")
        else:
            gname = "list"

        group = doc.add_group(
            "list", name=gname, parent=self._parent(), content_layer=self.layer
        )
        self.parents[self.level + 1] = group
        self.list_ordered[group.idx] = ordered
        if ordered and start is not None:
            self.list_start[group.idx] = start
        self.level += 1

        for li in _child_tags(tag, _LIST_CHILD_TAGS):
            if li.tag_name in _LIST_TAGS:
                # invalid-HTML workaround: list directly nested in list
                self._handle_block(li, doc)
                continue

            marker = (
                f"{start + len(group.children)}."
                if (ordered and start is not None)
                else ""
            )
            frags = self._gather(li, ignore_list=True, find_parent_annotation=True)
            runs = coalesce_runs(frags)
            li_text = _WS_RUNS.sub(" ", "".join(f.text for f in runs)).strip()

            if li_text:
                if len(runs) > 1:
                    holder = doc.add_text(
                        "list_item",
                        text="",
                        enumerated=ordered,
                        marker=marker,
                        parent=group.idx,
                        content_layer=self.layer,
                    )
                    self.parents[self.level + 1] = holder
                    self.level += 1
                    with self._maybe_inline_group(runs, doc):
                        for frag in runs:
                            seg = _WS_RUNS.sub(" ", frag.text).strip()
                            self._add_run(doc, frag, clean_unicode(seg))
                    for sub in _child_tags(li, _LIST_TAGS):
                        self._handle_block(sub, doc)
                    self.parents[self.level] = None
                    self.level -= 1
                else:
                    frag = runs[0]
                    raw = _WS_RUNS.sub(" ", frag.text).strip()
                    item = doc.add_text(
                        "list_item",
                        text=clean_unicode(raw),
                        enumerated=ordered,
                        marker=marker,
                        orig=raw,
                        parent=group.idx,
                        content_layer=self.layer,
                        formatting=frag.formatting,
                        hyperlink=_link_str(frag.hyperlink),
                    )
                    self.parents[self.level + 1] = item
                    for sub in _child_tags(li, _LIST_TAGS):
                        self.level += 1
                        self._handle_block(sub, doc)
                        self.parents[self.level + 1] = None
                        self.level -= 1
            else:
                for sub in _child_tags(li, _LIST_TAGS):
                    self._handle_block(sub, doc)

            for img in self._images(li):
                self._emit_image(img, doc)

        self.parents[self.level + 1] = None
        self.level -= 1
        return group.idx

    # ---------------------------------------------------------------- tables
    def _is_rich_cell(self, cell: Tag) -> bool:
        """RichTableCell decision matrix (html_backend.py:366-400; ground
        truth: tests/test_backend_html.py:447-525)."""
        if not any(isinstance(c, Tag) for c in cell.contents):
            strings = [c for c in cell.contents if isinstance(c, TextNode)]
            return len(strings) > 1
        frags = self._gather(cell, find_parent_annotation=True)
        if not frags:
            # reference evaluates bool(<generator>) here — always True
            return True
        if len(frags) == 1:
            f = frags[0]
            return bool(f.formatting) or bool(f.hyperlink) or f.code
        return True

    def _replace_formula(self, formula: Tag, text: TextNode) -> None:
        """Swap an inline-formula for its text and keep ``_holders`` exact:
        an ancestor that held a block only through the formula stops being
        a holder."""
        parent = formula.parent
        parent.replace_child_with(formula, text)
        holders = self._holders
        p = parent
        while p is not None and p in holders:
            if any(
                isinstance(c, Tag) and (c.tag_name in BLOCK_TAGS or c in holders)
                for c in p.contents
            ):
                break
            holders.discard(p)
            p = p.parent

    def _parse_table(
        self, tag: Tag, doc: SpanDoc, tbl: Item, rows: list[list[tuple[Tag, int, int]]]
    ) -> None:
        # reference quirk: the sections are unwrapped a second time, which
        # reaches a tbody that sat inside a thead
        if _child_tags(tag, _SECTION_TAGS):
            rows = _table_rows(tag)
        for cell, spec, cursor in place_cells(rows, tbl.num_rows, tbl.num_cols):
            if self._has_formula:
                for formula in cell.find_all("inline-formula"):
                    parts = formula.text.split("$$")
                    if len(parts) == 3:
                        self._replace_formula(formula, TextNode(f"$${parts[1]}$$"))

            if self._is_rich_cell(cell):
                saved_level = self.level
                provs: list[int] = []
                self._walk(cell, doc, provs)
                self.level = saved_level
                if provs:
                    gname = (
                        f"rich_cell_group_{doc.table_count}_{cursor}_{spec.start_row}"
                    )
                    grp = doc.add_group(
                        label="unspecified", name=gname, parent=tbl.idx
                    )
                    for p in provs:
                        doc.reparent(p, grp.idx)
                    spec.rich_ref = grp.idx

            spec.text = clean_unicode(_concat_text(cell).strip())
            tbl.cells.append(spec)

    # ---------------------------------------------------------------- blocks
    def _handle_block(self, tag: Tag, doc: SpanDoc) -> list[int]:
        refs: list[int] = []
        name = tag.tag_name

        if name == "figure":
            img = tag.find("img")
            if img is not None:
                r = self._emit_image(img, doc)
                if r is not None:
                    refs.append(r)

        elif name in {"h1", "h2", "h3", "h4", "h5", "h6"}:
            refs.extend(self._handle_heading(tag, doc))

        elif name in {"ul", "ol"}:
            refs.append(self._handle_list(tag, doc))

        elif name in {"p", "address", "summary"}:
            runs = coalesce_runs(self._gather(tag, find_parent_annotation=True))
            refs.extend(self._emit_parts(runs, doc))
            for img in self._images(tag):
                self._emit_image(img, doc)

        elif name == "table":
            rows = _table_rows(tag)
            num_rows, num_cols = table_shape(rows)
            tbl = doc.add_table(
                num_rows=num_rows,
                num_cols=num_cols,
                parent=self._parent(),
                content_layer=self.layer,
            )
            refs.append(tbl.idx)
            self._parse_table(tag, doc, tbl, rows)
            for _img in self._images(tag):
                # reference quirk: passes the *table* tag to image emission,
                # yielding a caption-less placeholder per nested <img>
                r = self._emit_image(tag, doc)
                if r is not None:
                    refs.append(r)

        elif name == "pre":
            runs = coalesce_runs(
                self._gather(tag, find_parent_annotation=True, keep_newlines=True)
            )
            with self._maybe_inline_group(runs, doc):
                for frag in runs:
                    it = doc.add_text(
                        "code",
                        text=clean_unicode(frag.text.strip()),
                        parent=self._parent(),
                        content_layer=self.layer,
                        formatting=frag.formatting,
                        hyperlink=_link_str(frag.hyperlink),
                    )
                    refs.append(it.idx)

        elif name == "footer":
            with self._section_group(tag, doc, furniture=True):
                self._walk(tag, doc, [])

        elif name == "details":
            with self._section_group(tag, doc):
                self._walk(tag, doc, [])

        return refs

    # ---------------------------------------------------------------- images
    def _emit_image(self, img: Tag, doc: SpanDoc) -> Optional[int]:
        """Always placeholder mode (fetch_images=False default,
        backend_options.py:31-37); caption from figcaption/alt/link-alt
        (html_backend.py:1152-1215)."""
        _, a, figure, _ = self._ancestry(img.parent)
        caption: list[AnnotText] = []
        parent = self._parent()

        link = a.get("href") if a is not None else None
        if link:
            caption.append(AnnotText(img.get("alt") or "", hyperlink=link))

        if figure is not None:
            fc = figure.find("figcaption", recursive=False)
            if fc is not None:
                caption = self._gather(fc, find_parent_annotation=True)
        if not caption and img.get("alt"):
            caption = [AnnotText(img.get("alt"))]

        single = merge_to_single(caption)
        cap_item: Optional[Item] = None
        if single.text:
            cap_item = doc.add_text(
                label="caption",
                text=clean_unicode(single.text.strip()),
                orig=single.text,
                content_layer=self.layer,
                formatting=single.formatting,
                hyperlink=_link_str(single.hyperlink),
            )

        pic = doc.add_picture(
            caption=cap_item, parent=parent, content_layer=self.layer
        )
        return pic.idx


def _link_str(link: Hyperlink) -> Optional[str]:
    """Serialize a hyperlink exactly as the reference's md export does
    (str() of AnyUrl or Path)."""
    if link is None:
        return None
    return str(link)


def extract_html(
    raw: Union[bytes, str], base_uri: Optional[str] = "None", name: str = "doc"
) -> SpanDoc:
    """Convenience: one document in, SpanDoc out."""
    return HtmlExtractor(base_uri=base_uri).convert(raw, name=name)
