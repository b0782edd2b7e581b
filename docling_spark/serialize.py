"""Markdown / indented-text serializers for the SpanDoc span model.

The reference's serializers live in its ``docling-core`` dependency; the exact
output contract here is re-derived from the frozen golden files
(/root/reference/tests/data/groundtruth/docling_v2/*.md, *.itxt) exercised by
/root/reference/tests/test_backend_html.py:225-249.
"""

from __future__ import annotations

import unicodedata
from typing import Iterable, Optional

from .model import BODY, Item, SpanDoc

DEFAULT_LAYERS = frozenset({BODY})


# --------------------------------------------------------------------------- md
def _escape_text(text: str, escape_html: bool = True) -> str:
    # inline-text escapes observed in the goldens: & → &amp;, < → &lt;,
    # > → &gt;, _ → \_ (escaped_characters.md.md golden). escape_html=False
    # mirrors the reference export_to_markdown(escape_html=False) used by
    # its VTT golden test (tests/test_backend_vtt.py:220) — html-special
    # chars pass through, underscores still escape.
    # (table cells are NOT escaped — e.g. "Header 2 & 3" in example_04)
    if escape_html:
        text = (
            text.replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
        )
    return text.replace("_", r"\_")


def _inline(item: Item, escape_html: bool = True) -> str:
    """Inline form of a text item: formatting wrappers + hyperlink. Code
    renders in backticks, or fenced when it spans lines."""
    if item.label == "formula":
        return f"${item.text}$"
    if item.label == "code":
        if "\n" in item.text:
            return f"```\n{item.text}\n```"
        txt = f"`{item.text}`"
    else:
        txt = _escape_text(item.text, escape_html)
    f = item.formatting
    if f is not None:
        if f.bold and f.italic:
            txt = f"***{txt}***"
        elif f.bold:
            txt = f"**{txt}**"
        elif f.italic:
            txt = f"*{txt}*"
        if f.strikethrough:
            txt = f"~~{txt}~~"
    if item.hyperlink:
        txt = f"[{txt}]({item.hyperlink})"
    return txt


class _MdWriter:
    def __init__(self, doc: SpanDoc, layers: frozenset, escape_html: bool = True):
        self.doc = doc
        self.layers = layers
        self.escape_html = escape_html
        self.blocks: list[str] = []
        # one owner per block: item idx, ("lines", [idx-per-line]) for list
        # blocks, or None — consumed by run_with_spans (char offsets)
        self._owners: list = []

    def _put(self, owner, text: str) -> None:
        self.blocks.append(text)
        self._owners.append(owner)

    def _visible(self, item: Item) -> bool:
        return item.content_layer in self.layers

    def _inline_parts(self, group: Item) -> list[str]:
        """The non-empty inline forms of an inline group's visible text
        items."""
        parts = []
        for c in group.children:
            ti = self.doc.items[c]
            if ti.kind == "text" and self._visible(ti):
                s = _inline(ti, self.escape_html)
                if s:
                    parts.append(s)
        return parts

    def run_with_spans(self) -> "tuple[str, dict[int, tuple[int, int]]]":
        """markdown + per-item character offsets into it (north rule:
        "extracted text + span offsets"); md[start:end] is exactly the
        text the item emitted (test-pinned)."""
        for cidx in self.doc.items[0].children:
            self._block(self.doc.items[cidx])
        md_full = "\n\n".join(self.blocks)
        md = md_full.strip()
        lead = len(md_full) - len(md_full.lstrip())
        spans: dict[int, list[int]] = {}

        def add(idx: int, s: int, e: int) -> None:
            s, e = max(0, s - lead), max(0, min(e - lead, len(md)))
            s = min(s, e)
            if idx in spans:
                spans[idx][0] = min(spans[idx][0], s)
                spans[idx][1] = max(spans[idx][1], e)
            else:
                spans[idx] = [s, e]

        pos = 0
        for block, owner in zip(self.blocks, self._owners):
            if isinstance(owner, tuple) and owner[0] == "lines":
                lpos = pos
                for line, lowner in zip(block.split("\n"), owner[1]):
                    if lowner is not None:
                        add(lowner, lpos, lpos + len(line))
                    lpos += len(line) + 1
            elif owner is not None:
                add(owner, pos, pos + len(block))
            pos += len(block) + 2
        return md, {k: (v[0], v[1]) for k, v in spans.items()}

    # -- block-level dispatch -------------------------------------------------
    def _block(self, item: Item) -> None:
        doc = self.doc
        if item.kind == "group":
            if item.label == "list":
                lines: list[str] = []
                line_owners: list = []
                self._list_lines(item, 0, lines, line_owners)
                if lines:
                    self._put(("lines", line_owners), "\n".join(lines))
            elif item.label == "inline":
                if self._visible(item):
                    text = " ".join(self._inline_parts(item))
                    if text:
                        self._put(item.idx, text)
            else:  # section / unspecified: transparent
                for c in item.children:
                    self._block(doc.items[c])
            return

        if not self._visible(item):
            return

        if item.kind == "text":
            if item.label == "caption":
                return  # rendered via the owning picture/table
            if item.label in ("title", "section_header"):
                prefix = "#" if item.label == "title" else "#" * (item.level + 1)
                head = _inline(item, self.escape_html) if item.text else ""
                # heading with empty text + inline-group children (md backend
                # shape: multi-fragment headings) renders joined on one line
                inline_parts: list[str] = []
                plain_children: list[int] = []
                for c in item.children:
                    ch = doc.items[c]
                    if not item.text and ch.kind == "group" and ch.label == "inline":
                        inline_parts.extend(self._inline_parts(ch))
                    else:
                        plain_children.append(c)
                joined = " ".join(([head] if head else []) + inline_parts)
                self._put(item.idx, f"{prefix} {joined}".rstrip())
                for c in plain_children:
                    self._block(doc.items[c])
                return
            elif item.label == "code":
                # standalone (block-level) code items always render fenced —
                # reference CodeItem serialization (escaped_characters.md.md
                # golden: single-line code span under a heading → fenced);
                # backtick form is reserved for inline-group contexts
                self._put(item.idx, f"```\n{item.text}\n```")
            elif item.label == "formula":
                # standalone FormulaItem → display math (equations.docx.md)
                self._put(item.idx, f"$${item.text}$$")
            else:
                txt = _inline(item, self.escape_html)
                if txt:
                    self._put(item.idx, txt)
            for c in item.children:
                self._block(doc.items[c])
        elif item.kind == "picture":
            for cap in item.captions:
                cap_it = self.doc.items[cap]
                if cap_it.text:
                    self._put(cap, _escape_text(cap_it.text, self.escape_html))
            self._put(item.idx, "<!-- image -->")
        elif item.kind == "table":
            for cap in item.captions:
                cap_it = self.doc.items[cap]
                if cap_it.text:
                    self._put(cap, _escape_text(cap_it.text, self.escape_html))
            grid_md = self._table_md(item)
            if grid_md:
                self._put(item.idx, grid_md)

    # -- lists ------------------------------------------------------------------
    def _list_lines(
        self, group: Item, depth: int, lines: list[str], owners: list
    ) -> None:
        doc = self.doc
        pos = 0
        for cidx in group.children:
            child = doc.items[cidx]
            if child.kind == "group" and child.label == "list":
                self._list_lines(child, depth + 1, lines, owners)
                continue
            if child.kind == "picture" and self._visible(child):
                # images inside <li> attach to the list group; they render as
                # unindented placeholder lines (wiki_duck golden)
                for cap in child.captions:
                    cap_it = doc.items[cap]
                    if cap_it.text:
                        lines.append(_escape_text(cap_it.text, self.escape_html))
                        owners.append(cap)
                lines.append("<!-- image -->")
                owners.append(child.idx)
                continue
            if child.label != "list_item" or not self._visible(child):
                continue
            pos += 1
            if child.enumerated:
                marker = child.marker if child.marker else f"{pos}."
            else:
                marker = "-"
            parts: list[str] = []
            if child.text:
                parts.append(_inline(child, self.escape_html))
            sublists: list[Item] = []
            for gidx in child.children:
                sub = doc.items[gidx]
                if sub.kind == "group" and sub.label == "inline":
                    parts.extend(self._inline_parts(sub))
                elif sub.kind == "group" and sub.label == "list":
                    sublists.append(sub)
                elif sub.kind == "text" and self._visible(sub):
                    s = _inline(sub, self.escape_html)
                    if s:
                        parts.append(s)
            # keep the item text's own trailing whitespace (pptx sample
            # golden "- l1 "); only a fully empty item collapses to bare "-"
            line = f"{' ' * 4 * depth}{marker} {' '.join(parts)}"
            lines.append(line if parts else line.rstrip())
            owners.append(child.idx)
            for sub in sublists:
                self._list_lines(sub, depth + 1, lines, owners)

    # -- tables -------------------------------------------------------------------
    def _cell_content(self, item: Item, cell) -> str:
        if cell.rich_ref >= 0:
            grp = self.doc.items[cell.rich_ref]
            sub = _MdWriter(self.doc, self.layers, self.escape_html)
            for c in grp.children:
                sub._block(self.doc.items[c])
            rendered = "\n\n".join(sub.blocks).strip()
            return rendered.replace("\n", " ")
        return cell.text

    def _table_md(self, item: Item) -> str:
        rows, cols = item.num_rows, item.num_cols
        if rows == 0 or cols == 0:
            return ""
        grid = [["" for _ in range(cols)] for _ in range(rows)]
        for cell in item.cells:
            content = self._cell_content(item, cell)
            if cell.rich_ref >= 0:
                # rich content renders at its anchor position only
                if 0 <= cell.start_row < rows and 0 <= cell.start_col < cols:
                    grid[cell.start_row][cell.start_col] = content
                continue
            for r in range(cell.start_row, min(cell.end_row, rows)):
                for c in range(cell.start_col, min(cell.end_col, cols)):
                    grid[r][c] = content
        return _github_table(grid)


def to_markdown(
    doc: SpanDoc,
    layers: Iterable[str] = DEFAULT_LAYERS,
    escape_html: bool = True,
) -> str:
    return to_markdown_with_spans(doc, layers, escape_html)[0]


def to_markdown_with_spans(
    doc: SpanDoc,
    layers: Iterable[str] = DEFAULT_LAYERS,
    escape_html: bool = True,
) -> "tuple[str, dict[int, tuple[int, int]]]":
    """markdown + {item_idx: (char_start, char_end)} offsets into it — the
    north rule's "extracted text + span offsets". The markdown is
    :func:`to_markdown`'s (golden-pinned); offsets cover
    the block(s) each item emitted (heading line, paragraph, its list
    line, table grid, caption, image placeholder)."""
    return _MdWriter(doc, frozenset(layers), escape_html).run_with_spans()


# ----------------------------------------------------- github-style md tables
# Pipe-grid rendering compatible with the widely-used tabulate "github"
# format that the goldens were produced with: header min-padding of 2,
# numeric columns right-aligned, floats decimal-aligned and reformatted
# with the "%g" style.
def _is_number(s: str) -> bool:
    if not s:
        return False
    try:
        f = float(s)
    except (TypeError, ValueError):
        return False
    import math

    if math.isinf(f) or math.isnan(f):
        return s.lower().strip() in {"inf", "-inf", "+inf", "nan", "-nan", "+nan"}
    return True


def _is_int(s: str) -> bool:
    try:
        int(s)
        return True
    except (TypeError, ValueError):
        return False


def _visible_width(s: str) -> int:
    # wcswidth semantics (reference uses wcwidth for column padding):
    # -1 for strings containing nonprintable chars; wide/fullwidth East
    # Asian chars count 2; combining marks count 0; else 1 per char
    if s.isascii() and s.isprintable():
        return len(s)  # no control, combining or wide char among these
    total = 0
    for ch in s:
        o = ord(ch)
        if o < 32 or o == 0x7F:
            return -1
        if unicodedata.combining(ch):
            continue
        total += 2 if unicodedata.east_asian_width(ch) in ("W", "F") else 1
    return total


def _github_table(grid: list[list[str]]) -> str:
    if not grid:
        return ""
    headers = grid[0]
    data = grid[1:]
    ncols = len(headers)

    # column type: int if all data cells int, float if all numeric, else text
    col_type: list[str] = []
    for c in range(ncols):
        vals = [row[c] for row in data]
        if vals and all(_is_int(v) for v in vals):
            col_type.append("int")
        elif vals and all(_is_number(v) for v in vals):
            col_type.append("float")
        else:
            col_type.append("text")

    # format numeric values ("%g" float style, canonical int rendering)
    def fmt(val: str, typ: str) -> str:
        if typ == "int":
            return str(int(val))
        if typ == "float":
            return format(float(val), "g")
        return val

    body = [[fmt(row[c], col_type[c]) for c in range(ncols)] for row in data]

    # decimal alignment pre-pass: pad float cells so decimal points align
    for c in range(ncols):
        if col_type[c] != "float":
            continue
        def after_dot(s: str) -> int:
            return len(s) - s.index(".") - 1 if "." in s else -1
        most = max((after_dot(body[r][c]) for r in range(len(body))), default=-1)
        for r in range(len(body)):
            cur = after_dot(body[r][c])
            pad = (most - cur) if cur >= 0 else (most + 1 if most >= 0 else 0)
            body[r][c] = body[r][c] + " " * pad

    widths = []
    for c in range(ncols):
        w = _visible_width(headers[c]) + 2  # MIN_PADDING on headers
        for r in range(len(body)):
            vw = _visible_width(body[r][c])
            if vw >= 0:
                w = max(w, vw)
        widths.append(w)

    def align(s: str, c: int) -> str:
        # wcswidth semantics (observed from the reference csv-tab golden):
        # a cell containing a control char has visible width -1, so it drops
        # out of the column-width max and gets padded to width-(-1) chars
        pad = widths[c] - _visible_width(s)
        if pad <= 0:
            return s
        if col_type[c] in ("int", "float"):
            return " " * pad + s
        return s + " " * pad

    lines = [
        "| " + " | ".join(align(headers[c], c) for c in range(ncols)) + " |",
        "|" + "|".join("-" * (w + 2) for w in widths) + "|",
    ]
    for row in body:
        lines.append("| " + " | ".join(align(row[c], c) for c in range(ncols)) + " |")
    return "\n".join(lines)


# ------------------------------------------------------------------------- itxt
def _trunc(text: str, max_len: Optional[int]) -> str:
    if max_len is not None and len(text) > max_len + 3:
        head = max_len // 2 - 3
        tail = max_len // 2 + 3
        return text[:head] + " ... " + text[-tail:]
    return text


def to_itxt(
    doc: SpanDoc,
    max_text_len: int = 70,
    layers: Iterable[str] = DEFAULT_LAYERS,
) -> str:
    layers = frozenset(layers)
    lines: list[str] = []
    counter = -1

    def visit(idx: int, level: int) -> None:
        nonlocal counter
        item = doc.items[idx]
        visible = item.content_layer in layers or idx == 0
        if visible:
            counter += 1
            n = counter
            indent = "  " * level
            if item.kind == "group":
                lines.append(
                    f"{indent}item-{n} at level {level}: {item.label}: group {item.name}"
                )
            elif item.kind == "picture":
                lines.append(f"{indent}item-{n} at level {level}: picture")
                for cap in item.captions:
                    cap_it = doc.items[cap]
                    # caption lines print in full — docling's itxt applies
                    # max_text_len to item text but not to caption_text
                    # (pinned by the JATS nxml goldens)
                    lines.append(
                        f"{indent}  item-{n} at level {level + 1}: caption: "
                        f"{cap_it.text}"
                    )
            elif item.kind == "table":
                lines.append(
                    f"{indent}item-{n} at level {level}: table with "
                    f"[{item.num_rows}x{item.num_cols}]"
                )
                for cap in item.captions:
                    cap_it = doc.items[cap]
                    lines.append(
                        f"{indent}  item-{n} at level {level + 1}: caption: "
                        f"{cap_it.text}"
                    )
            else:
                lines.append(
                    f"{indent}item-{n} at level {level}: {item.label}: "
                    f"{_trunc(item.text, max_text_len)}"
                )
            next_level = level + 1
        else:
            next_level = level  # invisible nodes are skipped entirely below
        if visible:
            for c in item.children:
                visit(c, next_level)

    visit(0, 0)
    return "\n".join(lines)
