"""DocTags INPUT parsing: doctags text → SpanDoc.

The reference consumes DocTags as the interchange format between its VLM
pipeline and the document model (SURVEY §2.2 VLM rows; docling-core's
DocTagsDocument role). This is the exact inverse of
``serialize_doctags.to_doctags``: parsing a doctags stream and
re-serializing reproduces the input byte-for-byte (round-trip pinned over
all 12 reference ``*.doctags.txt`` goldens).

Location tokens quantize to a 0..500 grid; the parser keeps the quantized
values as provenance on synthetic 500x500 pages, which makes the inverse
exact (round(v/500*500) == v). Literal ``<`` in text content (the
2203.01017v2 golden contains raw ``<td>`` strings) is preserved: only
known grammar tokens delimit.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from .model import SpanDoc, TableCellSpec

_LOC = re.compile(r"^(?:<loc_(\d+)>)")
_LEAF = re.compile(
    r"^<(text|title|paragraph|page_header|page_footer|caption|footnote|"
    r"checkbox_selected|checkbox_unselected|list_item|"
    r"section_header_level_(\d+)|code|formula|picture|otsl)>"
)
_CELL_TOKEN = re.compile(
    r"<(fcel|ecel|ched|rhed|lcel|ucel|xcel|nl|caption|/caption|/otsl)>"
)
_LANG = re.compile(r"^<_([A-Za-z0-9_#+.-]+)_>")


def _take_locs(s: str) -> Tuple[List[list], str]:
    """Consume leading <loc_N> tokens; group every 4 into one prov bbox."""
    vals: List[int] = []
    while True:
        m = _LOC.match(s)
        if not m:
            break
        vals.append(int(m.group(1)))
        s = s[m.end() :]
    provs = [vals[i : i + 4] for i in range(0, len(vals) - len(vals) % 4, 4)]
    return provs, s


class _Parser:
    def __init__(self, name: str):
        self.doc = SpanDoc(name)
        self.page = 1
        self.seen_pages = {1}
        self.parent_stack: List[Tuple[int, bool]] = []  # (group idx, ordered)

    def _prov(self, provs: List[list]) -> Optional[list]:
        if not provs:
            return None
        out = []
        for l, t, r, b in provs:
            out.append(
                {
                    "page_no": self.page,
                    "bbox": {
                        "l": float(l),
                        "t": float(t),
                        "r": float(r),
                        "b": float(b),
                        "coord_origin": "TOPLEFT",
                    },
                    "charspan": [0, 0],
                }
            )
        return out

    def _parent(self) -> Optional[int]:
        return self.parent_stack[-1][0] if self.parent_stack else None

    def _add_text(self, label: str, text: str, provs, level: int = 1):
        ordered = self.parent_stack[-1][1] if self.parent_stack else False
        it = self.doc.add_text(
            label,
            text,
            parent=self._parent(),
            level=level,
            enumerated=label == "list_item" and ordered,
        )
        it.prov_list = self._prov(provs)
        return it

    def _parse_caption_tail(self, rest: str, owner) -> str:
        """Zero or more <caption>...</caption> before the closing tag."""
        while rest.startswith("<caption>"):
            body = rest[len("<caption>") :]
            end = body.index("</caption>")
            cap_body = body[:end]
            provs, cap_text = _take_locs(cap_body)
            cap = self.doc.add_text("caption", cap_text, parent=owner.idx)
            cap.prov_list = self._prov(provs)
            owner.captions.append(cap.idx)
            rest = body[end + len("</caption>") :]
        return rest

    def _parse_otsl(self, body: str, provs) -> None:
        doc = self.doc
        it = doc.add_table(0, 0, parent=self._parent())
        it.prov_list = self._prov(provs)
        # tokenize the cell stream; text between tokens belongs to the
        # preceding content-bearing cell token
        tokens: List[Tuple[str, str]] = []  # (token, trailing_text)
        pos = 0
        for m in _CELL_TOKEN.finditer(body):
            if tokens:
                tokens[-1] = (tokens[-1][0], body[pos : m.start()])
            elif body[:m.start()]:
                pass  # text before first token: only locs, already consumed
            tokens.append((m.group(1), ""))
            pos = m.end()
        if tokens and body[pos:]:
            # foreign DocTags may omit the final <nl>: text after the last
            # cell token is that cell's content (our serializer always emits
            # <nl>, so round-trips never hit this branch)
            tokens[-1] = (tokens[-1][0], body[pos:])
        # build the grid row-major
        grid: List[List[Optional[dict]]] = [[]]
        caption_at = None
        for i, (tok, text) in enumerate(tokens):
            if tok == "nl":
                grid.append([])
            elif tok in ("fcel", "ecel", "ched", "rhed"):
                grid[-1].append({"kind": tok, "text": text})
            elif tok in ("lcel", "ucel", "xcel"):
                grid[-1].append({"kind": tok, "text": ""})
            elif tok == "caption":
                caption_at = i
                break
        while grid and not grid[-1]:
            grid.pop()
        num_rows = len(grid)
        num_cols = max((len(r) for r in grid), default=0)
        # resolve spans: walk cells; continuations extend their origin
        owner: List[List[Optional[int]]] = [
            [None] * num_cols for _ in range(num_rows)
        ]
        cells: List[TableCellSpec] = []
        for r, row in enumerate(grid):
            for c in range(num_cols):
                tok = row[c] if c < len(row) else {"kind": "ecel", "text": ""}
                kind = tok["kind"]
                if kind == "lcel" and c > 0 and owner[r][c - 1] is not None:
                    oi = owner[r][c - 1]
                    cells[oi].col_span += 0  # updated via end_col below
                    cells[oi].end_col = max(cells[oi].end_col, c + 1)
                    owner[r][c] = oi
                elif kind == "ucel" and r > 0 and owner[r - 1][c] is not None:
                    oi = owner[r - 1][c]
                    cells[oi].end_row = max(cells[oi].end_row, r + 1)
                    owner[r][c] = oi
                elif kind == "xcel" and r > 0 and c > 0:
                    oi = owner[r - 1][c - 1]
                    if oi is not None:
                        cells[oi].end_row = max(cells[oi].end_row, r + 1)
                        cells[oi].end_col = max(cells[oi].end_col, c + 1)
                        owner[r][c] = oi
                elif kind == "ecel":
                    owner[r][c] = None
                else:
                    cells.append(
                        TableCellSpec(
                            text=tok["text"],
                            start_row=r,
                            end_row=r + 1,
                            start_col=c,
                            end_col=c + 1,
                            column_header=kind == "ched",
                            row_header=kind == "rhed",
                        )
                    )
                    owner[r][c] = len(cells) - 1
        for cell in cells:
            cell.row_span = cell.end_row - cell.start_row
            cell.col_span = cell.end_col - cell.start_col
        it.num_rows = num_rows
        it.num_cols = num_cols
        it.cells = cells
        # caption tail (parse from the raw remainder)
        if caption_at is not None:
            m = re.search(r"<caption>", body)
            self._parse_caption_tail(body[m.start() :], it)

    def feed_part(self, part: str) -> None:
        doc = self.doc
        if part == "<page_break>":
            self.page += 1
            self.seen_pages.add(self.page)
            return
        m = re.match(r"^<(ordered_list|unordered_list)>", part)
        if m:
            ordered = m.group(1) == "ordered_list"
            g = doc.add_group("list", "list", self._parent(), "body")
            self.parent_stack.append((g.idx, ordered))
            part = part[m.end() :]
            if not part:
                return
        if part.startswith("</ordered_list>") or part.startswith(
            "</unordered_list>"
        ):
            if self.parent_stack:
                self.parent_stack.pop()
            return
        m = _LEAF.match(part)
        if not m:
            return  # unknown line: ignored (never raises)
        tag = m.group(1)
        body = part[m.end() :]
        if tag == "otsl":
            end = body.rindex("</otsl>")
            inner = body[:end]
            provs, inner = _take_locs(inner)
            self._parse_otsl(inner, provs)
            return
        if tag == "picture":
            end = body.rindex("</picture>")
            inner = body[:end]
            provs, inner = _take_locs(inner)
            pic = doc.add_picture(parent=self._parent())
            pic.prov_list = self._prov(provs)
            self._parse_caption_tail(inner, pic)
            return
        if tag == "code":
            end = body.rindex("</code>")
            inner = body[:end]
            provs, inner = _take_locs(inner)
            lm = _LANG.match(inner)
            lang = "unknown"
            if lm:
                lang = lm.group(1)
                inner = inner[lm.end() :]
            cap_at = inner.find("<caption>")
            text = inner if cap_at < 0 else inner[:cap_at]
            it = doc.add_text("code", text, parent=self._parent())
            it.prov_list = self._prov(provs)
            it.code_language = lang
            if cap_at >= 0:
                self._parse_caption_tail(inner[cap_at:], it)
            return
        if tag == "formula":
            end = body.rindex("</formula>")
            inner = body[:end]
            provs, text = _take_locs(inner)
            it = doc.add_text("formula", text, parent=self._parent())
            it.prov_list = self._prov(provs)
            return
        # plain located text leaf
        level = 1
        if tag.startswith("section_header_level_"):
            level = int(m.group(2))
            label = "section_header"
            close = f"</{tag}>"
        else:
            label = {"paragraph": "text"}.get(tag, tag)
            close = f"</{tag}>"
        end = body.rindex(close)
        inner = body[:end]
        provs, text = _take_locs(inner)
        self._add_text(label, text, provs, level=level)


def parse_doctags(raw: "bytes | str", name: str = "doc") -> SpanDoc:
    """doctags text → SpanDoc (never raises on unknown tags; raises
    ValueError when the stream is not a doctags document at all)."""
    text = raw.decode("utf-8", "replace") if isinstance(raw, bytes) else raw
    text = text.strip()
    if not text.startswith("<doctag>"):
        raise ValueError("not a doctags stream")
    body = text[len("<doctag>") :]
    if body.endswith("</doctag>"):
        body = body[: -len("</doctag>")]
    p = _Parser(name)
    for part in body.split("\n"):
        if part:
            p.feed_part(part)
    for n in p.seen_pages:
        p.doc.pages[n] = (500.0, 500.0)
    return p.doc
