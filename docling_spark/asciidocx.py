"""AsciiDoc backend: line-oriented AsciiDoc subset → SpanDoc.

Re-derives the observable behavior of the reference AsciiDocBackend
(/root/reference/docling/backend/asciidoc_backend.py:29-443), a regex
line parser: ``= `` title, ``==+ `` section headers (level = count-1),
``* - 1.`` list items with indent-driven nested list groups, ``|===``
fenced / ``|...|`` row tables (first row = column headers, ragged rows
tolerated), ``image::path[attrs]`` pictures, ``.caption`` lines attaching
to the next table/picture, and blank-line-flushed multiline paragraphs
(label "paragraph"). Golden contract: byte-identical markdown vs
tests/data/groundtruth/docling_v2/test_0*.asciidoc.md.
"""

from __future__ import annotations

import re
from typing import Optional

from .model import SpanDoc, TableCellSpec

_TITLE_RE = re.compile(r"^= ")
_HEADER_RE = re.compile(r"^(=+)\s+(.*)")
_IS_HEADER_RE = re.compile(r"^==+\s+")
_IS_LIST_RE = re.compile(r"^(\s)*(\*|-|\d+\.|\w+\.) ")
_LIST_RE = re.compile(r"^(\s*)(\*|-|\d+\.)\s+(.*)")
_TABLE_LINE_RE = re.compile(r"^\|.*\|")
_PICTURE_RE = re.compile(r"^image::(.+)\[(.*)\]$")
_CAPTION_RE = re.compile(r"^\.(.+)")


def _parse_list_item(line: str) -> dict:
    m = _LIST_RE.match(line)
    if not m:
        return {"text": line, "numbered": False, "indent": 0}
    marker = m.group(2)
    return {
        "text": m.group(3).strip(),
        "numbered": marker not in ("*", "-"),
        "indent": len(m.group(1) or ""),
    }


class AsciiDocExtractor:
    """State machine over input lines (reference _parse orchestration)."""

    def __init__(self) -> None:
        self.parents: dict[int, Optional[int]] = {i: None for i in range(10)}
        self.indents: dict[int, Optional[int]] = {i: None for i in range(10)}
        self.in_list = False
        self.in_table = False
        self.text_buf: list[str] = []
        self.table_buf: list[list[str]] = []
        self.caption_buf: list[str] = []

    def _level(self) -> int:
        for k, v in self.parents.items():
            if v is None and k > 0:
                return k - 1
        return 0

    def _parent(self) -> Optional[int]:
        for k, v in self.parents.items():
            if v is None and k > 0:
                return self.parents[k - 1]
        return None

    def _flush_table(self, doc: SpanDoc) -> None:
        caption = None
        if self.caption_buf:
            caption = doc.add_text("caption", " ".join(self.caption_buf))
            self.caption_buf = []
        rows = self.table_buf
        num_rows = len(rows)
        num_cols = max(len(r) for r in rows)
        tbl = doc.add_table(
            num_rows=num_rows,
            num_cols=num_cols,
            parent=self._parent(),
            caption=caption,
        )
        for r, row in enumerate(rows):
            for c, text in enumerate(row):
                tbl.cells.append(
                    TableCellSpec(
                        text=text,
                        start_row=r,
                        end_row=r + 1,
                        start_col=c,
                        end_col=c + 1,
                        column_header=r == 0,
                        row_header=False,
                    )
                )
        self.in_table = False
        self.table_buf = []

    def convert(self, raw: bytes, name: str = "file") -> SpanDoc:
        doc = SpanDoc(name)
        for line in raw.decode("utf-8").split("\n"):
            if _TITLE_RE.match(line):
                self.parents[0] = doc.add_text("title", line[2:].strip()).idx
            elif _IS_HEADER_RE.match(line):
                m = _HEADER_RE.match(line)
                level = m.group(1).count("=") - 1
                self.parents[level] = doc.add_text(
                    "section_header",
                    m.group(2).strip(),
                    level=level,
                    parent=self.parents.get(level - 1),
                ).idx
                for k in self.parents:
                    if k > level:
                        self.parents[k] = None
            elif _IS_LIST_RE.match(line):
                item = _parse_list_item(line)
                level = self._level()
                if not self.in_list:
                    self.in_list = True
                    self.parents[level + 1] = doc.add_group(
                        "list", "list", self.parents[level], content_layer="body"
                    ).idx
                    self.indents[level + 1] = item["indent"]
                elif item["indent"] > (self.indents[level] or 0):
                    self.parents[level + 1] = doc.add_group(
                        "list", "list", self.parents[level], content_layer="body"
                    ).idx
                    self.indents[level + 1] = item["indent"]
                elif (
                    self.indents[level] is not None
                    and item["indent"] < self.indents[level]
                ):
                    while (
                        self.indents[level] is not None
                        and item["indent"] < self.indents[level]
                    ):
                        self.parents[level] = None
                        self.indents[level] = None
                        level -= 1
                doc.add_text("list_item", item["text"], parent=self._parent())
            elif self.in_list:
                self.in_list = False
                level = self._level()
                self.parents[level] = None
            elif line.strip() == "|===" and not self.in_table:
                self.in_table = True
            elif _TABLE_LINE_RE.match(line):
                self.in_table = True
                self.table_buf.append(
                    [c.strip() for c in line.split("|") if c.strip()]
                )
            elif self.in_table:
                self._flush_table(doc)
            elif _PICTURE_RE.match(line) or line.startswith("image::"):
                caption = None
                if self.caption_buf:
                    caption = doc.add_text("caption", " ".join(self.caption_buf))
                    self.caption_buf = []
                doc.add_picture(caption=caption)
            elif _CAPTION_RE.match(line) and not self.caption_buf:
                self.caption_buf.append(_CAPTION_RE.match(line).group(1))
            elif line.strip() and self.caption_buf:
                self.caption_buf.append(line.strip())
            elif not line.strip() and self.text_buf:
                doc.add_text(
                    "paragraph", " ".join(self.text_buf), parent=self._parent()
                )
                self.text_buf = []
            elif line.strip():
                self.text_buf.append(line.strip())
        if self.text_buf:
            doc.add_text(
                "paragraph", " ".join(self.text_buf), parent=self._parent()
            )
            self.text_buf = []
        if self.in_table and self.table_buf:
            self._flush_table(doc)
        return doc


def extract_asciidoc(raw: bytes, name: str = "file") -> SpanDoc:
    return AsciiDocExtractor().convert(raw, name=name)
