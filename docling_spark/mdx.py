"""Markdown backend: CommonMark-subset parser + SpanDoc walker.

Re-derives the observable behavior of the reference MarkdownDocumentBackend
(/root/reference/docling/backend/md_backend.py:73-614) without its ``marko``
dependency (not available in this environment): a from-scratch CommonMark
block/inline parser (public spec, https://spec.commonmark.org) feeding a
faithful port of the reference's AST walk:

- underscore-sequence shortening preprocess (md_backend.py:74-96);
- lazy item creation via a creation stack (headings / list items get their
  text from the first nested RawText) (md_backend.py:243-427);
- pipe-table buffering: RawText snippets containing '|' accumulate rows,
  flushed to a TableItem when any other element arrives (md_backend.py:142-197,
  366-379);
- raw HTML blocks wrapped in markers as code items; when any HTML block was
  seen, the whole document is exported to HTML, markers stripped, and
  re-parsed through the HTML backend (md_backend.py:460-476, 567-609) —
  which is what applies the furniture rule and unicode cleanup observed in
  the mixed_without_h1 / mixed / escaped_characters goldens.

Golden contract: byte-identical ``export_to_markdown`` output vs
/root/reference/tests/data/groundtruth/docling_v2/*.md.md for every fixture
in /root/reference/tests/data/md.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape
from typing import Optional, Union

from .model import SpanDoc

_MARKER_BODY = "DOCLING_DOC_MD_HTML_EXPORT"
_START_MARKER = f"#_#_{_MARKER_BODY}_START_#_#"
_STOP_MARKER = f"#_#_{_MARKER_BODY}_STOP_#_#"


# =========================================================================
# AST node model (names mirror the marko classes the reference dispatches on)
# =========================================================================
@dataclass
class Node:
    children: list = field(default_factory=list)


class Document(Node):
    pass


@dataclass
class Heading(Node):
    level: int = 1


@dataclass
class SetextHeading(Node):
    level: int = 1


class Paragraph(Node):
    pass


class BlankLine(Node):
    pass


class ThematicBreak(Node):
    pass


@dataclass
class MdList(Node):
    ordered: bool = False
    start: int = 1
    bullet: str = "-"


class ListItem(Node):
    pass


@dataclass
class CodeBlock(Node):  # indented
    pass


@dataclass
class FencedCode(Node):
    lang: str = ""


@dataclass
class HTMLBlock(Node):
    body: str = ""


# inline nodes — ``children`` is a str for the leaf types, per marko
@dataclass
class RawText:
    children: str = ""


@dataclass
class Literal:
    children: str = ""


@dataclass
class CodeSpan:
    children: str = ""


class Emphasis(Node):
    pass


class StrongEmphasis(Node):
    pass


@dataclass
class Link(Node):
    dest: str = ""
    title: str = ""


@dataclass
class Image(Node):
    dest: str = ""
    title: str = ""


@dataclass
class LineBreak:
    soft: bool = True
    children: str = "\n"


# =========================================================================
# Block parser
# =========================================================================
_ATX_RE = re.compile(r"^ {0,3}(#{1,6})(?:[ \t]+(.*?))?[ \t]*$")
_SETEXT_RE = re.compile(r"^ {0,3}(=+|-+)[ \t]*$")
_THEMATIC_RE = re.compile(r"^ {0,3}((?:\* *){3,}|(?:- *){3,}|(?:_ *){3,})$")
_FENCE_RE = re.compile(r"^( {0,3})(`{3,}|~{3,})[ \t]*(.*)$")
_BULLET_RE = re.compile(r"^( {0,3})([-+*])([ \t]+|$)")
_ORDERED_RE = re.compile(r"^( {0,3})(\d{1,9})([.)])([ \t]+|$)")

_HTML_BLOCK6_TAGS = (
    "address|article|aside|base|basefont|blockquote|body|caption|center|col|"
    "colgroup|dd|details|dialog|dir|div|dl|dt|fieldset|figcaption|figure|"
    "footer|form|frame|frameset|h1|h2|h3|h4|h5|h6|head|header|hr|html|iframe|"
    "legend|li|link|main|menu|menuitem|nav|noframes|ol|optgroup|option|p|"
    "param|search|section|summary|table|tbody|td|tfoot|th|thead|title|tr|"
    "track|ul"
)
_HTML1_RE = re.compile(r"^ {0,3}<(script|pre|style|textarea)([ \t>]|$)", re.I)
_HTML2_RE = re.compile(r"^ {0,3}<!--")
_HTML3_RE = re.compile(r"^ {0,3}<\?")
_HTML4_RE = re.compile(r"^ {0,3}<![A-Za-z]")
_HTML5_RE = re.compile(r"^ {0,3}<!\[CDATA\[")
_HTML6_RE = re.compile(rf"^ {{0,3}}</?({_HTML_BLOCK6_TAGS})([ \t/>]|$)", re.I)


def _expand_tabs(line: str) -> str:
    """Tab → next multiple-of-4 column (CommonMark tab stop semantics)."""
    if "\t" not in line:
        return line
    out = []
    col = 0
    for ch in line:
        if ch == "\t":
            n = 4 - (col % 4)
            out.append(" " * n)
            col += n
        else:
            out.append(ch)
            col += 1
    return "".join(out)


def _indent_of(line: str) -> int:
    return len(line) - len(line.lstrip(" "))


def _is_blank(line: str) -> bool:
    return not line.strip()


def _html_block_start(line: str, in_paragraph: bool) -> Optional[int]:
    if _HTML1_RE.match(line):
        return 1
    if _HTML2_RE.match(line):
        return 2
    if _HTML3_RE.match(line):
        return 3
    if _HTML5_RE.match(line):
        return 5
    if _HTML4_RE.match(line):
        return 4
    if _HTML6_RE.match(line):
        return 6
    return None


_HTML1_END_RE = re.compile(r"</(script|pre|style|textarea)>", re.I)


def _can_interrupt_paragraph(line: str) -> bool:
    """Block starts that break a paragraph (CommonMark interruption rules)."""
    if _ATX_RE.match(line) or _FENCE_RE.match(line) or _THEMATIC_RE.match(line):
        return True
    if _html_block_start(line, in_paragraph=True) not in (None, 7):
        return True
    m = _BULLET_RE.match(line)
    if m and line[m.end() :].strip():
        return True
    m = _ORDERED_RE.match(line)
    if m and m.group(2) == "1" and line[m.end() :].strip():
        return True
    return False


def parse_blocks(lines: list[str]) -> list:
    blocks: list = []
    i = 0
    n = len(lines)
    while i < n:
        line = lines[i]
        if _is_blank(line):
            while i < n and _is_blank(lines[i]):
                i += 1
            blocks.append(BlankLine())
            continue

        indent = _indent_of(line)

        # indented code block (cannot follow an open paragraph — paragraphs
        # consume their own continuation lines below)
        if indent >= 4:
            content_lines = []
            while i < n and (_is_blank(lines[i]) or _indent_of(lines[i]) >= 4):
                content_lines.append(
                    lines[i][4:] if not _is_blank(lines[i]) else ""
                )
                i += 1
            while content_lines and not content_lines[-1].strip():
                content_lines.pop()
            cb = CodeBlock()
            cb.children = [RawText("\n".join(content_lines) + "\n")]
            blocks.append(cb)
            continue

        m = _ATX_RE.match(line)
        if m:
            h = Heading(level=len(m.group(1)))
            content = (m.group(2) or "").strip()
            # strip closing hash run ("## foo ##")
            content = re.sub(r"[ \t]+#+[ \t]*$", "", content)
            if content == "#" * len(content) and content:
                content = ""
            if content:
                h.children = parse_inline(content)
            i += 1
            blocks.append(h)
            continue

        m = _FENCE_RE.match(line)
        if m:
            fence_indent = len(m.group(1))
            fence = m.group(2)
            lang = m.group(3).strip().split(" ")[0] if m.group(3) else ""
            i += 1
            content_lines = []
            while i < n:
                close = _FENCE_RE.match(lines[i])
                if (
                    close
                    and close.group(2)[0] == fence[0]
                    and len(close.group(2)) >= len(fence)
                    and not close.group(3).strip()
                ):
                    i += 1
                    break
                cl = lines[i]
                if fence_indent and cl[:fence_indent].strip() == "":
                    cl = cl[fence_indent:]
                content_lines.append(cl)
                i += 1
            fc = FencedCode(lang=lang)
            fc.children = [RawText("\n".join(content_lines) + "\n")]
            blocks.append(fc)
            continue

        m = _THEMATIC_RE.match(line)
        if m:
            blocks.append(ThematicBreak())
            i += 1
            continue

        htype = _html_block_start(line, in_paragraph=False)
        if htype is not None:
            body_lines = [line]
            i += 1
            if htype == 1:
                if not _HTML1_END_RE.search(line):
                    while i < n:
                        body_lines.append(lines[i])
                        done = _HTML1_END_RE.search(lines[i])
                        i += 1
                        if done:
                            break
            elif htype == 2:
                if "-->" not in line:
                    while i < n:
                        body_lines.append(lines[i])
                        done = "-->" in lines[i]
                        i += 1
                        if done:
                            break
            elif htype == 3:
                if "?>" not in line:
                    while i < n:
                        body_lines.append(lines[i])
                        done = "?>" in lines[i]
                        i += 1
                        if done:
                            break
            elif htype == 4:
                if ">" not in line:
                    while i < n:
                        body_lines.append(lines[i])
                        done = ">" in lines[i]
                        i += 1
                        if done:
                            break
            elif htype == 5:
                if "]]>" not in line:
                    while i < n:
                        body_lines.append(lines[i])
                        done = "]]>" in lines[i]
                        i += 1
                        if done:
                            break
            else:  # type 6: until blank line
                while i < n and not _is_blank(lines[i]):
                    body_lines.append(lines[i])
                    i += 1
            blocks.append(HTMLBlock(body="\n".join(body_lines) + "\n"))
            continue

        bm = _BULLET_RE.match(line)
        om = _ORDERED_RE.match(line)
        if bm or om:
            lst, i = _parse_list(lines, i)
            blocks.append(lst)
            continue

        # paragraph (with setext lookahead and lazy continuation)
        para_lines = [line]
        i += 1
        setext_level = 0
        while i < n:
            nxt = lines[i]
            if _is_blank(nxt):
                break
            sm = _SETEXT_RE.match(nxt)
            if sm:
                setext_level = 1 if sm.group(1)[0] == "=" else 2
                i += 1
                break
            if _can_interrupt_paragraph(nxt):
                break
            para_lines.append(nxt)
            i += 1
        if setext_level:
            h = SetextHeading(level=setext_level)
            h.children = parse_inline(" ".join(s.strip() for s in para_lines))
            blocks.append(h)
        else:
            blocks.append(_make_paragraph(para_lines))
    return blocks


def _make_paragraph(para_lines: list[str]) -> Paragraph:
    p = Paragraph()
    children: list = []
    prev_hard = False
    for k, raw in enumerate(para_lines):
        hard = raw.endswith("  ") or raw.endswith("\\")
        text = raw.strip()
        if raw.endswith("\\") and not raw.endswith("\\\\"):
            text = text[:-1]
        inl = parse_inline(text)
        if k > 0:
            children.append(LineBreak(soft=not prev_hard))
        children.extend(inl)
        prev_hard = hard
    p.children = children
    return p


def _parse_list(lines: list[str], i: int) -> tuple[MdList, int]:
    """Parse a run of same-type list items starting at lines[i]."""
    n = len(lines)
    first_b = _BULLET_RE.match(lines[i])
    first_o = _ORDERED_RE.match(lines[i])
    ordered = first_o is not None
    if ordered:
        bullet = first_o.group(3)  # the delimiter . or )
        start = int(first_o.group(2))
    else:
        bullet = first_b.group(2)
        start = 1
    lst = MdList(ordered=ordered, start=start, bullet=bullet)

    def _marker_match(line: str):
        if ordered:
            m = _ORDERED_RE.match(line)
            return m if (m and m.group(3) == bullet) else None
        m = _BULLET_RE.match(line)
        return m if (m and m.group(2) == bullet) else None

    while i < n:
        m = _marker_match(lines[i])
        if not m:
            break
        marker_end = m.end()
        rest = lines[i][marker_end:]
        if not rest.strip():
            # empty item ("-" / "1." alone): nominal content col
            content_col = len(lines[i].rstrip()) + 2
            item_lines: list[str] = []
        else:
            # >4 spaces after the marker → content starts 1 col after it
            # (the rest is an indented code block per spec; simplified here)
            stripped_marker_len = len(lines[i][:marker_end].rstrip())
            spaces_after = marker_end - stripped_marker_len
            if spaces_after > 4:
                content_col = stripped_marker_len + 1
            else:
                content_col = marker_end
            item_lines = [lines[i][content_col:]]
        i += 1
        pending_blanks = 0
        while i < n:
            cur = lines[i]
            if _is_blank(cur):
                pending_blanks += 1
                i += 1
                continue
            if _indent_of(cur) >= content_col:
                item_lines.extend([""] * pending_blanks)
                pending_blanks = 0
                item_lines.append(cur[content_col:])
                i += 1
                continue
            if pending_blanks == 0 and not _marker_match(cur) and not (
                _BULLET_RE.match(cur) or _ORDERED_RE.match(cur)
            ) and not _can_interrupt_paragraph(cur) and item_lines and item_lines[-1].strip():
                # lazy paragraph continuation
                item_lines.append(cur.strip())
                i += 1
                continue
            if not _marker_match(cur):
                # blanks after the list belong to the caller, not the item
                i -= pending_blanks
            pending_blanks = 0
            break
        item = ListItem()
        item.children = parse_blocks(item_lines) if item_lines else []
        lst.children.append(item)
        # after blanks, only a same-type marker continues THIS list
        if i < n and not _marker_match(lines[i]):
            break
    return lst, i


# =========================================================================
# Inline parser (CommonMark emphasis/link/code-span subset)
# =========================================================================
_PUNCT = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")


def _is_space(ch: str) -> bool:
    return ch == "" or ch.isspace()


@dataclass
class _Delim:
    idx: int  # index into node list
    ch: str
    length: int
    orig_length: int
    can_open: bool
    can_close: bool
    active: bool = True


def parse_inline(text: str) -> list:
    """Inline pass: escapes, code spans, links/images, emphasis, text."""
    nodes: list = []
    delims: list[_Delim] = []
    pos = 0
    n = len(text)
    buf: list[str] = []

    def flush():
        if buf:
            nodes.append(RawText("".join(buf)))
            buf.clear()

    while pos < n:
        ch = text[pos]
        if ch == "\\" and pos + 1 < n and text[pos + 1] in _PUNCT:
            flush()
            nodes.append(Literal(text[pos + 1]))
            pos += 2
            continue
        if ch == "`":
            run = 1
            while pos + run < n and text[pos + run] == "`":
                run += 1
            # find equal-length closing run
            close = -1
            j = pos + run
            while j < n:
                if text[j] == "`":
                    r2 = 1
                    while j + r2 < n and text[j + r2] == "`":
                        r2 += 1
                    if r2 == run:
                        close = j
                        break
                    j += r2
                else:
                    j += 1
            if close >= 0:
                flush()
                content = text[pos + run : close].replace("\n", " ")
                if (
                    len(content) >= 2
                    and content[0] == " "
                    and content[-1] == " "
                    and content.strip()
                ):
                    content = content[1:-1]
                nodes.append(CodeSpan(content))
                pos = close + run
            else:
                buf.append(text[pos : pos + run])
                pos += run
            continue
        if ch == "[" or (ch == "!" and text[pos : pos + 2] == "!["):
            is_image = ch == "!"
            lb = pos + (2 if is_image else 1)
            # find matching ] accounting for nesting
            depth = 1
            j = lb
            while j < n:
                cj = text[j]
                if cj == "\\":
                    j += 2
                    continue
                if cj == "[":
                    depth += 1
                elif cj == "]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth == 0 and j + 1 < n and text[j + 1] == "(":
                label = text[lb:j]
                k = j + 2
                # skip leading whitespace
                while k < n and text[k].isspace():
                    k += 1
                dest = []
                if k < n and text[k] == "<":
                    k += 1
                    while k < n and text[k] != ">":
                        dest.append(text[k])
                        k += 1
                    k += 1
                else:
                    pdepth = 0
                    while k < n:
                        ck = text[k]
                        if ck.isspace():
                            break
                        if ck == "(":
                            pdepth += 1
                        elif ck == ")":
                            if pdepth == 0:
                                break
                            pdepth -= 1
                        dest.append(ck)
                        k += 1
                while k < n and text[k].isspace():
                    k += 1
                title = ""
                if k < n and text[k] in "\"'":
                    q = text[k]
                    k += 1
                    t = []
                    while k < n and text[k] != q:
                        t.append(text[k])
                        k += 1
                    title = "".join(t)
                    k += 1
                    while k < n and text[k].isspace():
                        k += 1
                if k < n and text[k] == ")":
                    flush()
                    node = (Image if is_image else Link)(
                        dest="".join(dest), title=title
                    )
                    node.children = parse_inline(label)
                    nodes.append(node)
                    pos = k + 1
                    continue
            buf.append(ch if not is_image else "!")
            pos += 1
            continue
        if ch in "*_":
            run = 1
            while pos + run < n and text[pos + run] == ch:
                run += 1
            before = text[pos - 1] if pos > 0 else ""
            after = text[pos + run] if pos + run < n else ""
            left = not _is_space(after) and (
                after not in _PUNCT
                or _is_space(before)
                or before in _PUNCT
            )
            right = not _is_space(before) and (
                before not in _PUNCT
                or _is_space(after)
                or after in _PUNCT
            )
            if ch == "*":
                can_open, can_close = left, right
            else:
                can_open = left and (not right or before in _PUNCT)
                can_close = right and (not left or after in _PUNCT)
            flush()
            nodes.append(RawText(ch * run))
            if can_open or can_close:
                delims.append(
                    _Delim(len(nodes) - 1, ch, run, run, can_open, can_close)
                )
            pos += run
            continue
        buf.append(ch)
        pos += 1
    flush()
    _process_emphasis(nodes, delims)
    return _merge_raw_text(nodes)


def _merge_raw_text(nodes: list) -> list:
    """Merge adjacent RawText nodes (unmatched emphasis delimiters fold back
    into plain text, as marko does) — fragmentation would change the
    reference's child-count-driven inline-group decisions."""
    out: list = []
    for x in nodes:
        if isinstance(x, RawText) and x.children == "":
            continue
        if isinstance(x, (Emphasis, StrongEmphasis, Link, Image)):
            x.children = _merge_raw_text(x.children)
        if (
            isinstance(x, RawText)
            and out
            and isinstance(out[-1], RawText)
        ):
            out[-1] = RawText(out[-1].children + x.children)
        else:
            out.append(x)
    return out


def _process_emphasis(nodes: list, delims: list[_Delim]) -> None:
    """CommonMark emphasis matching over the flat node list."""
    closer_i = 0
    while closer_i < len(delims):
        closer = delims[closer_i]
        if not (closer.active and closer.can_close and closer.length > 0):
            closer_i += 1
            continue
        # find nearest preceding opener of same char
        opener = None
        for cand_i in range(closer_i - 1, -1, -1):
            cand = delims[cand_i]
            if not (cand.active and cand.can_open and cand.length > 0):
                continue
            if cand.ch != closer.ch:
                continue
            # multiple-of-3 rule
            if (cand.can_close or closer.can_open) and (
                (cand.orig_length + closer.orig_length) % 3 == 0
                and not (
                    cand.orig_length % 3 == 0 and closer.orig_length % 3 == 0
                )
            ):
                continue
            opener = cand
            opener_i = cand_i
            break
        if opener is None:
            if not closer.can_open:
                closer.active = False
            closer_i += 1
            continue
        use = 2 if (opener.length >= 2 and closer.length >= 2) else 1
        wrapper = StrongEmphasis() if use == 2 else Emphasis()
        # move nodes strictly between opener and closer into wrapper
        inner = nodes[opener.idx + 1 : closer.idx]
        wrapper.children = [
            x for x in inner if not (isinstance(x, RawText) and x.children == "")
        ]
        # deactivate delimiters inside
        for d in delims:
            if opener.idx < d.idx < closer.idx:
                d.active = False
        # shrink delimiter text
        opener.length -= use
        closer.length -= use
        nodes[opener.idx] = RawText(opener.ch * opener.length)
        nodes[closer.idx] = RawText(closer.ch * closer.length)
        # replace span with [wrapper] padded by empties to keep indices stable
        nodes[opener.idx + 1 : closer.idx] = (
            [wrapper] + [RawText("")] * (len(inner) - 1)
        )
        if opener.length == 0:
            opener.active = False
        if closer.length == 0:
            closer.active = False
            closer_i += 1


# =========================================================================
# Walker: AST → SpanDoc (port of md_backend._iterate_elements)
# =========================================================================
@dataclass
class _HeadingPayload:
    level: int


@dataclass
class _ListItemPayload:
    enumerated: bool


class MarkdownExtractor:
    def __init__(self) -> None:
        self.in_table = False
        self.md_table_buffer: list[str] = []
        self._html_blocks = 0

    # -- preprocess (md_backend.py:74-96) ---------------------------------
    @staticmethod
    def _shorten_underscore_sequences(text: str, max_length: int = 10) -> str:
        return re.sub(
            r"_+",
            lambda m: m.group(0)
            if len(m.group(0)) <= max_length
            else "_" * max_length,
            text,
        )

    # -- table flush (md_backend.py:142-197) ------------------------------
    def _close_table(self, doc: SpanDoc) -> None:
        from .model import TableCellSpec

        if not self.in_table:
            return
        result_table = []
        for nrow, md_table_row in enumerate(self.md_table_buffer):
            if nrow == 0:
                result_table.append(
                    [t.strip() for t in md_table_row.split("|")[1:-1]]
                )
            elif nrow > 1:
                result_table.append(
                    [t.strip() for t in md_table_row.split("|")[1:-1]]
                )
        self.in_table = False
        self.md_table_buffer = []
        if not result_table or not result_table[0]:
            return
        num_rows = len(result_table)
        num_cols = len(result_table[0])
        tbl = doc.add_table(num_rows=num_rows, num_cols=num_cols)
        for r, trow in enumerate(result_table):
            for c, val in enumerate(trow):
                tbl.cells.append(
                    TableCellSpec(
                        text=val.strip(),
                        row_span=1,
                        col_span=1,
                        start_row=r,
                        end_row=r + 1,
                        start_col=c,
                        end_col=c + 1,
                        column_header=r == 0,
                        row_header=False,
                    )
                )

    def _create_heading(self, doc, parent, text, level, formatting, hyperlink):
        if level == 1:
            return doc.add_text(
                "title", text, parent=parent, formatting=formatting, hyperlink=hyperlink
            )
        return doc.add_text(
            "section_header",
            text,
            level=level - 1,
            parent=parent,
            formatting=formatting,
            hyperlink=hyperlink,
        )

    # -- the walk (md_backend.py:243-521) ---------------------------------
    def _iterate(  # noqa: C901
        self,
        element,
        doc: SpanDoc,
        creation_stack: list,
        list_ordered_flag_by_ref: dict,
        list_last_item_by_ref: dict,
        parent_item: Optional[int] = None,
        formatting=None,
        hyperlink: Optional[str] = None,
    ) -> None:
        from .model import Formatting

        if isinstance(element, (Heading, SetextHeading)) and element.children:
            self._close_table(doc)
            if len(element.children) > 1:
                parent_item = self._create_heading(
                    doc, parent_item, "", element.level, formatting, hyperlink
                ).idx
            else:
                creation_stack.append(_HeadingPayload(level=element.level))

        elif isinstance(element, MdList):
            has_non_empty = any(
                isinstance(c, ListItem) and c.children for c in element.children
            )
            self._close_table(doc)
            if has_non_empty:
                grp = doc.add_group(
                    "list", name="list", parent=parent_item, content_layer="body"
                )
                parent_item = grp.idx
                list_ordered_flag_by_ref[parent_item] = element.ordered

        elif (
            isinstance(element, ListItem)
            and element.children
            and isinstance((child := element.children[0]), Paragraph)
            and child.children
        ):
            self._close_table(doc)
            enumerated = (
                list_ordered_flag_by_ref.get(parent_item, False)
                if parent_item is not None
                else False
            )
            non_list_children = [
                it for it in child.children if not isinstance(it, ListItem)
            ]
            if len(non_list_children) > 1:
                parent_ref = parent_item
                item = doc.add_text(
                    "list_item",
                    "",
                    enumerated=enumerated,
                    parent=parent_item,
                    formatting=formatting,
                    hyperlink=hyperlink,
                )
                parent_item = item.idx
                if parent_ref is not None:
                    list_last_item_by_ref[parent_ref] = item.idx
            else:
                creation_stack.append(_ListItemPayload(enumerated=enumerated))

        elif isinstance(element, Image):
            self._close_table(doc)
            fig_caption = None
            if element.title:
                fig_caption = doc.add_text(
                    "caption",
                    unescape(element.title),
                    formatting=formatting,
                    hyperlink=hyperlink,
                )
            doc.add_picture(caption=fig_caption, parent=parent_item)

        elif isinstance(element, Emphasis):
            formatting = (
                Formatting(
                    bold=formatting.bold,
                    italic=True,
                    underline=formatting.underline,
                    strikethrough=formatting.strikethrough,
                    script=formatting.script,
                )
                if formatting
                else Formatting(italic=True)
            )

        elif isinstance(element, StrongEmphasis):
            formatting = (
                Formatting(
                    bold=True,
                    italic=formatting.italic,
                    underline=formatting.underline,
                    strikethrough=formatting.strikethrough,
                    script=formatting.script,
                )
                if formatting
                else Formatting(bold=True)
            )

        elif isinstance(element, Link):
            hyperlink = element.dest or hyperlink

        elif isinstance(element, (RawText, Literal)):
            snippet_text = (
                element.children.strip()
                if isinstance(element.children, str)
                else ""
            )
            snippet_text = unescape(snippet_text)
            if "|" in snippet_text or self.in_table:
                self.in_table = True
                if self.md_table_buffer:
                    self.md_table_buffer[-1] += snippet_text
                else:
                    self.md_table_buffer.append(snippet_text)
            elif snippet_text:
                self._close_table(doc)
                if creation_stack:
                    while creation_stack:
                        to_create = creation_stack.pop()
                        if isinstance(to_create, _ListItemPayload):
                            enumerated = (
                                list_ordered_flag_by_ref.get(parent_item, False)
                                if parent_item is not None
                                else False
                            )
                            parent_ref = parent_item
                            item = doc.add_text(
                                "list_item",
                                snippet_text,
                                enumerated=enumerated,
                                parent=parent_item,
                                formatting=formatting,
                                hyperlink=hyperlink,
                            )
                            parent_item = item.idx
                            if parent_ref is not None:
                                list_last_item_by_ref[parent_ref] = item.idx
                        else:
                            self._create_heading(
                                doc,
                                parent_item,
                                snippet_text,
                                to_create.level,
                                formatting,
                                hyperlink,
                            )
                else:
                    doc.add_text(
                        "text",
                        snippet_text,
                        parent=parent_item,
                        formatting=formatting,
                        hyperlink=hyperlink,
                    )

        elif isinstance(element, CodeSpan):
            self._close_table(doc)
            doc.add_text(
                "code",
                str(element.children).strip(),
                parent=parent_item,
                formatting=formatting,
                hyperlink=hyperlink,
            )

        elif (
            isinstance(element, (CodeBlock, FencedCode))
            and element.children
            and isinstance((child := element.children[0]), RawText)
            and len(snippet_text := child.children.strip()) > 0
        ):
            self._close_table(doc)
            doc.add_text(
                "code",
                snippet_text,
                parent=parent_item,
                formatting=formatting,
                hyperlink=hyperlink,
            )

        elif isinstance(element, LineBreak):
            if self.in_table:
                self.md_table_buffer.append("")

        elif isinstance(element, HTMLBlock):
            self._html_blocks += 1
            self._close_table(doc)
            if element.body.strip():
                html_block = element.body.strip()
                doc.add_text(
                    "code",
                    f"{_START_MARKER}{html_block}{_STOP_MARKER}",
                    parent=parent_item,
                    formatting=formatting,
                    hyperlink=hyperlink,
                )
        else:
            if not isinstance(element, str):
                self._close_table(doc)

        if (
            isinstance(element, (Paragraph, Heading))
            and len(element.children) > 1
        ):
            parent_item = doc.add_group(
                label="inline", parent=parent_item, content_layer="body"
            ).idx

        if isinstance(element, (CodeBlock, FencedCode, RawText)):
            return
        children = getattr(element, "children", None)
        if not isinstance(children, list):
            return
        for child in children:
            if (
                isinstance(element, ListItem)
                and isinstance(child, MdList)
                and parent_item is not None
                and list_last_item_by_ref.get(parent_item) is not None
            ):
                parent_item = list_last_item_by_ref[parent_item]
            self._iterate(
                child,
                doc,
                creation_stack,
                list_ordered_flag_by_ref,
                list_last_item_by_ref,
                parent_item=parent_item,
                formatting=formatting,
                hyperlink=hyperlink,
            )

    # -- entry (md_backend.py:539-614) ------------------------------------
    def convert(self, raw: bytes, name: str = "file") -> SpanDoc:
        text = raw.decode("utf-8")
        text = self._shorten_underscore_sequences(text)
        lines = [_expand_tabs(ln) for ln in text.split("\n")]
        ast = Document()
        ast.children = parse_blocks(lines)
        doc = SpanDoc(name)
        self.in_table = False
        self.md_table_buffer = []
        self._html_blocks = 0
        self._iterate(ast, doc, [], {}, {}, parent_item=None)
        self._close_table(doc)
        if self._html_blocks > 0:
            from .htmlx.extract import HtmlExtractor
            from .serialize_html import to_html

            html_str = to_html(doc)
            for regex in (
                rf"<pre>\s*<code>\s*{_START_MARKER}",
                rf"{_STOP_MARKER}\s*</code>\s*</pre>",
            ):
                html_str = re.sub(regex, "", html_str)
            self._html_blocks = 0
            doc = HtmlExtractor(base_uri="None").convert(
                html_str.encode("utf-8")
            )
            doc.name = name
        return doc


def extract_markdown(raw: bytes, name: str = "file") -> SpanDoc:
    return MarkdownExtractor().convert(raw, name=name)
