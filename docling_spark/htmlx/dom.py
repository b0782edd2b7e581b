"""A tiny DOM on top of the stdlib ``html.parser``.

The reference backend parses with ``BeautifulSoup(raw, "html.parser")``
(/root/reference/docling/backend/html_backend.py:222).  BeautifulSoup's
"html.parser" tree builder is itself a thin shim over the same stdlib
``HTMLParser``, so building directly on the stdlib gives us the identical
token stream; this module re-creates only the tree-building conventions the
extraction walker relies on (void elements, end-tag recovery, comment nodes,
attribute handling, and the navigation/search API surface).

No code is taken from bs4; the semantics below are re-derived from the
golden-file behavior of the reference test corpus
(/root/reference/tests/data/html + groundtruth/docling_v2).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterable, Iterator, Optional, Union

# Elements that never take content; an opening tag closes immediately.
# (Matches the html.parser tree-builder convention used by the reference.)
VOID_TAGS = frozenset(
    {
        "area",
        "base",
        "basefont",
        "bgsound",
        "br",
        "col",
        "command",
        "embed",
        "frame",
        "hr",
        "image",
        "img",
        "input",
        "isindex",
        "keygen",
        "link",
        "menuitem",
        "meta",
        "nextid",
        "param",
        "source",
        "spacer",
        "track",
        "wbr",
    }
)

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)
_XML_ENC_RE = re.compile(rb"""<\?xml[^>]+encoding\s*=\s*["']([a-zA-Z0-9_\-]+)""")


def decode_bytes(raw: bytes) -> str:
    """Decode document bytes to text: BOM, declared charset, utf-8, cp1252."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", errors="replace")
    if raw.startswith(b"\xff\xfe"):
        return raw.decode("utf-16-le", errors="replace")
    if raw.startswith(b"\xfe\xff"):
        return raw.decode("utf-16-be", errors="replace")
    head = raw[:8192]
    m = _META_CHARSET_RE.search(head) or _XML_ENC_RE.search(head)
    if m:
        enc = m.group(1).decode("ascii", errors="ignore").lower()
        try:
            return raw.decode(enc)
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("cp1252", errors="replace")


class TextNode(str):
    """A text node; behaves as ``str`` and knows its parent."""

    parent: Optional["Tag"]

    def __new__(cls, value: str = "") -> "TextNode":
        self = super().__new__(cls, value)
        self.parent = None
        return self

    # text nodes have no tag name — lets callers test ``node.name`` uniformly
    name = None


class MarkupNode(TextNode):
    """Non-content markup: comments, doctypes, processing instructions.

    Mirrors the role of bs4's ``PreformattedString`` subclasses, which the
    reference walker skips (html_backend.py:601-603, 661-662).
    """


_NameFilter = Union[str, Iterable[str], None]


def _name_match(tag: "Tag", names: _NameFilter) -> bool:
    if names is None:
        return True
    if isinstance(names, str):
        return tag.tag_name == names
    return tag.tag_name in names


class Tag:
    __slots__ = ("tag_name", "attrs", "contents", "parent")

    def __init__(self, name: str, attrs: Optional[dict] = None):
        self.tag_name = name
        self.attrs = attrs or {}
        self.contents: list = []
        self.parent: Optional["Tag"] = None

    # --- identity -------------------------------------------------------
    @property
    def name(self) -> str:
        return self.tag_name

    def __repr__(self) -> str:  # debug aid only
        return f"<{self.tag_name} {self.attrs}>"

    # --- attribute access -------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    # --- structure manipulation -------------------------------------------
    def append_child(self, node) -> None:
        node.parent = self
        self.contents.append(node)

    def extract_node(self) -> None:
        if self.parent is not None:
            try:
                self.parent.contents.remove(self)
            except ValueError:
                pass
            self.parent = None

    def decompose(self) -> None:
        self.extract_node()

    def unwrap(self) -> None:
        """Replace this tag by its children in the parent's content list."""
        if self.parent is None:
            return
        idx = self.parent.contents.index(self)
        kids = list(self.contents)
        for k in kids:
            k.parent = self.parent
        self.parent.contents[idx : idx + 1] = kids
        self.contents = []
        self.parent = None

    def replace_child_with(self, old, new) -> None:
        idx = self.contents.index(old)
        old.parent = None
        new.parent = self
        self.contents[idx] = new

    # --- iteration / search -------------------------------------------------
    def __iter__(self) -> Iterator:
        return iter(self.contents)

    def descendants(self) -> Iterator:
        """Pre-order traversal of all descendant nodes (tags and text).

        Iterative (explicit stack): recursion via nested `yield from` costs a
        generator frame per tree level per yielded node, which dominated the
        extraction profile; this also makes traversal immune to the Python
        recursion limit on hostile deep trees."""
        stack = [iter(self.contents)]
        while stack:
            it = stack[-1]
            advanced = False
            for child in it:
                yield child
                if isinstance(child, Tag) and child.contents:
                    stack.append(iter(child.contents))
                    advanced = True
                    break
            if not advanced:
                stack.pop()

    def find_all(self, names: _NameFilter = None, recursive: bool = True) -> list:
        """All descendant (or direct-child) Tags matching a name filter."""
        pool = self.descendants() if recursive else iter(self.contents)
        return [n for n in pool if isinstance(n, Tag) and _name_match(n, names)]

    def __call__(self, names: _NameFilter = None, recursive: bool = True) -> list:
        return self.find_all(names, recursive=recursive)

    def find(self, names: _NameFilter = None, recursive: bool = True) -> Optional["Tag"]:
        pool = self.descendants() if recursive else iter(self.contents)
        for node in pool:
            if isinstance(node, Tag) and _name_match(node, names):
                return node
        return None

    # --- text -------------------------------------------------------------
    def get_text(self, separator: str = "", strip: bool = False) -> str:
        """Concatenate descendant text nodes (markup nodes excluded)."""
        parts: list[str] = []
        for node in self.descendants():
            if isinstance(node, MarkupNode) or not isinstance(node, TextNode):
                continue
            s = node.strip() if strip else str(node)
            if strip and not s:
                continue
            parts.append(s)
        return separator.join(parts)

    @property
    def text(self) -> str:
        return self.get_text()


INDEXED_TAGS = frozenset(
    {"title", "script", "noscript", "style", "body", "br", "inline-formula"}
    | {f"h{k}" for k in range(1, 7)}
)


class Document(Tag):
    """The parse root: a ``Tag`` plus the tag index built during the parse.

    ``index`` lists, in document order, every tag named in ``INDEXED_TAGS``
    and every tag carrying a ``hidden`` attribute, so the extraction walker
    serves its whole-document lookups without rescanning the tree. Entries
    are never removed: a caller that detaches tags checks that an entry is
    still attached before counting it.
    """

    __slots__ = ("index",)

    def __init__(self) -> None:
        super().__init__("[document]")
        self.index: list[Tag] = []


class _TreeParser(HTMLParser):
    """Feeds the stdlib token stream into a Tag tree.

    End-tag recovery: a closing tag pops up to the nearest matching open
    element; unmatched closers are ignored.  CDATA content of <script>/<style>
    is handled natively by the stdlib parser.
    """

    # bs4 parity: whitespace-only text runs collapse to "\n" (if they contain
    # a newline) or " ", unless inside a whitespace-preserving tag; and
    # consecutive handle_data chunks merge into ONE string node (bs4 buffers
    # in current_data and flushes at tag boundaries via endData)
    _ASCII_SPACES = " \n\t\x0c\r"
    _PRESERVE_WS = frozenset({"pre", "textarea"})

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Document()
        self._open: list[Tag] = [self.root]
        self._data_buf: list[str] = []
        self._preserve_depth = 0

    def _flush_data(self) -> None:
        """Append the buffered text as one node; call only with a non-empty
        buffer."""
        data = "".join(self._data_buf)
        self._data_buf.clear()
        if self._preserve_depth == 0 and not data.strip(self._ASCII_SPACES):
            data = "\n" if "\n" in data else " "
        self._open[-1].append_child(TextNode(data))

    def _add_tag(self, name: str, attrs) -> Tag:
        if self._data_buf:
            self._flush_data()
        d: dict = {}
        for k, v in attrs:
            if k not in d:  # first occurrence wins
                d[k] = "" if v is None else v
        tag = Tag(name, d)
        top = self._open[-1]
        tag.parent = top
        top.contents.append(tag)
        if name in INDEXED_TAGS or "hidden" in d:
            self.root.index.append(tag)
        return tag

    # hostile-input hardening: a 10^4-deep <div> nest would blow the
    # recursion limit of every later tree walk; html.parser itself has no
    # depth bound. Elements beyond this depth attach as SIBLINGS at the cap
    # (content is preserved, nesting flattened). Real pages stay < ~100.
    MAX_DEPTH = 400

    def handle_starttag(self, name, attrs):
        tag = self._add_tag(name, attrs)
        if name not in VOID_TAGS and len(self._open) < self.MAX_DEPTH:
            self._open.append(tag)
            if name in self._PRESERVE_WS:
                self._preserve_depth += 1

    def handle_startendtag(self, name, attrs):
        self._add_tag(name, attrs)

    def handle_endtag(self, name):
        if self._data_buf:
            self._flush_data()
        if name in VOID_TAGS:
            return
        for i in range(len(self._open) - 1, 0, -1):
            if self._open[i].tag_name == name:
                for t in self._open[i:]:
                    if t.tag_name in self._PRESERVE_WS:
                        self._preserve_depth -= 1
                del self._open[i:]
                return
        # unmatched end tag: dropped

    def handle_data(self, data):
        if data:
            self._data_buf.append(data)

    def _add_markup(self, data: str) -> None:
        if self._data_buf:
            self._flush_data()
        self._open[-1].append_child(MarkupNode(data))

    handle_comment = handle_decl = handle_pi = unknown_decl = _add_markup


def parse_html(raw: Union[bytes, str]) -> Document:
    """Parse HTML bytes/text into a document root carrying the tag index."""
    text = decode_bytes(raw) if isinstance(raw, bytes) else raw
    p = _TreeParser()
    p.feed(text)
    p.close()
    if p._data_buf:
        p._flush_data()
    return p.root
