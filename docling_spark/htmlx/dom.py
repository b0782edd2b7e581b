"""A tiny DOM built from the stdlib ``html.parser`` token stream.

The reference backend parses with ``BeautifulSoup(raw, "html.parser")``
(docling's ``backend/html_backend.py:222``). BeautifulSoup's "html.parser"
tree builder is itself a thin shim over the same stdlib ``HTMLParser``, so
building on the stdlib gives the identical token stream; this module
re-creates only the tree-building conventions the extraction walker relies
on (void elements, end-tag recovery, comment nodes, attribute handling, and
the navigation/search API surface).

The parse runs one fused loop (``_TreeParser.goahead``) that tokenizes text
and plain tags itself and calls the stdlib for every other construct; it
reproduces the stdlib token stream, and ``tests/test_html_tokenizer.py``
checks that against html.parser's own loop.

No code is taken from bs4; the semantics below are re-derived from the
golden-file behavior of the reference test corpus (docling's
``tests/data/html`` and ``groundtruth/docling_v2``).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser, starttagopen
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

    parent: Optional["Tag"] = None

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
    def decompose(self) -> None:
        """Detach this tag (and its subtree) from its parent."""
        if self.parent is not None:
            try:
                self.parent.contents.remove(self)
            except ValueError:
                pass
            self.parent = None

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


# The fused loop's fast path: a plain start tag (an ASCII name, attributes
# each after ASCII whitespace, an optional "/") or a plain end tag. Only
# ASCII whitespace separates: html.parser's ``\s`` also takes Unicode spaces
# and \x0b, which its tag-name rule keeps inside the name, so a tag holding
# them misses this pattern and goes to the stdlib. An attribute name holds
# no quote or "<", and a bare value starts with no quote, "=" or whitespace;
# any other spelling goes to the stdlib too.
_TAG = re.compile(
    r"<(?:([a-zA-Z][a-zA-Z0-9]*)((?:[\t\n\r\f ]+[^\s\"'<>/=]+"
    r"""(?:="[^"]*"|='[^']*'|=[^\s"'=>][^\s>]*)?)*)[\t\n\r\f ]*(/?)"""
    r"|/([a-zA-Z][a-zA-Z0-9]*))>"
)
_ATTR = re.compile(
    r"[\t\n\r\f ]+([^\s\"'<>/=]+)"
    r"""(?:="([^"]*)"|='([^']*)'|=([^\s"'=>][^\s>]*))?"""
)
# html.parser's wait for the rest of a character reference cut at the end
_CHARREF_TAIL_END = re.compile(r"[\s;]")


class _TreeParser(HTMLParser):
    """Builds a Tag tree from the stdlib ``HTMLParser`` token stream.

    ``goahead`` replaces the stdlib main loop with one that tokenizes and
    builds in the same pass: it takes text runs, plain start tags and plain
    end tags itself and hands every other construct (comments,
    declarations, processing instructions, ``script``/``style`` content,
    tags that miss ``_TAG``) to the stdlib's own ``parse_*`` methods. The
    tokens it produces equal the stdlib's; ``tests/test_html_tokenizer.py``
    compares the two trees on every input it has.

    End-tag recovery: a closing tag pops up to the nearest matching open
    element; unmatched closers are ignored.
    """

    # bs4 parity: whitespace-only text runs collapse to "\n" (if they contain
    # a newline) or " ", unless inside a whitespace-preserving tag; and
    # consecutive handle_data chunks merge into ONE string node (bs4 buffers
    # in current_data and flushes at tag boundaries via endData)
    _ASCII_SPACES = " \n\t\x0c\r"
    _PRESERVE_WS = frozenset({"pre", "textarea"})

    # hostile-input hardening: a 10^4-deep <div> nest would blow the
    # recursion limit of every later tree walk; html.parser itself has no
    # depth bound. Elements beyond this depth attach as SIBLINGS at the cap
    # (content is preserved, nesting flattened). Real pages stay < ~100.
    MAX_DEPTH = 400

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Document()
        self._open: list[Tag] = [self.root]
        self._data_buf: list[str] = []
        self._preserve_depth = 0

    # --- tree rules, shared by the fused loop and the stdlib callbacks -----
    def _attach(self, node) -> None:
        top = self._open[-1]
        node.parent = top
        top.contents.append(node)

    def _flush_data(self) -> None:
        """Append the buffered text as one node; call only with a non-empty
        buffer."""
        data = "".join(self._data_buf)
        self._data_buf.clear()
        if self._preserve_depth == 0 and not data.strip(self._ASCII_SPACES):
            data = "\n" if "\n" in data else " "
        self._attach(TextNode(data))

    def _start(self, name: str, attrs, push: bool) -> None:
        """Add a tag; open it when ``push`` and it is neither void nor past
        ``MAX_DEPTH``. A self-closing tag is added only: never pushed, and
        it pops nothing."""
        if self._data_buf:
            self._flush_data()
        d: dict = {}
        for k, v in attrs:
            if k not in d:  # first occurrence wins
                d[k] = "" if v is None else v
        tag = Tag(name, d)
        self._attach(tag)
        if name in INDEXED_TAGS or "hidden" in d:
            self.root.index.append(tag)
        if push and name not in VOID_TAGS and len(self._open) < self.MAX_DEPTH:
            self._open.append(tag)
            if name in self._PRESERVE_WS:
                self._preserve_depth += 1

    def handle_starttag(self, name, attrs):
        self._start(name, attrs, True)

    def handle_startendtag(self, name, attrs):
        self._start(name, attrs, False)

    def handle_endtag(self, name):
        if self._data_buf:
            self._flush_data()
        if name in VOID_TAGS:
            return
        open_tags = self._open
        for i in range(len(open_tags) - 1, 0, -1):
            if open_tags[i].tag_name == name:
                if self._preserve_depth:
                    for t in open_tags[i:]:
                        if t.tag_name in self._PRESERVE_WS:
                            self._preserve_depth -= 1
                del open_tags[i:]
                return
        # unmatched end tag: dropped

    def handle_data(self, data):
        if data:
            self._data_buf.append(data)

    def _add_markup(self, data: str) -> None:
        if self._data_buf:
            self._flush_data()
        self._attach(MarkupNode(data))

    handle_comment = handle_decl = handle_pi = unknown_decl = _add_markup

    def close(self) -> None:
        super().close()
        if self._data_buf:
            self._flush_data()

    # --- the fused loop -----------------------------------------------------
    def goahead(self, end):
        """The stdlib ``HTMLParser.goahead`` (CPython 3.11) control flow with
        ``convert_charrefs`` on, minus its position tracking, which nothing
        reads. With ``convert_charrefs`` on every loop step stops at "<", so
        the stdlib's "&" branches never run and are left out."""
        rawdata = self.rawdata
        i = 0
        n = len(rawdata)
        fast_tag = _TAG.match
        attrs_of = _ATTR.findall
        find = rawdata.find
        startswith = rawdata.startswith
        handle_data = self.handle_data
        start = self._start
        handle_endtag = self.handle_endtag
        cdata_tags = self.CDATA_CONTENT_ELEMENTS
        while i < n:
            if self.cdata_elem:
                match = self.interesting.search(rawdata, i)
                if not match:
                    break
                j = match.start()
                if i < j:
                    handle_data(rawdata[i:j])
            else:
                j = find("<", i)
                if j < 0:
                    # a character reference may be cut at the end of this
                    # feed: wait for the rest (the stdlib rule)
                    amppos = rawdata.rfind("&", max(i, n - 34))
                    if amppos >= 0 and not _CHARREF_TAIL_END.search(rawdata, amppos):
                        break
                    j = n
                if i < j:
                    text = rawdata[i:j]
                    handle_data(unescape(text) if "&" in text else text)
                if j == n:
                    i = n
                    break
                m = fast_tag(rawdata, j)
                if m is not None:
                    name, attr_text, slash, end_name = m.groups()
                    if name is None:
                        handle_endtag(end_name.lower())
                    else:
                        name = name.lower()
                        attrs = []
                        if attr_text:
                            # at most one of the three value groups is non-empty
                            for k, dq, sq, bare in attrs_of(attr_text):
                                v = dq or sq or bare
                                attrs.append((k.lower(), unescape(v) if "&" in v else v))
                        start(name, attrs, not slash)
                        if not slash and name in cdata_tags:
                            self.set_cdata_mode(name)
                    i = m.end()
                    continue
            i = j
            # rawdata[i] is "<": the stdlib's own parse for everything else
            if starttagopen.match(rawdata, i):
                k = self.parse_starttag(i)
            elif startswith("</", i):
                k = self.parse_endtag(i)
            elif startswith("<!--", i):
                k = self.parse_comment(i)
            elif startswith("<?", i):
                k = self.parse_pi(i)
            elif startswith("<!", i):
                k = self.parse_html_declaration(i)
            elif i + 1 < n:
                handle_data("<")
                k = i + 1
            else:
                break
            if k < 0:
                if not end:
                    break
                k = rawdata.find(">", i + 1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                if self.cdata_elem:
                    handle_data(rawdata[i:k])
                else:
                    handle_data(unescape(rawdata[i:k]))
            i = k
        if end and i < n and not self.cdata_elem:
            handle_data(unescape(rawdata[i:n]))
        self.rawdata = rawdata[i:]


def parse_html(raw: Union[bytes, str]) -> Document:
    """Parse HTML bytes/text into a document root carrying the tag index."""
    text = decode_bytes(raw) if isinstance(raw, bytes) else raw
    p = _TreeParser()
    p.feed(text)
    p.close()
    return p.root
