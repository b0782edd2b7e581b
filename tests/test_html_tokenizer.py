"""The HTML parser's fused loop against the stdlib's own main loop.

``htmlx.dom._TreeParser.goahead`` tokenizes text, plain start tags and
plain end tags itself and hands every other construct to html.parser's
``parse_*`` methods. The oracle is the same tree builder driven by the
installed ``HTMLParser.goahead``. Every input must give the same tree
(node kind, tag name, attributes in order, text) and the same tag index,
or the same exception.

Inputs: every input of ``tests/test_backend_lock.py`` (CLI inputs,
``ops/corpus`` ``synth_*_bytes`` builds, junk blobs, HTML cases, the JATS
table), the METS manifest and hOCR page of ``tests/test_cli_convert.py``,
``test_hostile_html.CASES``, a named edge list and 50,000 seeded
token-soup strings.
"""

from __future__ import annotations

import hashlib
import inspect
import random
from html import parser as stdlib_parser

import pytest
import test_backend_lock as lock
from test_cli_convert import METS_HOCR, METS_MANIFEST
from test_hostile_html import CASES as HOSTILE

from docling_spark.htmlx import dom


class _StdlibLoop(dom._TreeParser):
    """The oracle: the tree builder fed by html.parser's unmodified loop."""

    goahead = stdlib_parser.HTMLParser.goahead


def _dump(node) -> tuple:
    if isinstance(node, dom.Tag):
        return ("tag", node.tag_name, tuple(node.attrs.items()),
                tuple(_dump(c) for c in node.contents))
    return (type(node).__name__, str(node))


def _parse(cls, text: str) -> tuple:
    """(tree, index as pre-order tag positions), or the exception raised."""
    p = cls()
    try:
        p.feed(text)
        p.close()
    except AssertionError as e:  # html.parser's verdict on some <![ spellings
        return ("raised", type(e).__name__, str(e))
    root = p.root
    order = {id(t): k for k, t in enumerate(root.find_all())}
    return _dump(root), [order.get(id(t), -1) for t in root.index]


def _assert_same(text: str) -> None:
    assert _parse(dom._TreeParser, text) == _parse(_StdlibLoop, text), repr(text[:300])


EDGES = {
    "self_closing_in_namesake": "<p><p/>x",
    "self_closing_void_and_not": "<div>a<span/>b<br/>c</div>d",
    "nbsp_after_name": "<p\xa0class=x>t</p>",
    "nbsp_between_attrs": "<p class=x\xa0id=y>t</p>",
    "nbsp_before_value": "<p class=\xa0x>t</p>",
    "vtab_after_name": "<p\x0bclass=x>t</p>",
    "vtab_before_value": "<p class=\x0bx>t</p>",
    "ideographic_space": "<p\u3000a=b class=c\u3000d>t</p>",
    "quoted_then_attr": '<a b="x"c=d>t</a>',
    "double_equals": "<a b==c>t</a>",
    "bare_value_slash": "<a href=x/>t</a>",
    "bare_value_equals": "<a href=/q?a=b&amp;c=d>t</a>",
    "spaced_equals": "<a href = x title= 'y' >t</a>",
    "empty_unescape_text": "<p>&#1;</p><p>a&#1;b</p>",
    "empty_unescape_attr": "<p title='&#1;' class=&#1;>t</p>",
    "upper_case": "<DIV ID=A><P CLASS=X>t</P></DIV>",
    "duplicate_attrs": "<a href=1 HREF=2 Href='3' href>t</a>",
    "end_tag_space": "<p>a</p >b",
    "end_tag_empty": "<p>a</>b",
    "end_tag_leading_space": "<p>a</ p>b",
    "script_upper_end": "<script>if (a < b) x();</SCRIPT >after",
    "style_cdata": "<style>p > a { x: '</p>' }</style><p>t</p>",
    "script_unclosed": "<p>a</p><script>var x = '<p>'",
    "self_closing_script": "<script/>after<p>t</p>",
    "unterminated_tag": "<p>a<div class='x",
    "unterminated_tag_bare": "<p>a<div class",
    "unterminated_comment": "<p>a<!-- never closed",
    "amp_at_end": "<p>x &am",
    "amp_entity_at_end": "<p>x &amp",
    "lt_at_end": "<p>x <",
    "lt_not_tag": "<p>1 < 2 <3 <-> </ 4</p>",
    "pre_whitespace": "<pre>\n  a  \n</pre> \n <textarea> \n </textarea> <p> </p>",
    "nested_pre": "<pre><pre> </pre> </pre> ",
    "past_max_depth": "<div>" * 450 + "deep" + "</div>" * 450 + "<p>after</p>",
    "null_in_name": "<p\x00>t</p><a b\x00=c>t</a>",
    "lt_in_attr_name": "<a b c <p>x</p>",
    "quote_in_bare_value": "<a b=c\"d e='f'g>t</a>",
    "empty_quoted": "<a b=\"\" c=''>t</a>",
    "gt_in_quoted": "<a title='a > b'>t</a>",
    "newline_attrs": "<a\nhref=x\r\ntitle=y\t\x0c>t</a>",
    "slash_attrs": "<a/b/c>t</a><a / >u</a>",
    "doctype_pi_cdata": "<!DOCTYPE html><?xml x?><![CDATA[c]]><!x>t",
    "marked_section_bad": "<p>a</p><![1]>",
    "charrefs": "<p>&lt;&#x41;&#65;&nbsp&copy;&unknown; &#x110000;</p>",
}


@pytest.mark.parametrize("name", sorted(EDGES))
def test_edge_case_matches_stdlib(name):
    _assert_same(EDGES[name])


def _root(text: str):
    return dom.parse_html(text)


def test_self_closing_tag_is_added_only():
    p = _root("<p><p/>x").contents[0]
    assert [c.name for c in p.contents] == ["p", None]
    assert p.contents[1] == "x"


def test_empty_unescape_leaves_no_text_node():
    assert _root("<p>&#1;</p>").contents[0].contents == []


def test_only_ascii_whitespace_ends_a_tag_name():
    assert [t.name for t in _root("<p\xa0class=x>t</p>").find_all()] == ["p\xa0class=x"]


def test_backend_lock_inputs_match_stdlib():
    blobs = [blob for _, blob, _ in lock.CASES.values()]
    blobs += [METS_MANIFEST, METS_HOCR, lock.JATS_TABLE, lock.HTML_LINKS]
    for blob in blobs:
        _assert_same(dom.decode_bytes(blob))


@pytest.mark.parametrize("name", sorted(HOSTILE))
def test_hostile_input_matches_stdlib(name):
    _assert_same(dom.decode_bytes(HOSTILE[name]))


TAG_NAMES = ("p", "P", "div", "a", "br", "img", "pre", "textarea", "title",
             "h1", "body", "td", "script", "style", "SCRIPT", "x-y", "a:b", "p\x0b")
ATTR_NAMES = ("a", "b", "href", "HREF", "hidden", "class", "x-y", "a:b",
              '"q', "b'", "<", "=", "`", "\x00", "\xe9")
SEPARATORS = (" ", " ", "\t", "\n", "\r", "\x0c", "\x0b", "\xa0", "\u3000", "",
              "/", "  ")
EQUALS = ("=", "=", "=", " = ", "==", "=\xa0", "= ")
VALUES = ("x", "x/", "/u?a=b", '"x y"', "'x y'", "'a&amp;b'", '"&#1;"', "&#1;",
          '"', "'", 'a"b', "=x", "''", '""', "'>'", '"<"', "&lt;", "x\xa0y",
          "&am", "`x`", "")
TAG_ENDS = (">", ">", ">", "/>", " >", " />", "/", "", "\xa0>")
FRAGMENTS = ("<", "</", ">", "/>", "/", "=", "&", "&amp;", "&#1;", "&am", "&lt",
             "&#x41;", "&#", ";", "<!--", "-->", "--!>", "<!", "<?", "?>",
             "<!DOCTYPE html>", "<![CDATA[", "]]>", "</>", "</ p>", "</p >",
             "</SCRIPT >", "</script>", "</style>", "</pre>", "</textarea>",
             " ", "\n", "\t", "\xa0", "\x0b", "\x00", "<p><p/>", "<br/>")
WORDS = ("word", "text ", " a b ", "\n", "caf\xe9", "1 < 2", "x & y")


def _soup_tag(rng: random.Random) -> str:
    parts = ["<", "/" if rng.random() < 0.25 else "", rng.choice(TAG_NAMES)]
    for _ in range(rng.randrange(4)):
        parts += [rng.choice(SEPARATORS), rng.choice(ATTR_NAMES)]
        if rng.random() < 0.7:
            parts += [rng.choice(EQUALS), rng.choice(VALUES)]
    parts.append(rng.choice(TAG_ENDS))
    return "".join(parts)


def _soup(rng: random.Random) -> str:
    pieces = []
    for _ in range(rng.randrange(1, 14)):
        r = rng.random()
        if r < 0.5:
            pieces.append(_soup_tag(rng))
        elif r < 0.85:
            pieces.append(rng.choice(FRAGMENTS))
        else:
            pieces.append(rng.choice(WORDS))
    return "".join(pieces)


SOUP_CASES = 50_000


def test_token_soup_matches_stdlib():
    rng = random.Random(20261020)
    for _ in range(SOUP_CASES):
        _assert_same(_soup(rng))


# sha256 over the html.parser code and patterns whose token stream the fused
# loop reproduces, as shipped with CPython 3.11.7. Later security releases
# rework comment and CDATA handling, so a differing interpreter must re-check
# ``_TreeParser.goahead`` and ``dom._TAG`` against its html.parser first.
STDLIB_PARSER_SHA = "a637ed8d3f7b807d702846acb73b1512793b7b6f950c9ccf78f6801ef71f4b60"


def test_stdlib_parser_is_the_one_the_loop_reproduces():
    h = hashlib.sha256()
    for name in ("goahead", "parse_starttag", "check_for_whole_start_tag",
                 "parse_endtag", "set_cdata_mode", "clear_cdata_mode",
                 "parse_html_declaration", "parse_bogus_comment", "parse_pi"):
        h.update(inspect.getsource(getattr(stdlib_parser.HTMLParser, name)).encode())
    for name in ("interesting_normal", "starttagopen", "tagfind_tolerant",
                 "attrfind_tolerant", "locatestarttagend_tolerant", "endendtag",
                 "endtagfind", "commentclose"):
        h.update(getattr(stdlib_parser, name).pattern.encode())
    assert h.hexdigest() == STDLIB_PARSER_SHA, (
        "html.parser is not the CPython 3.11.7 one that htmlx.dom._TreeParser."
        "goahead reproduces: re-check the fused loop against it"
    )
