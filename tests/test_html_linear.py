"""Linear time as a tested contract for the HTML backend.

Each test times one input at two sizes, single-threaded, as the minimum of
3 runs (5 for the ~30 ms image pages). A linear backend gives a ratio
near the size ratio and a quadratic one near its square, so the bounds
separate the two even with a host whose speed swings ~1.5x between runs.
"""

from __future__ import annotations

import time

import pytest

from docling_spark.htmlx.dom import _TAG, parse_html
from docling_spark.htmlx.extract import HtmlExtractor
from docling_spark.job import _extract_one

# 8,000 inline runs; the trailing <p> makes every enclosing div hold a
# block, so the walker descends through each div and gathers each run at
# full depth instead of gathering the outermost div in one pass
RUNS = "<a href=x><span>w <b>x</b></span></a>" * 8000 + "<p>end</p>"


def _best_of(fn, runs: int = 3) -> float:
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def _nested(depth: int, inner: str = RUNS) -> bytes:
    return f"<html><body>{'<div>' * depth}{inner}{'</div>' * depth}</body></html>".encode()


def test_walk_time_does_not_grow_with_nesting_depth():
    # 390 stays under the parser's depth cap, so both pages nest fully
    shallow, deep = _nested(25), _nested(390)
    t_shallow = _best_of(lambda: HtmlExtractor().convert(shallow))
    t_deep = _best_of(lambda: HtmlExtractor().convert(deep))
    assert t_deep / t_shallow <= 2, (t_shallow, t_deep)


def test_image_time_does_not_grow_with_nesting_depth():
    # each image looks up its nearest figure and link ancestor
    shallow, deep = _nested(25, "<img>" * 4000), _nested(390, "<img>" * 4000)
    t_shallow = _best_of(lambda: HtmlExtractor().convert(shallow), runs=5)
    t_deep = _best_of(lambda: HtmlExtractor().convert(deep), runs=5)
    assert t_deep / t_shallow <= 1.5, (t_shallow, t_deep)


def _page(n_bytes: int) -> bytes:
    """Sections of heading, formatted and linked paragraph, list, table and
    script, repeated to about ``n_bytes``."""
    parts = ["<html><head><title>Linear</title></head><body><h1>Linear</h1>"]
    size = 0
    k = 0
    while size < n_bytes:
        k += 1
        section = (
            f"<h2>Section {k}</h2><p>Some <b>bold</b> and <i>italic</i> text with "
            f"<a href='/s/{k}'>a link</a> in paragraph {k}.</p>"
            f"<ul><li>one {k}</li><li>two <code>x</code></li></ul>"
            f"<table><tr><th>K</th><th>V</th></tr><tr><td>k{k}</td><td>v{k}</td></tr>"
            f"</table><script>track({k});</script>\n"
        )
        parts.append(section)
        size += len(section)
    parts.append("</body></html>")
    return "".join(parts).encode()


def test_extract_time_grows_linearly_with_page_size():
    small, large = _page(100_000), _page(400_000)

    def run(raw: bytes):
        row = _extract_one("https://x.test/p.html", raw, "html", "none", 60.0)
        assert row["status"] == "success", row["error"]

    t_small = _best_of(lambda: run(small))
    t_large = _best_of(lambda: run(large))
    assert t_large / t_small <= 8, (t_small, t_large)


# Parser pages, one per way a tag meets the fused loop's patterns, whose
# nested quantifiers must not backtrack into quadratic time
ATTR_VALUE = "v" * 300
PARSER_UNITS = {
    # fast path: many attributes with long quoted and bare values
    "many_long_attrs": "<div " + " ".join(
        f'a{k}="{ATTR_VALUE}" b{k}=\'{ATTR_VALUE}\' c{k}={ATTR_VALUE}' for k in range(10)
    ) + ">text</div>\n",
    # an unterminated start tag runs into the next tag: it misses the fast
    # pattern, and the stdlib parses it (up to the next ">")
    "unterminated_runs": "<a b c d e f g h i j k l m n o <p>para</p>"
    "<div x=1 y=\"2\" z\n<span>s</span>\n",
    # text dense with literal "<" (no tag follows) and "&"
    "lt_amp_text": "1 < 2 && 3 <4 & x &lt; y &amp z <= w &#1 & <- < ",
}


@pytest.mark.parametrize("name", sorted(PARSER_UNITS))
def test_parse_time_grows_linearly_with_page_size(name):
    unit = PARSER_UNITS[name]
    if name == "unterminated_runs":
        assert _TAG.match(unit, 0) is None
    small = unit * (100_000 // len(unit))
    large = small * 4
    t_small = _best_of(lambda: parse_html(small))
    t_large = _best_of(lambda: parse_html(large))
    assert t_large / t_small <= 8, (t_small, t_large)
