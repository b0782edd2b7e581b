"""Unit tests mirroring the reference backend's own unit suite
(/root/reference/tests/test_backend_html.py)."""

from docling_spark.htmlx.extract import clean_unicode, extract_html, resolve_href
from docling_spark.serialize import to_markdown

ALL_LAYERS = frozenset({"body", "furniture"})


def md(raw: bytes, **kw) -> str:
    return to_markdown(extract_html(raw, base_uri="None"), **kw)


def test_ordered_lists():
    # mirrors tests/test_backend_html.py:116-169
    cases = [
        (b"<html><body><ol><li>1st item</li><li>2nd item</li></ol></body></html>",
         "1. 1st item\n2. 2nd item"),
        (b'<html><body><ol start="1"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "1. 1st item\n2. 2nd item"),
        (b'<html><body><ol start="2"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "2. 1st item\n3. 2nd item"),
        (b'<html><body><ol start="0"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "0. 1st item\n1. 2nd item"),
        (b'<html><body><ol start="-5"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "1. 1st item\n2. 2nd item"),
        (b'<html><body><ol start="foo"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "1. 1st item\n2. 2nd item"),
    ]
    for idx, (raw, expect) in enumerate(cases):
        assert md(raw) == expect, f"case {idx}"


def test_unicode_characters():
    # mirrors tests/test_backend_html.py:172-185
    raw = "<html><body><h1>Hello World!</h1></body></html>".encode()  # noqa: RUF001
    doc = extract_html(raw)
    texts = [i for i in doc.items if i.kind == "text" and i.label == "title"
             and i.content_layer == "body"]
    assert texts[0].text == "Hello World!"


def test_html_furniture():
    # mirrors tests/test_backend_html.py:322-349
    raw = (
        b"<html><body><p>Initial content with some <strong>bold text</strong></p>"
        b"<h1>Main Heading</h1>"
        b"<p>Some Content</p>"
        b"<footer><p>Some Footer Content</p></footer></body></html"
    )
    assert md(raw) == "# Main Heading\n\nSome Content"
    assert md(raw, layers=ALL_LAYERS) == (
        "Initial content with some **bold text**\n\n# Main Heading\n\nSome Content\n\n"
        "Some Footer Content"
    )


def test_heading_levels():
    # mirrors tests/test_backend_html.py:89-113
    import pathlib

    raw = pathlib.Path("/root/reference/tests/data/html/wiki_duck.html").read_bytes()
    doc = extract_html(raw, base_uri="None")
    levels = {
        i.text: i.level
        for i in doc.items
        if i.kind == "text" and i.label == "section_header"
    }
    assert levels["Etymology"] == 1  # h2 under h1-title
    assert levels["Feeding"] == 2  # h3 under h1-title


def test_resolve_relative_path():
    # mirrors tests/test_backend_html.py:46-87
    assert resolve_href("subdir/another.html", "/local/path/to/file.html") == (
        "/local/path/to/subdir/another.html"
    )
    assert resolve_href("/absolute/path/to/file.html", "/local/path/to/file.html") == (
        "/absolute/path/to/file.html"
    )
    assert resolve_href("//example.com/file.html", "http://my_host.com") == (
        "https://example.com/file.html"
    )
    assert resolve_href("subdir/file.html", "http://example.com") == (
        "http://example.com/subdir/file.html"
    )
    assert resolve_href("https://my_host.com/my_page.html", "http://example.com") == (
        "https://my_host.com/my_page.html"
    )
    assert resolve_href("/static/images/my_image.png", "http://example.com") == (
        "http://example.com/static/images/my_image.png"
    )
    assert resolve_href("subdir/file.html", None) == "subdir/file.html"


def test_clean_unicode():
    assert clean_unicode("a b–c’d…e­") == "a b-c'd...e"


def test_markup_in_text_splits_the_run_alike():
    # every markup token ends the text run before it, so a doctype in the
    # middle of text reads like a comment there
    def run(markup: str) -> str:
        return md(f"<html><body><div>a{markup}b</div></body></html>".encode())

    assert run("<!-- c -->") == "a b"
    assert run("<!DOCTYPE x>") == "a b"
    assert run("<?pi x?>") == "a b"


def test_rich_table_cell_matrix():
    # mirrors tests/test_backend_html.py:447-525 (ground-truth booleans)
    from docling_spark.htmlx.dom import parse_html
    from docling_spark.htmlx.extract import HtmlExtractor

    raw = open("/root/reference/tests/data/html/html_rich_table_cells.html", "rb").read()
    root = parse_html(raw)
    ex = HtmlExtractor(base_uri="None")
    gt = {
        0: [False, False, False, False, False, False, False, False, False,
            False, False, True, False, True, True],
        1: [False, False, True, False, True, False, True, False],
        2: [False, True, True, True, False, True, True],
        3: [False, False, False, False, False, False],
        4: [False, False, False, False, False, True, False, False, True,
            False, False, True, False, False, False],
    }
    for idx_t, table in enumerate(root.find_all("table")):
        flags = []
        for part in table.find_all(["thead", "tbody"], recursive=False):
            for row in part.find_all("tr", recursive=False):
                for cell in row.find_all(["td", "th"], recursive=False):
                    flags.append(ex._is_rich_cell(cell))
        assert flags == gt[idx_t], f"table {idx_t}"
