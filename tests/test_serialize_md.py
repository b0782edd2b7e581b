"""Markdown writer units on hand-built SpanDocs (no reference corpus)."""

from docling_spark.model import SpanDoc
from docling_spark.serialize import to_markdown


def test_list_item_text_child_follows_escape_html():
    doc = SpanDoc("t")
    group = doc.add_group("list", name="list", parent=None, content_layer="body")
    item = doc.add_text("list_item", "", parent=group.idx)
    doc.add_text("text", "a<b", parent=item.idx)
    assert to_markdown(doc, escape_html=False) == "- a<b"
    assert to_markdown(doc) == "- a&lt;b"
