"""The one word tokenizer of the ops text family.

A word is a non-empty fragment of the lower-cased text between runs of
RE2's ``\\s`` (``[\\t\\n\\f\\r ]``): the rule every DuckDB oracle spells as
``list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')``.
Java's ``\\s`` also matches the vertical tab, so the class is spelled out.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(text: Column) -> Column:
    """The lower-cased non-empty words of ``text`` (NULL for NULL)."""
    return F.array_remove(F.split(F.lower(text), r"[ \t\n\f\r]+"), "")


def bucket(token: Column, n_buckets: int) -> Column:
    """The first 3 hex chars of md5(token), mod ``n_buckets``."""
    return F.conv(F.substring(F.md5(token), 1, 3), 16, 10).cast("int") % n_buckets
