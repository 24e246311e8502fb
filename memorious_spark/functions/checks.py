"""Data-quality predicates — the ContextCheck validators of
memorious/logic/check.py:17-72 as Column expressions.

The reference logs-or-raises per row; here each validator is a boolean
Column, so a caller filters or counts violations in one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "is_not_empty", "is_integer", "match_regexp", "has_length",
    "must_contain",
]


def is_not_empty(c: Column) -> Column:
    return c.isNotNull() & (F.length(F.trim(c.cast("string"))) > 0)


def is_integer(c: Column) -> Column:
    return c.cast("string").rlike(r"^-?[0-9]+$")


def match_regexp(c: Column, pattern: str) -> Column:
    return c.cast("string").rlike(pattern)


def has_length(c: Column, n: int) -> Column:
    return F.length(c.cast("string")) == n


def must_contain(c: Column, needle: str) -> Column:
    return c.cast("string").contains(needle)
