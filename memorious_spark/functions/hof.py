"""``bind_once`` — evaluate a Column expression exactly once per row
inside a higher-order-function context.

Why this exists: Spark's whole-stage codegen performs common-
subexpression elimination, but higher-order functions (``transform``,
``filter``, ``exists``, ``aggregate``, ``zip_with``) evaluate their
lambdas in INTERPRETED mode with no CSE — an expression referenced in
a lambda body (or referenced by several sibling expressions that end
up inside one HOF-bearing projection) is re-evaluated at every
reference. A ``split()`` captured by an n-gram ``transform`` re-splits
the document once per gram: measured 5.4s → 1.6s on the sf0.1
decontamination scan just from binding the token array once.

The trick: lambda VARIABLES are bound values — ``transform`` evaluates
its input array once and hands elements to the lambda by reference.
So wrap the expensive expression as the single element of an array,
``transform`` over it, and unwrap:

    bind_once(F.split(text, " "), lambda toks: ...toks...toks...)

evaluates the split exactly once per row no matter how many times the
callback references ``toks``. Nesting works (bind tokens, then bind a
struct of metrics computed from them). The extra array wrapper is one
allocation per row — noise next to the O(elements) re-evaluation it
removes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F

__all__ = ["bind_once"]


def bind_once(expr: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(expr)`` with ``expr`` evaluated exactly once per row, even
    when ``fn`` references it many times or embeds it in HOF lambdas
    (where Catalyst would otherwise inline and re-evaluate it per
    element)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)
