"""Expression-level combinators.

``let`` is the workhorse: Spark's higher-order functions (``transform``,
``aggregate``, ``filter``) evaluate their lambdas interpreted, and any
expression subtree CAPTURED by the lambda (rather than bound as a lambda
variable) is re-evaluated at every reference.  A lambda over token
positions that captures ``split(text)`` therefore re-splits the document
once per produced element.  Binding the value through a one-element
``transform`` turns every reference into a lambda-variable (attribute)
lookup — measured 15x on the shingle-explode stage at sf0.1.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["exact_key", "let"]


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once per row and pass it to ``body`` as a bound
    lambda variable.  Use whenever ``body`` references the value more
    than once inside higher-order-function lambdas."""
    return F.element_at(F.transform(F.array(value), body), 1)


def exact_key(text: Column, normalize: bool) -> Column:
    """The exact-dedup key of a text: the md5 of the text, lower-cased
    with whitespace runs collapsed and trimmed when ``normalize``."""
    if normalize:
        text = F.trim(F.lower(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(text)
