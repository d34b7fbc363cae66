"""Stable error text for results that carry a failure as a string."""

from __future__ import annotations

from pyspark.errors import AnalysisException


def error_message(ex: BaseException) -> str:
    """The exception's message without the plan dump after it.

    An analysis error's ``str`` is its message (error class, text,
    SQLSTATE and position) followed by the analyzed plan, whose
    expression ids (``cnt#1L`` vs ``cnt#4L``) change from run to run.
    The JVM exception's ``getSimpleMessage`` is that message alone.
    Every other error has no plan and keeps its ``str``."""
    origin = getattr(ex, "_origin", None)  # JVM exception of a captured error
    if isinstance(ex, AnalysisException) and origin is not None:
        return str(origin.getSimpleMessage())
    return str(ex)
