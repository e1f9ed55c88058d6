"""Typed per-document errors.

Mirrors the reference exception taxonomy (/root/reference/py_pdf_parser/
exceptions.py:1-52).  In a distributed job these NEVER kill a stage: the
pipeline kernel catches any ``Exception`` per document, these included, and
emits an error-status row instead (see ``pipeline.extract_spans``).
"""


class DocError(Exception):
    """Base class for all per-document, recoverable errors."""


class InvalidCoordinatesError(DocError):
    """bbox with x1 < x0 or y1 < y0 (reference: common.py:28-35)."""


class NoElementsOnPageError(DocError):
    """A page with zero elements (reference: components.py:426-429)."""


class PageNotFoundError(DocError):
    """Unknown page number (reference: components.py:487-490)."""


class NoElementFoundError(DocError):
    """Empty list where one element was required (reference: filtering.py:804-805)."""


class MultipleElementsFoundError(DocError):
    """>1 element where exactly one was required (reference: filtering.py:806-809)."""


class ElementOutOfRangeError(DocError):
    """move_forwards/backwards_from out of the list (reference: filtering.py:909-912)."""


class SectionNotFoundError(DocError):
    """Unknown section unique_name (reference: sectioning.py:174-179)."""


class InvalidSectionError(DocError):
    """end before start / empty section (reference: sectioning.py:46-47,146-153)."""


class TableExtractionError(DocError):
    """Table assembly failure (reference: tables.py:110-118,210-219,239-243)."""


class InvalidTableError(DocError):
    """Non-rectangular table (reference: tables.py:341-345)."""


class InvalidTableHeaderError(DocError):
    """Bad header width / duplicate header entries (reference: tables.py:289-295)."""
