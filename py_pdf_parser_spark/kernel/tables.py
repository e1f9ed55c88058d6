"""Table extraction from aligned element grids.

Kernel equivalent of /root/reference/py_pdf_parser/tables.py:18-499 —
grid reconstruction by interval alignment, with the same error behavior
(raised as typed ``DocError``s; the pipeline converts them to per-document
error records rather than failing the stage).

Cells hold element indexes (ints) or None; ``as_text=True`` converts to
the element texts.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

import numpy as np

from ..errors import (
    InvalidTableError,
    InvalidTableHeaderError,
    MultipleElementsFoundError,
    NoElementFoundError,
    TableExtractionError,
)
from .doc import Elems


def extract_simple_table(
    elements: Elems,
    as_text: bool = False,
    strip_text: bool = True,
    allow_gaps: bool = False,
    reference_element: Optional[int] = None,
    tolerance: float = 0.0,
    remove_duplicate_header_rows: bool = False,
) -> List[List]:
    """Reference-row/column scan (tables.py:18-138)."""
    if reference_element is None:
        reference_element = elements[0]
    # The reference element's row and column (inclusive), then cell (r, c)
    # = reference row r ∩ reference column c, with a single-element check
    # (tables.py:100-119): two anchor × element masks, then per cell the
    # element count and the sum of element indexes (the index itself
    # wherever the count is 1).
    idx = elements.idx
    reference_row = idx[elements._probe(
        "horizontal", (reference_element,), tolerance=tolerance
    )[0]]
    reference_column = idx[elements._probe(
        "vertical", (reference_element,), tolerance=tolerance, all_pages=True
    )[0]]
    in_col = elements._probe(
        "vertical", reference_row, tolerance=tolerance, all_pages=True
    )
    in_row = elements._probe(
        "horizontal", reference_column, tolerance=tolerance
    ).astype(np.float64)
    counts = in_row @ in_col.T
    sums = (in_row * idx) @ in_col.T
    bad = counts > 1 if allow_gaps else counts != 1
    if bad.any():
        r, c = divmod(int(bad.argmax()), bad.shape[1])
        if counts[r, c]:
            raise TableExtractionError(
                "Multiple elements appear to be in the place of one cell in the "
                "table. Please try extract_table() instead."
            )
        raise TableExtractionError(
            "Element not found, there appears to be a gap in the table. "
            "If this is expected, pass allow_gaps=True."
        )
    single = counts == 1
    table: List[List] = [
        [int(v) if one else None for v, one in zip(row, ones)]
        for row, ones in zip(sums.tolist(), single.tolist())
    ]

    table_size = int(single.sum())
    if table_size != len(elements):
        raise TableExtractionError(
            f"Number of elements in table ({table_size}) does not match number of "
            f"elements passed ({len(elements)}). Perhaps try extract_table instead "
            "of extract_simple_table, or change you reference element."
        )

    if remove_duplicate_header_rows:
        table = _remove_duplicate_header_rows(table, elements.doc)

    if as_text:
        return get_text_from_table(table, elements.doc, strip_text=strip_text)

    _validate_table_shape(table)
    return table


def extract_table(
    elements: Elems,
    as_text: bool = False,
    strip_text: bool = True,
    fix_element_in_multiple_rows: bool = False,
    fix_element_in_multiple_cols: bool = False,
    tolerance: float = 0.0,
    remove_duplicate_header_rows: bool = False,
) -> List[List]:
    """Full alignment-scan variant (tables.py:141-254)."""
    rows = set()
    cols = set()
    for i in elements:
        rows.add(
            elements.horizontally_in_line_with(i, inclusive=True, tolerance=tolerance)
        )
        cols.add(
            elements.vertically_in_line_with(
                i, inclusive=True, all_pages=True, tolerance=tolerance
            )
        )

    if fix_element_in_multiple_rows:
        _fix_rows(rows, elements)
    if fix_element_in_multiple_cols:
        _fix_cols(cols, elements)
    if sum(len(r) for r in rows) != len({i for r in rows for i in r}):
        raise TableExtractionError(
            "An element is in multiple rows. If this is expected, you can try "
            "passing fix_element_in_multiple_rows=True"
        )
    if sum(len(c) for c in cols) != len({i for c in cols for i in c}):
        raise TableExtractionError(
            "An element is in multiple columns. If this is expected, you can try "
            "passing fix_element_in_multiple_cols=True"
        )

    sorted_rows = sorted(rows, key=lambda r: _row_sort_key(r, elements))
    sorted_cols = sorted(cols, key=lambda c: _col_sort_key(c, elements))

    table = []
    for row in sorted_rows:
        table_row = []
        for col in sorted_cols:
            try:
                cell: Optional[int] = (row & col).extract_single_element()
            except NoElementFoundError:
                cell = None
            except MultipleElementsFoundError as err:
                raise TableExtractionError(
                    "Multiple elements appear to be in the place of one cell in the "
                    "table. It could be worth trying to add a tolerance."
                ) from err
            table_row.append(cell)
        table.append(table_row)

    if remove_duplicate_header_rows:
        table = _remove_duplicate_header_rows(table, elements.doc)

    if as_text:
        return get_text_from_table(table, elements.doc, strip_text=strip_text)

    _validate_table_shape(table)
    return table


def _row_sort_key(row: Elems, elements: Elems):
    """(page of first element, max(-y1)) — tables.py:221-227."""
    d = elements.doc
    return (int(d.page[row[0]]), max(-d.y1[i] for i in row))


def _col_sort_key(col: Elems, elements: Elems):
    """max(x0) — tables.py:228-230."""
    d = elements.doc
    return max(d.x0[i] for i in col)


def add_header_to_table(
    table: List[List[str]], header: Optional[List[str]] = None
) -> List[Dict[str, str]]:
    """tables.py:257-306."""
    _validate_table_shape(table)
    header_provided = bool(header)
    if len(table) == 0:
        return []
    if header is None:
        header = table[0]
    elif len(header) != len(table[0]):
        raise InvalidTableHeaderError(
            f"Header length of {len(header)} does not match the width of the table "
            f"({len(table[0])})"
        )
    if len(header) != len(set(header)):
        raise InvalidTableHeaderError("Header contains repeated elements")
    new_table = [
        {header[idx]: element for idx, element in enumerate(row)} for row in table
    ]
    if not header_provided:
        new_table.pop(0)
    return new_table


def get_text_from_table(
    table: List[List[Optional[int]]], doc, strip_text: bool = True
) -> List[List[str]]:
    """tables.py:309-330 — None cells become ''."""
    _validate_table_shape(table)
    texts = (doc.text_stripped if strip_text else doc.text_raw).tolist()
    return [[texts[i] if i is not None else "" for i in row] for row in table]


def _validate_table_shape(table: List[List[Any]]) -> None:
    if len(table) < 1:
        return
    first_row_len = len(table[0])
    for idx, row in enumerate(table[1:]):
        if len(row) != first_row_len:
            raise InvalidTableError(
                f"Table not rectangular, row 0 has {first_row_len} elements but row "
                f"{idx + 1} has {len(row)}."
            )


def _fix_rows(rows: set, elements: Elems) -> None:
    """Keep a multi-row element only in its top-most row (tables.py:348-400)."""
    if sum(len(r) for r in rows) == len({i for r in rows for i in r}):
        return

    sorted_rows = sorted(rows, key=lambda r: _row_sort_key(r, elements))

    for i in elements:
        num_rows = sum(i in row for row in rows)
        if num_rows == 1:
            continue
        rows_with_element = [row for row in rows if i in row]
        sorted_rows_with_element = sorted(
            rows_with_element, key=lambda row: sorted_rows.index(row)
        )
        for row in sorted_rows_with_element[1:]:
            rows.remove(row)
            new_row = row.remove_element(i)
            if len(new_row):
                rows.add(new_row)
                sorted_rows = [
                    new_row if some_row == row else some_row for some_row in sorted_rows
                ]
            else:
                sorted_rows.remove(row)


def _fix_cols(cols: set, elements: Elems) -> None:
    """Keep a multi-col element only in its left-most column (tables.py:403-445)."""
    if sum(len(c) for c in cols) == len({i for c in cols for i in c}):
        return

    sorted_columns = sorted(cols, key=lambda c: _col_sort_key(c, elements))
    for i in elements:
        num_cols = sum(i in col for col in cols)
        if num_cols == 1:
            continue
        cols_with_element = [col for col in cols if i in col]
        sorted_cols_with_element = sorted(
            cols_with_element, key=lambda col: sorted_columns.index(col)
        )
        for col in sorted_cols_with_element[1:]:
            cols.remove(col)
            new_col = col.remove_element(i)
            if len(new_col):
                cols.add(new_col)
                sorted_columns = [
                    new_col if some_col == col else some_col
                    for some_col in sorted_columns
                ]
            else:
                sorted_columns.remove(col)


def _remove_duplicate_header_rows(table: List[List[Any]], doc) -> List[List[Any]]:
    """Drop rows equal to row 0 by (text, font) pairwise (tables.py:448-472)."""
    if len(table) <= 1:
        return table
    header = table[0]
    kept = [
        row
        for row in table[1:]
        if any(
            not _are_elements_equal(element, header[index], doc)
            for index, element in enumerate(row)
        )
    ]
    return [header] + kept


def _are_elements_equal(i: Optional[int], j: Optional[int], doc) -> bool:
    """Equal iff both None, or same (text, font) (tables.py:475-499)."""
    if i is None and j is None:
        return True
    if i is None or j is None:
        return False
    return doc.text_of(i) == doc.text_of(j) and doc.font[i] == doc.font[j]
