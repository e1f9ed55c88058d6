"""Per-document extraction recipes.

A recipe is ``Doc -> list[(kind, text, media_ref)]`` — the query that the
reference user would write as an ElementList method chain, executed here
per document inside the vectorized batch kernel.  The emitted list order
is the output span ``order`` (span-sequence equality key).

Recipes exercise the full operator stack:
  * ``default_recipe`` — ordered re-emission of all non-ignored elements
    (text stripped, media passed through): the span-equality baseline.
  * ``memo_recipe`` — the reference's simple-memo query
    (tests/test_doc_examples/test_simple_memo.py:22-57): text filter ->
    geometric join -> single-element extraction -> order op -> concat.
  * ``ordsum_recipe`` — the order-summary query (test_order_summary.py:16-71):
    font classify -> locate -> sections -> table grid -> header mapping.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Callable, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .doc import Doc, ElementBatch
from .layout import family_of
from .tables import add_header_to_table, extract_simple_table

OutSpan = Tuple[str, Optional[str], Optional[str]]  # kind, text, media_ref


def _default_arrow(kind, text, ref) -> Tuple[pa.Array, pa.Array, pa.Array]:
    """kind, text and media_ref columns (Arrow or numpy) -> the default
    recipe's output: kind, the stripped text (null for media) and the
    media_ref (null for non-media)."""
    kind, text, ref = (
        col.cast(pa.string()) if isinstance(col, pa.Array)
        else pa.array(col, type=pa.string())
        for col in (kind, text, ref)
    )
    media = pc.fill_null(pc.equal(kind, "media"), False)
    null = pa.scalar(None, pa.string())
    return kind, pc.if_else(media, null, text), pc.if_else(media, ref, null)


def default_columns(
    batches: Sequence[ElementBatch],
) -> Tuple[pa.Array, pa.Array, pa.Array]:
    """The default recipe's output as Arrow columns over the rows of
    ``batches``, one batch after another, each in input order.  One
    batch's columns are built once, from the Arrow kind and media_ref it
    came from when it has them; several batches (one per document on the
    PDF path) are concatenated first, so the columns are built once."""
    if len(batches) > 1:
        return _default_arrow(*(
            np.concatenate([b.columns[name] for b in batches])
            for name in ("kind", "text_stripped", "media_ref")
        ))
    batch = batches[0]
    if batch.output_columns is None:
        arrow = batch.arrow or {}
        batch.output_columns = _default_arrow(
            arrow.get("kind", batch.columns["kind"]),
            batch.columns["text_stripped"],
            arrow.get("media_ref", batch.columns["media_ref"]),
        )
    return batch.output_columns


class LiveRows(Sequence):
    """``default_recipe``'s value: a document's live (non-ignored)
    elements in idx order as ``(kind, text, media_ref)`` rows, held as
    positions into its batch's ``default_columns``.  The pack gathers
    every such document of a batch with one ``take`` per column; anything
    else reads it as the list of tuples."""

    __slots__ = ("batch", "rows", "_tuples")

    def __init__(self, doc: Doc):
        self.batch = doc._batch
        self.rows = doc._rows[~doc.ignored] if doc._any_ignored else doc._rows
        self._tuples = None

    def tuples(self) -> List[OutSpan]:
        if self._tuples is None:
            self._tuples = list(zip(*(
                col.take(self.rows).to_pylist()
                for col in default_columns([self.batch])
            )))
        return self._tuples

    def __len__(self) -> int:
        return len(self.rows)

    def __getitem__(self, key):
        return self.tuples()[key]

    def __eq__(self, other) -> bool:
        if isinstance(other, LiveRows):
            other = other.tuples()
        return self.tuples() == other if isinstance(other, list) else NotImplemented

    __hash__ = None

    def __repr__(self) -> str:
        return repr(self.tuples())


def default_recipe(doc: Doc) -> LiveRows:
    """Ordered re-emission of all non-ignored elements (text stripped,
    media passed through)."""
    return LiveRows(doc)


def memo_recipe(doc: Doc) -> List[OutSpan]:
    elements = doc.elements
    fields = {}
    for label in ("TO:", "FROM:", "DATE:", "SUBJECT:"):
        anchor = elements.filter_by_text_equal(label).extract_single_element()
        value = elements.to_the_right_of(anchor).extract_single_element()
        fields[label] = (anchor, doc.text_of(value))
    subject_anchor = fields["SUBJECT:"][0]
    subject_value = elements.to_the_right_of(subject_anchor).extract_single_element()
    content = elements.after(subject_value)
    content_text = " ".join(t for t in content.texts() if t is not None)
    out: List[OutSpan] = [
        ("text", f"{label} {text}", None) for label, (_, text) in fields.items()
    ]
    out.append(("text", content_text, None))
    return out


def ordsum_items_table(doc: Doc) -> Tuple[List[List[str]], int]:
    """The order summary's items grid as text: the "Items ordered:"
    section up to (not including) the "Totals:" sub-title, header and
    text fonts only.  Also returns the "Totals:" element, where the
    totals section starts."""
    elements = doc.elements
    sub_titles = elements.filter_by_font("sub_title")
    items_start = sub_titles.filter_by_text_equal(
        "Items ordered:"
    ).extract_single_element()
    totals_start = sub_titles.filter_by_text_equal("Totals:").extract_single_element()
    doc.sectioning.create_section(
        "items", items_start, totals_start, include_last_element=False
    )
    items = (
        elements.filter_by_section("items_0")
        .filter_by_fonts("table_header", "table_text")
    )
    return extract_simple_table(items, as_text=True), totals_start


def ordsum_recipe(doc: Doc) -> List[OutSpan]:
    elements = doc.elements
    items_table, totals_start = ordsum_items_table(doc)
    doc.sectioning.create_section("totals", totals_start, elements.last())

    out: List[OutSpan] = []
    for row in add_header_to_table(items_table):
        out.append(
            ("text", "|".join(f"{k}={v}" for k, v in row.items()), None)
        )
    totals = (
        elements.filter_by_section("totals_0")
        .filter_by_fonts("table_header", "table_text")
    )
    totals_table = extract_simple_table(totals, as_text=True)
    for label, value in totals_table:
        out.append(("text", f"{label} {value}", None))
    return out


def bigtable_recipe(doc: Doc) -> List[OutSpan]:
    """Full-table extraction over a giant grid (tables.py:141-254) —
    superlinear in elements: the pathological compute-skew recipe."""
    from .tables import extract_table

    table = extract_table(doc.elements, as_text=True)
    return [("text", "|".join(row), None) for row in table]


RECIPES: dict = {
    "memo": memo_recipe,
    "ordsum": ordsum_recipe,
    "bigtable": bigtable_recipe,
}


def recipe_for(doc_id: str) -> Callable[[Doc], List[OutSpan]]:
    return RECIPES.get(family_of(doc_id), default_recipe)
