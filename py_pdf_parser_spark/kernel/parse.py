"""spans -> Doc: the per-document parse step.

The distributed analogue of the reference's ``load()`` (loaders.py:44-102):
the document's span stream becomes ordered, classified elements.  Runs
inside ``mapInArrow`` over Arrow batches (see ``pipeline.py``); this module
is pure numpy/pandas and unit-testable without Spark.

Text spans become text elements; media spans become pass-through media
elements (the ``la_params={"all_texts": True}`` analogue, loaders.py:80-86)
which are ordered by the same geometric key but ignored by text filters.
"""

from __future__ import annotations

from typing import (
    Dict, Iterable, List, Mapping, NamedTuple, Optional, Sequence, Union,
)

import numpy as np

from .doc import Doc, ElementBatch
from .layout import FAMILY_CONFIG, LAYOUT_BUILDERS, doc_num, family_of

_LAYOUT_COLUMNS = {
    "page": np.int64, "x0": np.float64, "x1": np.float64,
    "y0": np.float64, "y1": np.float64, "font_name": object, "font_size": object,
}


class SpanBatch(NamedTuple):
    """A batch of span documents, laid out, ordered and stripped at once."""

    elements: ElementBatch
    errors: Dict[int, Exception]  # document position -> why it has no Doc
    # document position -> (Doc settings, page width, page height)
    settings: List[Optional[tuple]]


def _rows_of(bounds: np.ndarray, docs: Sequence[int]) -> np.ndarray:
    """The flat span rows of documents ``docs``, in document order."""
    docs = np.asarray(docs, dtype=np.int64)
    starts, lengths = bounds[docs], bounds[docs + 1] - bounds[docs]
    shift = starts - (np.cumsum(lengths) - lengths)
    return np.arange(lengths.sum(), dtype=np.int64) + np.repeat(shift, lengths)


def parse_batch(
    doc_ids: Sequence[str],
    bounds,
    kinds,
    texts,
    refs,
    offsets,
    config: Optional[dict] = None,
    errors: Optional[Dict[int, Exception]] = None,
    arrow: Optional[dict] = None,
) -> SpanBatch:
    """Lay out, order and strip a whole batch of documents at once.

    Document ``d`` owns spans ``bounds[d]:bounds[d+1]`` of the flat span
    columns.  Each family's layout runs once over all of the batch's spans
    of that family (``doc_num`` per span); a family whose batch layout
    raises is laid out again per document, so only the bad documents fail.
    ``errors`` (document position -> exception) marks documents already
    known to be bad; the result adds a null span offset, an unknown
    family or doc number and a layout failure, each for its own document.
    The ``config`` element ordering (default ``L2R_T2B``) orders the batch.
    """
    errors = dict(errors or {})
    bounds = np.asarray(bounds, dtype=np.int64)
    n_docs = len(doc_ids)
    offsets = np.asarray(offsets)
    # Arrow hands a column with nulls over as float64 with NaN (and one
    # without as int64), so only a float column needs the NaN scan.
    if offsets.dtype.kind == "f":
        nan = np.isnan(offsets)
        if nan.any():
            hit = np.searchsorted(bounds, np.flatnonzero(nan), side="right") - 1
            for pos in np.unique(hit).tolist():
                errors.setdefault(pos, ValueError("null span offset"))
            offsets = np.where(nan, 0, offsets)
    offsets = offsets.astype(np.int64, copy=False)

    families: Dict[str, List[int]] = {}
    nums = np.zeros(n_docs, dtype=np.int64)
    for pos, doc_id in enumerate(doc_ids):
        if pos in errors:
            continue
        try:
            family = family_of(doc_id)
            LAYOUT_BUILDERS[family]  # KeyError: an unknown family
            nums[pos] = doc_num(doc_id)
        except Exception as err:  # any bad document, see pipeline.py
            errors[pos] = err
            continue
        families.setdefault(family, []).append(pos)

    n = len(offsets)
    layout = {name: np.zeros(n, dtype=t) for name, t in _LAYOUT_COLUMNS.items()}
    settings: List[Optional[tuple]] = [None] * n_docs
    span_num = np.repeat(nums, np.diff(bounds))
    for family, docs in families.items():
        build = LAYOUT_BUILDERS[family]
        try:
            rows = _rows_of(bounds, docs)
            lay = build(span_num[rows], offsets[rows])
        except Exception:
            good = []
            for pos in docs:
                try:
                    build(int(nums[pos]), offsets[bounds[pos]:bounds[pos + 1]])
                    good.append(pos)
                except Exception as err:
                    errors[pos] = err
            docs = good
            rows = _rows_of(bounds, docs)
            lay = build(span_num[rows], offsets[rows])
        for name, col in layout.items():
            col[rows] = lay[name]
        family_settings = (
            {**FAMILY_CONFIG.get(family, {}), **(config or {})},
            lay["page_width"], lay["page_height"],
        )
        for pos in docs:
            settings[pos] = family_settings

    elements = ElementBatch(
        bounds,
        page=layout["page"], x0=layout["x0"], x1=layout["x1"],
        y0=layout["y0"], y1=layout["y1"],
        text=texts, kind=kinds, media_ref=refs, offset=offsets,
        font_name=layout["font_name"], font_size=layout["font_size"],
        ordering=(config or {}).get("element_ordering", "L2R_T2B"),
        arrow=arrow,
    )
    return SpanBatch(elements, errors, settings)


def doc_from_arrays(doc_id: str, batch: SpanBatch, pos: int) -> Doc:
    """Document ``pos`` of a parsed batch, as slices of the batch's
    arrays; raises the document's own error if it could not be laid out.

    ``char_fonts_from_text`` builds a synthetic per-character payload from
    the span text — the sandbox stand-in for pdfminer's per-LTChar
    fontname/height stream (components.py:174-182,199-207): deterministic
    and SQL-reproducible so the font-MODE path (Counter semantics) can be
    oracle-verified end to end.  Built FLAT (one utf-32 decode of the
    concatenated text, vectorized code math) — values are
    [f"cf{ord(c) % 3}"] and [8.0 + (ord(c) % 5) * 0.5] per char.
    """
    err = batch.errors.get(pos)
    if err is not None:
        raise err
    cfg, page_width, page_height = batch.settings[pos]
    if "char_fonts_from_text" in cfg:
        cfg = dict(cfg)
        if cfg.pop("char_fonts_from_text"):
            lo, hi = batch.elements.bounds[pos], batch.elements.bounds[pos + 1]
            texts = batch.elements.columns["text_raw"][lo:hi]
            lengths = np.fromiter(
                (len(t) if isinstance(t, str) else 0 for t in texts),
                dtype=np.int64,
                count=len(texts),
            )
            joined = "".join(t for t in texts if isinstance(t, str))
            ords = np.frombuffer(
                joined.encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            cfg["char_fonts"] = (ords % 3, lengths, ["cf0", "cf1", "cf2"])
            cfg["char_sizes"] = (8.0 + (ords % 5) * 0.5, lengths)
    return Doc.from_batch(
        doc_id, batch.elements, pos,
        page_width=page_width, page_height=page_height, **cfg,
    )


def doc_from_spans(
    doc_id: str,
    spans: Iterable[Union[Mapping, Sequence]],
    config: Optional[dict] = None,
) -> Doc:
    """Build an ordered Doc from one input row's spans array.

    ``spans`` items are (kind, text, media_ref, offset) structs — dicts or
    sequences in that field order (type checked once, not per span).
    """
    spans = list(spans)
    if spans and isinstance(spans[0], Mapping):
        kinds = [s["kind"] for s in spans]
        texts = [s["text"] for s in spans]
        refs = [s["media_ref"] for s in spans]
        offsets = [s["offset"] for s in spans]
    else:
        kinds, texts, refs, offsets = (
            list(col) for col in zip(*spans)
        ) if spans else ([], [], [], [])
    batch = parse_batch(
        [doc_id], [0, len(spans)],
        np.asarray(kinds, dtype=object),
        np.asarray(texts, dtype=object),
        np.asarray(refs, dtype=object),
        np.asarray(offsets, dtype=np.int64),
        config=config,
    )
    return doc_from_arrays(doc_id, batch, 0)
