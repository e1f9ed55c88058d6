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

from typing import Iterable, Mapping, Optional, Sequence, Union

import numpy as np

from .doc import Doc
from .layout import config_for, layout_for


def doc_from_arrays(
    doc_id: str,
    kinds,
    texts,
    refs,
    offsets: np.ndarray,
    config: Optional[dict] = None,
) -> Doc:
    """Build an ordered Doc from pre-flattened span field arrays.

    The Arrow fast path: the pipeline flattens a whole batch's span
    structs into flat columns once (C-level) and hands per-document
    slices here — no per-span Python objects are created.  A null span
    offset raises ``ValueError``: Arrow hands a column with nulls over as
    float64 with NaN (and one without as int64), so only a float slice
    needs the NaN scan.
    """
    offsets = np.asarray(offsets)
    if offsets.dtype.kind == "f" and np.isnan(offsets).any():
        raise ValueError("null span offset")
    offsets_arr = offsets.astype(np.int64, copy=False)
    layout = layout_for(doc_id, offsets_arr)
    cfg = config_for(doc_id)
    if config:
        cfg = {**cfg, **config}
    cfg = dict(cfg)
    char_fonts = cfg.pop("char_fonts", None)
    char_sizes = cfg.pop("char_sizes", None)
    if cfg.pop("char_fonts_from_text", False):
        # Synthetic per-character payload derived from the span text —
        # the sandbox stand-in for pdfminer's per-LTChar fontname/height
        # stream (components.py:174-182,199-207): deterministic and
        # SQL-reproducible so the font-MODE path (Counter semantics) can
        # be oracle-verified end to end.  Built FLAT (one utf-32 decode
        # of the concatenated text, vectorized code math) — values are
        # [f"cf{ord(c) % 3}"] and [8.0 + (ord(c) % 5) * 0.5] per char.
        lengths = np.fromiter(
            (len(t) if isinstance(t, str) else 0 for t in texts),
            dtype=np.int64,
            count=len(texts),
        )
        joined = "".join(t for t in texts if isinstance(t, str))
        ords = np.frombuffer(
            joined.encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64)
        char_fonts = (ords % 3, lengths, ["cf0", "cf1", "cf2"])
        char_sizes = (8.0 + (ords % 5) * 0.5, lengths)
    return Doc(
        doc_id,
        page=layout["page"],
        x0=layout["x0"],
        x1=layout["x1"],
        y0=layout["y0"],
        y1=layout["y1"],
        text=texts,
        kind=kinds,
        media_ref=refs,
        offset=offsets_arr,
        font_name=layout["font_name"],
        font_size=layout["font_size"],
        char_fonts=char_fonts,
        char_sizes=char_sizes,
        page_width=layout["page_width"],
        page_height=layout["page_height"],
        **cfg,
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
    return doc_from_arrays(
        doc_id,
        np.asarray(kinds, dtype=object),
        np.asarray(texts, dtype=object),
        np.asarray(refs, dtype=object),
        np.asarray(offsets, dtype=np.int64),
        config=config,
    )
