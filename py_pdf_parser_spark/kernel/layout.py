"""Deterministic synthetic layout — the stand-in for pdfminer's parse.

The pipeline's input table has exactly the hinted shape
``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)`` — no
layout columns.  In a real deployment the byte stream would be layout-parsed
(pdfminer's role in the reference, loaders.py:44-102); in this sandbox the
layout of every synthetic document is a pure function of
``(doc_id, offset)``, shared between the corpus synthesizer
(``synth.py``), the parse kernel (``parse.py``) and — for the ``ora``
family — the DuckDB oracle SQL in ``__spark_entry__.py``, which re-derives
the same layout arithmetically so Spark results can be verified
independently.

Families (doc_id prefix decides):
  * ``ora-``  — SQL-mirrored arithmetic layout (the oracle corpus).
  * ``memo-`` — the reference's simple-memo document
                (tests/test_doc_examples/test_simple_memo.py:22-82).
  * ``ordsum-`` — the reference's order-summary document: font classes,
                sections, two tables (test_order_summary.py:16-127).
  * ``media-`` — interleaved text+media spans (all_texts analogue,
                loaders.py:80-86).
  * ``bigdoc-`` — pathological many-page document (skew).
  * ``bigmedia-`` — pathological giant-media-span document (skew).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np

Span = Tuple[str, Optional[str], Optional[str], int]  # kind, text, media_ref, offset


def family_of(doc_id: str) -> str:
    return doc_id.split("-", 1)[0]


def doc_num(doc_id: str) -> int:
    return int(doc_id.split("-", 1)[1])


# ---------------------------------------------------------------------------
# ora family — layout arithmetic mirrored 1:1 in DuckDB SQL (see
# __spark_entry__.ORA_ELEMENTS_SQL).  All values are exact in float64.
# ---------------------------------------------------------------------------

def ora_n_spans(i: int) -> int:
    return 12 + (i % 5) * 4  # 12..28


def ora_spans(i: int) -> List[Span]:
    n = ora_n_spans(i)
    spans: List[Span] = []
    for o in range(n):
        if o % 7 == 3:
            spans.append(("media", None, f"m://{i}/{o}", o))
        elif o == 0:
            spans.append(("text", "HDR:", None, o))
        elif o == 1:
            spans.append(("text", f"val{i % 100}", None, o))
        elif o == n - 1:
            spans.append(("text", "END:", None, o))
        else:
            spans.append(("text", f"tok{(o * 3 + i) % 40}", None, o))
    return spans


_ORA_FONT_NAMES = np.asarray(["f0", "f1", "f2"], dtype=object)


def ora_layout(i, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    """``i`` is the doc number, or one per span when a batch of documents
    is laid out together (``parse.parse_batch``)."""
    o = offsets.astype(np.int64)
    r = (o % 6) // 3
    c = (o % 6) % 3
    x0 = (5 + c * 30).astype(np.float64)
    x1 = x0 + 20 + (o % 7)
    y0 = (70 - r * 40 + (i % 3)).astype(np.float64)
    y1 = y0 + 8 + (o % 5)
    page = 1 + o // 6
    font_name = _ORA_FONT_NAMES[(o + i) % 3]
    # int64 sizes: str(np.int64(8)) == "8", matching python int repr in the
    # font string (Doc._font_size_repr).
    font_size = 8 + ((o * (i % 11)) % 4)
    return dict(
        page=page, x0=x0, x1=x1, y0=y0, y1=y1,
        font_name=font_name, font_size=font_size,
        page_width=100.0, page_height=100.0,
    )


# ---------------------------------------------------------------------------
# spec families (memo, ordsum, gridmerge, colmerge, duphdr): fixed geometry,
# one spec row per span offset.  Each spec becomes numpy columns once, at
# import, so a layout is one gather per column for any number of spans.
# ---------------------------------------------------------------------------

def _spec_columns(spec, page=None, font_name=None, font_size=None):
    """Spec rows ``(text, x0, x1, y0, y1, ...)`` -> layout columns."""
    n = len(spec)
    _, x0, x1, y0, y1 = list(zip(*spec))[:5]
    return dict(
        page=np.asarray(page or [1] * n, dtype=np.int64),
        x0=np.asarray(x0, dtype=np.float64),
        x1=np.asarray(x1, dtype=np.float64),
        y0=np.asarray(y0, dtype=np.float64),
        y1=np.asarray(y1, dtype=np.float64),
        font_name=np.asarray(font_name or ["fake_font"] * n, dtype=object),
        # object: sizes stay Python ints, as the font string expects.
        font_size=np.asarray(font_size or [10] * n, dtype=object),
    )


def _spec_layout(columns: Dict[str, np.ndarray], offsets) -> Dict[str, np.ndarray]:
    """The spec rows at ``offsets``, indexed like a Python list: a negative
    offset counts from the end, and one outside the spec raises
    ``IndexError``."""
    o = np.asarray(offsets, dtype=np.int64)
    n = len(columns["x0"])
    if ((o < -n) | (o >= n)).any():
        raise IndexError("list index out of range")
    out = {name: col[o] for name, col in columns.items()}
    out.update(page_width=100.0, page_height=100.0)
    return out


# ---------------------------------------------------------------------------
# memo family — geometry from the reference's simple_memo example.
# ---------------------------------------------------------------------------

_MEMO_SPEC = [
    # (text, x0, x1, y0, y1)
    ("TO:", 10, 20, 90, 95),
    ("Awesome Person", 30, 60, 90, 95),
    ("FROM:", 10, 22, 80, 85),
    ("Email Sender", 30, 60, 80, 85),
    ("DATE:", 10, 21, 70, 75),
    ("1st January 2020", 30, 60, 70, 75),
    ("SUBJECT:", 10, 25, 60, 65),
    ("A new PDF Parsing tool", 30, 60, 60, 65),
    (
        "There is a new PDF parsing tool available, called py-pdf-parser - "
        "you should all check it out!",
        10, 90, 40, 50,
    ),
]


def memo_spans(i: int) -> List[Span]:
    return [("text", row[0], None, o) for o, row in enumerate(_MEMO_SPEC)]


_MEMO_COLUMNS = _spec_columns(_MEMO_SPEC)


def memo_layout(i, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _spec_layout(_MEMO_COLUMNS, offsets)


# ---------------------------------------------------------------------------
# ordsum family — font classes + sections + two tables.
# ---------------------------------------------------------------------------

def _ordsum_spec():
    # (text, x0, x1, y0, y1, font_name, font_size)
    spec = [
        ("Order Summary:", 5, 40, 95, 99, "FontB", 12),
        ("Items ordered:", 5, 35, 88, 91, "FontB", 10),
    ]
    cols_x = [5, 30, 55, 80]
    header = ["Item", "Unit Cost", "Quantity", "Cost"]
    rows = [
        ("Apple", "1", "10", "10"),
        ("Banana", "2", "5", "10"),
        ("Cherry", "3", "30", "90"),
        ("Date", "4", "3", "12"),
    ]
    y = 80
    for cx, h in zip(cols_x, header):
        spec.append((h, cx, cx + 15, y, y + 3, "FontB", 8))
    for row in rows:
        y -= 5
        for cx, cell in zip(cols_x, row):
            spec.append((cell, cx, cx + 15, y, y + 3, "Font", 8))
    spec.append(("Totals:", 5, 25, 50, 53, "FontB", 10))
    totals = [("Subtotal:", "122"), ("Tax:", "12"), ("Shipping:", "8"), ("Total:", "142")]
    y = 44
    for label, value in totals:
        spec.append((label, 5, 20, y, y + 3, "FontB", 8))
        spec.append((value, 30, 45, y, y + 3, "Font", 8))
        y -= 4
    spec.append(("Thank you for your business!", 5, 60, 20, 23, "Font", 9))
    return spec


_ORDSUM_SPEC = _ordsum_spec()

ORDSUM_FONT_MAPPING = {
    "FontB,12": "title",
    "FontB,10": "sub_title",
    "FontB,8": "table_header",
    "Font,8": "table_text",
    "Font,9": "text",
}


def ordsum_spans(i: int) -> List[Span]:
    return [("text", row[0], None, o) for o, row in enumerate(_ORDSUM_SPEC)]


_ORDSUM_COLUMNS = _spec_columns(
    _ORDSUM_SPEC,
    font_name=[r[5] for r in _ORDSUM_SPEC],
    font_size=[r[6] for r in _ORDSUM_SPEC],
)


def ordsum_layout(i, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _spec_layout(_ORDSUM_COLUMNS, offsets)


# ---------------------------------------------------------------------------
# gridmerge family — element spanning multiple rows (tables.py:350-356
# diagram); exercises extract_table(fix_element_in_multiple_rows=True).
# ---------------------------------------------------------------------------

_GRIDMERGE_SPEC = [
    # (text, x0, x1, y0, y1): B spans both rows.
    ("A", 0, 5, 10, 15),
    ("B", 6, 10, 4, 14),
    ("C", 0, 5, 4, 8),
]


def gridmerge_spans(i: int) -> List[Span]:
    return [("text", row[0], None, o) for o, row in enumerate(_GRIDMERGE_SPEC)]


_GRIDMERGE_COLUMNS = _spec_columns(_GRIDMERGE_SPEC)


def gridmerge_layout(i, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _spec_layout(_GRIDMERGE_COLUMNS, offsets)


# ---------------------------------------------------------------------------
# colmerge family — element spanning multiple COLUMNS (the transpose of
# gridmerge); geometry from the reference's own fix_cols case
# (tests/test_tables.py:843-875): a full-width element above a 2-column
# row.  Without fix_element_in_multiple_cols extract_table must raise
# TableExtractionError; with it the wide element stays in its left-most
# column only (tables.py:403-445).
# ---------------------------------------------------------------------------

_COLMERGE_SPEC = [
    # (text, x0, x1, y0, y1): "wide" spans both columns.
    ("wide", 0, 10, 6, 10),
    ("left", 0, 5, 0, 5),
    ("right", 6, 10, 0, 5),
]


def colmerge_spans(i: int) -> List[Span]:
    return [("text", row[0], None, o) for o, row in enumerate(_COLMERGE_SPEC)]


_COLMERGE_COLUMNS = _spec_columns(_COLMERGE_SPEC)


def colmerge_layout(i, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _spec_layout(_COLMERGE_COLUMNS, offsets)


# ---------------------------------------------------------------------------
# media family — interleaved text+media, stacked layout.
# ---------------------------------------------------------------------------

def media_n_spans(i: int) -> int:
    return 16 + (i % 3) * 8


def media_spans(i: int) -> List[Span]:
    spans: List[Span] = []
    for o in range(media_n_spans(i)):
        if o % 3 == 2:
            spans.append(("media", None, f"m://{i}/{o}", o))
        else:
            spans.append(("text", f"media-doc text {o} of {i}", None, o))
    return spans


def _stack_layout(offsets: np.ndarray, per_page: int = 8) -> Dict[str, np.ndarray]:
    o = offsets.astype(np.int64)
    page = 1 + o // per_page
    y0 = (90 - (o % per_page) * 10).astype(np.float64)
    return dict(
        page=page,
        x0=np.full(len(o), 10.0), x1=np.full(len(o), 40.0),
        y0=y0, y1=y0 + 6,
        font_name=np.asarray(["fake_font"] * len(o), dtype=object),
        font_size=[10] * len(o),
        page_width=100.0, page_height=100.0,
    )


def media_layout(i: int, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _stack_layout(offsets, per_page=8)


# ---------------------------------------------------------------------------
# pathological families (skew) — BASELINE.json north_star.
# ---------------------------------------------------------------------------

BIGDOC_PAGES = 1600  # 3 spans/page -> 4800 spans/doc (~300x the avg doc)


def bigdoc_spans(i: int) -> List[Span]:
    return [
        ("text", f"page {o // 3} line {o % 3}", None, o)
        for o in range(BIGDOC_PAGES * 3)
    ]


def bigdoc_layout(i: int, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    o = offsets.astype(np.int64)
    page = 1 + o // 3
    y0 = (80 - (o % 3) * 20).astype(np.float64)
    return dict(
        page=page,
        x0=np.full(len(o), 10.0), x1=np.full(len(o), 50.0),
        y0=y0, y1=y0 + 10,
        font_name=np.asarray(["fake_font"] * len(o), dtype=object),
        font_size=[10] * len(o),
        page_width=100.0, page_height=100.0,
    )


BIGMEDIA_N = 600


def bigmedia_spans(i: int) -> List[Span]:
    spans: List[Span] = []
    for o in range(BIGMEDIA_N):
        if o % 5 == 0:
            spans.append(("text", f"caption {o}", None, o))
        else:
            # Giant media payload ref — skews span bytes, not span count.
            spans.append(("media", None, f"m://{i}/{o}/" + "x" * 512, o))
    return spans


def bigmedia_layout(i: int, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _stack_layout(offsets, per_page=10)


# ---------------------------------------------------------------------------
# bigtable family — pathological COMPUTE skew: a giant table whose
# extraction recipe (extract_table) is superlinear in elements, so the
# doc costs ~100x its bytes.  Byte-bounded scan splits cannot bound this
# task time (unlike bigdoc's linear re-emission) — the case that needs
# doc-level rebalancing.
# ---------------------------------------------------------------------------

BIGTABLE_ROWS = 500
BIGTABLE_COLS = 6


def bigtable_spans(i: int) -> List[Span]:
    return [
        ("text", f"r{o // BIGTABLE_COLS}c{o % BIGTABLE_COLS}", None, o)
        for o in range(BIGTABLE_ROWS * BIGTABLE_COLS)
    ]


def bigtable_layout(i: int, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    o = offsets.astype(np.int64)
    r = o // BIGTABLE_COLS
    c = o % BIGTABLE_COLS
    x0 = (c * 15).astype(np.float64)
    y0 = ((BIGTABLE_ROWS - r) * 3).astype(np.float64)
    n = len(o)
    return dict(
        page=np.ones(n, dtype=np.int64),
        x0=x0, x1=x0 + 10, y0=y0, y1=y0 + 2,
        font_name=np.asarray(["fake_font"] * n, dtype=object),
        font_size=[10] * n,
        page_width=100.0, page_height=float(BIGTABLE_ROWS * 3 + 10),
    )


# ---------------------------------------------------------------------------
# duphdr family — a 2-page table whose header row repeats on page 2
# (the multi-page-table case remove_duplicate_header_rows targets,
# tables.py:448-499).
# ---------------------------------------------------------------------------

_DUPHDR_SPEC = [
    # (text, x0, x1, y0, y1, page)
    ("H1", 5, 40, 80, 88, 1),
    ("H2", 55, 90, 80, 88, 1),
    ("a", 5, 40, 60, 68, 1),
    ("b", 55, 90, 60, 68, 1),
    ("H1", 5, 40, 80, 88, 2),
    ("H2", 55, 90, 80, 88, 2),
    ("c", 5, 40, 60, 68, 2),
    ("d", 55, 90, 60, 68, 2),
]


def duphdr_spans(i: int) -> List[Span]:
    return [("text", row[0], None, o) for o, row in enumerate(_DUPHDR_SPEC)]


_DUPHDR_COLUMNS = _spec_columns(
    _DUPHDR_SPEC, page=[r[5] for r in _DUPHDR_SPEC]
)


def duphdr_layout(i, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return _spec_layout(_DUPHDR_COLUMNS, offsets)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

SPAN_BUILDERS = {
    "bigtable": bigtable_spans,
    "duphdr": duphdr_spans,
    "ora": ora_spans,
    "memo": memo_spans,
    "ordsum": ordsum_spans,
    "gridmerge": gridmerge_spans,
    "colmerge": colmerge_spans,
    "media": media_spans,
    "bigdoc": bigdoc_spans,
    "bigmedia": bigmedia_spans,
}

LAYOUT_BUILDERS = {
    "bigtable": bigtable_layout,
    "duphdr": duphdr_layout,
    "ora": ora_layout,
    "memo": memo_layout,
    "ordsum": ordsum_layout,
    "gridmerge": gridmerge_layout,
    "colmerge": colmerge_layout,
    "media": media_layout,
    "bigdoc": bigdoc_layout,
    "bigmedia": bigmedia_layout,
}

# Per-family PDFDocument config (components.py:386-397 analogue).
FAMILY_CONFIG: Dict[str, dict] = {
    "ordsum": {"font_mapping": ORDSUM_FONT_MAPPING},
}


def spans_for(doc_id: str) -> List[Span]:
    return SPAN_BUILDERS[family_of(doc_id)](doc_num(doc_id))


def layout_for(doc_id: str, offsets: np.ndarray) -> Dict[str, np.ndarray]:
    return LAYOUT_BUILDERS[family_of(doc_id)](doc_num(doc_id), offsets)


def config_for(doc_id: str) -> dict:
    return FAMILY_CONFIG.get(family_of(doc_id), {})
