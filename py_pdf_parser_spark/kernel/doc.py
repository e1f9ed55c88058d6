"""Per-document vectorized element model.

This is the in-kernel (inside a pandas/Arrow UDF batch) equivalent of the
reference's ``PDFDocument`` + ``PDFElement`` + ``ElementList``
(/root/reference/py_pdf_parser/components.py, filtering.py) — re-expressed
over numpy arrays for one document instead of a Python object graph.

Semantics intentionally preserved (see SURVEY.md §2, §7 "hard parts"):
  * element ordering: per-page stable sort by the preset key, pages in
    ascending page-number order; global ``idx`` assigned over the result
    (components.py:406-424, 30-43).  Stable ties keep input (offset) order.
  * ``font`` = ``f"{font_name},{round(font_size, precision)}"`` using
    *Python* round (half-to-even) and Python int/float repr, then mapped
    through ``font_mapping`` — regex mode tries ``re.match`` over mapping
    items in insertion order, first hit wins, with fall-through to the
    exact ``.get(font) or font`` lookup (components.py:213-238).
  * geometry predicates use closed intervals — touching counts
    (components.py:286-304).
  * directional operators shrink the probe box (``probe``) by
    ``tolerance`` capped at half the element's height/width
    (filtering.py:398,443,495,563,628,686).
  * every newly created element set re-drops ignored elements
    (filtering.py:95).
  * Python ``re.match`` (anchored, not fullmatch) and ``str.strip``
    (all unicode whitespace) semantics for text ops (filtering.py:198,
    components.py:318).

An ``Elems`` value is a sorted ``numpy.int64`` array of element indexes —
the columnar analogue of the reference's ``frozenset[int]``.
"""

from __future__ import annotations

import itertools
import re
from typing import Callable, Dict, List, Optional, Sequence, Union

import numpy as np

from ..errors import (
    ElementOutOfRangeError,
    InvalidCoordinatesError,
    MultipleElementsFoundError,
    NoElementFoundError,
    NoElementsOnPageError,
    PageNotFoundError,
)

# Ordering presets (components.py:30-43).  Keys are (primary, secondary)
# sort keys applied per page; stable sort keeps input order for ties.
ORDER_PRESETS = {
    "L2R_T2B": lambda x0, y0: (-y0, x0),
    "R2L_T2B": lambda x0, y0: (-y0, -x0),
    "T2B_L2R": lambda x0, y0: (x0, -y0),
    "T2B_R2L": lambda x0, y0: (-x0, -y0),
}

class _OrderView:
    """Lightweight per-element view handed to ``PageOrdering`` callables
    (the stand-in for the pdfminer objects the reference passes,
    components.py:357-361): geometry attributes + the span text."""

    __slots__ = ("x0", "x1", "y0", "y1", "text", "_i")

    def __init__(self, x0, x1, y0, y1, text, i):
        self.x0, self.x1, self.y0, self.y1 = x0, x1, y0, y1
        self.text = text
        self._i = i

    def get_text(self):
        return self.text


class PageOrdering:
    """Arbitrary per-page element ordering — the reference's callable
    form (components.py:409-413): a ``List -> List`` function called
    once per page with that page's elements (input order) and returning
    them in the desired order.  Unlike a geometric key function this
    expresses e.g. ``reversed`` or data-dependent column layouts.
    Elements the callable omits are dropped (reference semantics: the
    document is built from exactly what the callable returns).

    Use: ``Doc(..., element_ordering=PageOrdering(fn))`` or
    ``config={"element_ordering": PageOrdering(fn)}`` at parse level.
    """

    __slots__ = ("fn",)

    def __init__(self, fn: Callable[[list], list]):
        self.fn = fn


OrderingSpec = Union[
    str, Callable[[np.ndarray, np.ndarray], tuple], PageOrdering
]


def _check_box(x0, x1, y0, y1) -> None:
    if x1 < x0:
        raise InvalidCoordinatesError(f"x1 ({x1}) must be >= x0 ({x0})")
    if y1 < y0:
        raise InvalidCoordinatesError(f"y1 ({y1}) must be >= y0 ({y0})")


_INF = float("inf")


def probe(direction, anchor, width, height, tolerance, all_pages, least=min):
    """The probe of a directional operator (filtering.py:366-696) — the
    one definition the kernel, ``ElementFrame``, compat and the oracles'
    rule share.

    ``direction`` is ``"right"``, ``"left"``, ``"horizontal"``,
    ``"below"``, ``"above"`` or ``"vertical"``; ``anchor`` is the anchor
    element's ``(page, x0, x1, y0, y1)`` on a ``width`` x ``height`` page.
    Returns ``(box, pages)``: ``box = (x0, x1, y0, y1)`` on the anchor's
    page, and ``pages = (q_lo, q_hi)``, the pages probed over their full
    height (with ``all_pages``: the later pages below, the earlier ones
    above, every page vertically), or None.  The tolerance shrinks the
    box, capped at half the anchor's height or width
    (filtering.py:398,443,495,563,628,686).  An element is in the probe
    iff it lies partially within (closed intervals, components.py:286-304)
    the box on the anchor's page or the full height of a probed page.
    An inverted box — an anchor past the page edge — is no probe; each
    caller rejects it.

    Only ``+``, ``-``, ``/`` and ``least`` touch the operands, so the
    same code runs on Python numbers (``min``) and on Spark Columns
    (``F.least``).
    """
    p, x0, x1, y0, y1 = anchor
    if direction in ("right", "left", "horizontal"):
        t = least((y1 - y0) / 2, tolerance)
        if direction == "right":
            x0, x1 = x1, width
        elif direction == "left":
            x0, x1 = 0, x0
        else:
            x0, x1 = 0, width
        return (x0, x1, y0 + t, y1 - t), None
    t = least((x1 - x0) / 2, tolerance)
    x0, x1 = x0 + t, x1 - t
    if direction == "below":
        return (x0, x1, 0, y0), (p + 1, _INF) if all_pages else None
    if direction == "above":
        return (x0, x1, y1, height), (-_INF, p - 1) if all_pages else None
    return (x0, x1, 0, height), (-_INF, _INF) if all_pages else None


class BBox:
    """Axis-aligned rectangle, y increases upward (common.py:4-57)."""

    __slots__ = ("x0", "x1", "y0", "y1")

    def __init__(self, x0: float, x1: float, y0: float, y1: float):
        _check_box(x0, x1, y0, y1)
        self.x0, self.x1, self.y0, self.y1 = x0, x1, y0, y1

    @property
    def width(self) -> float:
        return self.x1 - self.x0

    @property
    def height(self) -> float:
        return self.y1 - self.y0

    def __repr__(self) -> str:
        return f"BBox(x0={self.x0}, x1={self.x1}, y0={self.y0}, y1={self.y1})"


def _python_format_size(value) -> str:
    """Format a rounded font size the way the reference's f-string does.

    ``round(10, 1)`` is the int 10 -> "10"; ``round(10.0, 1)`` -> "10.0".
    """
    return str(value)


def _mode_first_seen(values):
    """``Counter(values).most_common(1)[0][0]`` semantics
    (components.py:174-182,199-207): the most common value; ties broken
    by FIRST insertion order (Counter preserves first-seen order and
    ``nlargest``/``max`` return the earliest maximal item).

    Reference model only (differential tests); the batch path is
    :func:`_modes_first_seen_flat`."""
    counts: Dict = {}
    for v in values:
        counts[v] = counts.get(v, 0) + 1
    return max(counts.items(), key=lambda kv: kv[1])[0]


def _modes_first_seen_flat(values, lengths, codes=None, decode=None):
    """Vectorized per-group :func:`_mode_first_seen` over a FLAT payload.

    ``values``: the concatenated per-element char values (group g owns
    the slice ``[cum(lengths[:g]), cum(lengths[:g+1]))``).  Returns an
    object array of length ``len(lengths)`` holding each non-empty
    group's mode (``None`` for empty groups).  Tie-break matches
    Counter exactly: among max-count values, the one whose first
    occurrence in the group is earliest wins, and the returned object
    is that first-seen instance (Counter keeps the first-seen key).

    ``codes``/``decode``: optional pre-factorized form — ``codes`` are
    small non-negative ints and the winner is ``decode[code]``; skips
    the ``np.unique`` factorization (object-array sorts cost a Python
    compare per step, so callers that already know the alphabet, e.g.
    the synthetic char payload, pass codes directly).
    """
    lengths = np.asarray(lengths, dtype=np.int64)
    n_groups = len(lengths)
    modes = np.full(n_groups, None, dtype=object)
    if codes is None:
        values = np.asarray(values)
        if len(values) == 0:
            return modes
        uniq, codes = np.unique(values, return_inverse=True)
    else:
        codes = np.asarray(codes, dtype=np.int64)
        if len(codes) == 0:
            return modes
    group = np.repeat(np.arange(n_groups, dtype=np.int64), lengths)
    # Stable sort by (group, code): runs of one (group, code) pair stay
    # in flat-position order, so a run's first element IS the pair's
    # first occurrence within its group.
    order = np.lexsort((codes, group))
    g_sorted = group[order]
    c_sorted = codes[order]
    is_start = np.empty(len(order), dtype=bool)
    is_start[0] = True
    is_start[1:] = (g_sorted[1:] != g_sorted[:-1]) | (
        c_sorted[1:] != c_sorted[:-1]
    )
    starts = np.flatnonzero(is_start)
    counts = np.diff(np.append(starts, len(order)))
    first_pos = order[starts]
    pair_group = g_sorted[starts]
    # Winner per group = max count, tie -> earliest first occurrence:
    # sort pairs by (group, -count, first_pos) and take each group's
    # leading pair.
    sel = np.lexsort((first_pos, -counts, pair_group))
    lead = np.empty(len(sel), dtype=bool)
    lead[0] = True
    lead[1:] = pair_group[sel][1:] != pair_group[sel][:-1]
    winners = sel[lead]
    if decode is not None:
        won = np.asarray(decode, dtype=object)[c_sorted[starts][winners]]
    else:
        won = values[first_pos[winners]]
    modes[pair_group[winners]] = won
    return modes


def _flatten_payload(payload):
    """Normalize a per-char payload to flat form.

    Accepts a list-of-lists (one char-value list per element, input
    order), ``(flat_values, lengths)``, or ``(codes, lengths, decode)``
    — the latter two are the zero-copy forms the Arrow/synthetic parse
    paths produce.  Returns ``(lengths, mode_kwargs)`` for
    :func:`_modes_first_seen_flat`.
    """
    if isinstance(payload, tuple):
        if len(payload) == 3:
            codes, lengths, decode = payload
            return np.asarray(lengths, dtype=np.int64), {
                "values": None,
                "codes": codes,
                "decode": decode,
            }
        flat, lengths = payload
        return np.asarray(lengths, dtype=np.int64), {"values": flat}
    lengths = np.fromiter(
        (len(v) for v in payload), dtype=np.int64, count=len(payload)
    )
    flat = np.asarray(
        list(itertools.chain.from_iterable(payload)), dtype=object
    )
    return lengths, {"values": flat}


def _sorted_order(page, x0, y0, offset, ordering, doc_of=None) -> np.ndarray:
    """Element order for a preset name or key function: pages ascending,
    then the per-page key tuple, ties broken by input offset (stable,
    matches Python sorted).  With ``doc_of`` (each row's document) a whole
    batch is ordered at once, each document's rows kept together."""
    if callable(ordering):
        keys = ordering(x0, y0)
    else:
        try:
            keys = ORDER_PRESETS[ordering](x0, y0)
        except KeyError:
            raise ValueError(f"unknown element_ordering preset: {ordering}")
    # np.lexsort: last key is primary.
    lex_keys = (offset,) + tuple(np.asarray(k) for k in reversed(keys)) + (page,)
    if doc_of is not None:
        lex_keys += (doc_of,)
    return np.lexsort(lex_keys)


def _stack_rows(page, x0, x1, y0, y1) -> np.ndarray:
    """Geometry rows ``(page, -page, x1, -x0, y1, -y0)``: an element lies
    partially within a probe box (closed intervals, components.py:286-304)
    iff every row is >= the box's thresholds ``(p, -p, box.x0, -box.x1,
    box.y0, -box.y1)`` — one comparison for the page test and all four
    edges."""
    return np.array([page, -page, x1, -x0, y1, -y0], dtype=np.float64)


def _objects(values) -> np.ndarray:
    if isinstance(values, np.ndarray):
        return values
    return np.asarray(list(values), dtype=object)


def _strip_texts(texts: np.ndarray) -> np.ndarray:
    """Python ``str.strip`` (all unicode whitespace) over a flat text
    column; a null text stays null."""
    return np.asarray(
        [t.strip() if isinstance(t, str) else t for t in texts], dtype=object
    )


class _Gathered(dict):
    """``columns`` in ``order``, each column gathered on first use."""

    def __init__(self, columns: dict, order: np.ndarray):
        super().__init__(_rows=order)
        self.columns = columns

    def __missing__(self, name: str) -> np.ndarray:
        col = self[name] = self.columns[name][self["_rows"]]
        return col


class ElementBatch:
    """The element columns of a batch of documents, built once per batch.

    Document ``d`` owns input rows ``bounds[d]:bounds[d+1]`` of every
    column.  Text is stripped once over the flat text column, and a preset
    ordering is one stable ``np.lexsort`` over the batch with the document
    position as the most significant key, so a ``Doc`` is slices of the
    ordered columns (``Doc.from_batch``).  Callable orderings and
    ``PageOrdering`` run per document, in ``Doc``.  ``Doc(...)`` is the
    batch of one.

    ``arrow`` optionally holds the Arrow ``kind`` / ``media_ref`` columns
    the numpy ones came from, which the default recipe's output columns
    reuse (``recipes.default_columns``).
    """

    def __init__(
        self,
        bounds,
        *,
        page, x0, x1, y0, y1, text,
        kind=None,
        media_ref=None,
        offset=None,
        font_name=None,
        font_size=None,
        ordering: OrderingSpec = "L2R_T2B",
        arrow: Optional[Dict[str, object]] = None,
    ):
        bounds = np.asarray(bounds, dtype=np.int64)
        self.bounds = bounds.tolist()
        self.size = n = self.bounds[-1]
        x0, x1 = np.asarray(x0, dtype=np.float64), np.asarray(x1, dtype=np.float64)
        y0, y1 = np.asarray(y0, dtype=np.float64), np.asarray(y1, dtype=np.float64)
        text = _objects(text)
        self.columns = {
            "page": np.asarray(page, dtype=np.int64),
            "x0": x0, "x1": x1, "y0": y0, "y1": y1,
            "offset": (
                np.arange(n, dtype=np.int64) if offset is None
                else np.asarray(offset, dtype=np.int64)
            ),
            "text_raw": text,
            "text_stripped": _strip_texts(text),
            "kind": (
                np.full(n, "text", dtype=object) if kind is None
                else _objects(kind)
            ),
            "media_ref": (
                np.full(n, None, dtype=object) if media_ref is None
                else _objects(media_ref)
            ),
            "_rows": np.arange(n, dtype=np.int64),
        }
        self.font_name = None if font_name is None else _objects(font_name)
        self.font_size = (
            font_size if font_size is None or isinstance(font_size, np.ndarray)
            else np.asarray(list(font_size), dtype=object)
        )
        self.arrow = arrow
        self.output_columns = None  # recipes.default_columns, on first use
        doc_of = np.repeat(
            np.arange(len(bounds) - 1, dtype=np.int64), np.diff(bounds)
        )
        bad = (x1 < x0) | (y1 < y0)
        self.invalid = set(doc_of[bad].tolist()) if bad.any() else set()
        self.ordering = ordering
        self.order = self.ordered = None
        if isinstance(ordering, str) and ordering in ORDER_PRESETS:
            self.order = _sorted_order(
                self.columns["page"], x0, y0, self.columns["offset"],
                ordering, doc_of,
            )
            self.ordered = _Gathered(self.columns, self.order)
        self._stack = None

    @property
    def stack(self) -> np.ndarray:
        """``Doc.stack`` over the whole ordered batch, built on first use."""
        if self._stack is None:
            o = self.ordered
            self._stack = _stack_rows(o["page"], o["x0"], o["x1"], o["y0"], o["y1"])
        return self._stack


class Doc:
    """One document's elements as parallel numpy arrays, sorted by idx.

    Construction applies per-page ordering and assigns the global ``idx``
    exactly like ``PDFDocument.__init__`` (components.py:406-438).  The
    arrays are slices of an ``ElementBatch``, taken on first use: a batch
    of one here, the whole Arrow batch on the pipeline path
    (``Doc.from_batch``).
    """

    # Lazily computed, per document (class-level defaults keep the
    # per-document build to the columns it always needs).
    _font_name = None
    _font_size = None
    _font_size_repr_memo = None
    _font = None
    _tags = None
    _sectioning = None
    _page_numbers = None
    _page_set = None
    _geo = None
    _stack = None
    _fits_page = None
    _text_index = None
    _span = None  # slice of the batch's ordered rows, for a preset ordering
    _all = None
    _any_ignored = False

    def __init__(
        self,
        doc_id: str,
        *,
        page: Sequence[int],
        x0: Sequence[float],
        x1: Sequence[float],
        y0: Sequence[float],
        y1: Sequence[float],
        text: Sequence[Optional[str]],
        kind: Optional[Sequence[str]] = None,
        media_ref: Optional[Sequence[Optional[str]]] = None,
        offset: Optional[Sequence[int]] = None,
        font_name: Optional[Sequence[str]] = None,
        font_size: Optional[Sequence[float]] = None,
        char_fonts: Optional[Sequence[Sequence[str]]] = None,
        char_sizes: Optional[Sequence[Sequence[float]]] = None,
        page_width: Union[float, Dict[int, float]] = 100.0,
        page_height: Union[float, Dict[int, float]] = 100.0,
        font_mapping: Optional[Dict[str, str]] = None,
        font_mapping_is_regex: bool = False,
        regex_flags: int = 0,
        font_size_precision: int = 1,
        element_ordering: OrderingSpec = "L2R_T2B",
        all_page_numbers: Optional[Sequence[int]] = None,
    ):
        batch = ElementBatch(
            [0, len(x0)], page=page, x0=x0, x1=x1, y0=y0, y1=y1, text=text,
            kind=kind, media_ref=media_ref, offset=offset,
            font_name=font_name, font_size=font_size,
            ordering=element_ordering,
        )
        self._bind(
            doc_id, batch, 0,
            char_fonts=char_fonts, char_sizes=char_sizes,
            page_width=page_width, page_height=page_height,
            font_mapping=font_mapping,
            font_mapping_is_regex=font_mapping_is_regex,
            regex_flags=regex_flags, font_size_precision=font_size_precision,
            element_ordering=element_ordering,
            all_page_numbers=all_page_numbers,
        )

    @classmethod
    def from_batch(cls, doc_id: str, batch: ElementBatch, pos: int, **settings):
        """Document ``pos`` of ``batch``; ``settings`` are ``Doc``'s
        keyword settings (font mapping, ordering, page sizes, ...)."""
        doc = cls.__new__(cls)
        doc._bind(doc_id, batch, pos, **settings)
        return doc

    def _bind(
        self,
        doc_id: str,
        batch: ElementBatch,
        pos: int,
        *,
        char_fonts=None,
        char_sizes=None,
        page_width: Union[float, Dict[int, float]] = 100.0,
        page_height: Union[float, Dict[int, float]] = 100.0,
        font_mapping: Optional[Dict[str, str]] = None,
        font_mapping_is_regex: bool = False,
        regex_flags: int = 0,
        font_size_precision: int = 1,
        element_ordering: OrderingSpec = "L2R_T2B",
        all_page_numbers: Optional[Sequence[int]] = None,
    ) -> None:
        self.doc_id = doc_id
        if pos in batch.invalid:
            raise InvalidCoordinatesError(f"doc {doc_id}: box with x1<x0 or y1<y0")
        lo, hi = batch.bounds[pos], batch.bounds[pos + 1]
        self._batch = batch
        self._lo = lo
        if batch.order is not None and element_ordering == batch.ordering:
            self._columns = batch.ordered
            self._select = self._span = slice(lo, hi)
            self.n = hi - lo
        else:
            src = batch.columns
            self._columns = src
            self._select = lo + self._order_indexes(
                src["page"][lo:hi], src["x0"][lo:hi], src["y0"][lo:hi],
                src["offset"][lo:hi], element_ordering,
                x1=src["x1"][lo:hi], y1=src["y1"][lo:hi],
                text=src["text_raw"][lo:hi],
            )
            # a PageOrdering callable may DROP elements (reference: the
            # doc is built from exactly what the callable returns).
            self.n = len(self._select)
        # Optional per-character payloads (input order, list per element):
        # when present, font_name/font_size are the per-element MODE over
        # characters (components.py:160-211), not the layout's value.
        self._char_fonts_in = char_fonts
        self._char_sizes_in = char_sizes
        self._font_mapping = font_mapping or {}
        self._font_mapping_is_regex = font_mapping_is_regex
        self._regex_flags = regex_flags
        self._font_size_precision = font_size_precision
        # Page registry: width/height per page + NoElementsOnPageError for
        # declared-but-empty pages (components.py:426-429).  The scan is
        # only needed when pages are declared explicitly.
        self._page_width = page_width
        self._page_height = page_height
        if all_page_numbers is not None:
            present = set(self.page.tolist())
            for p in sorted(set(int(p) for p in all_page_numbers)):
                if p not in present:
                    raise NoElementsOnPageError(
                        f"No elements on page {p}, please exclude this page"
                    )

    def __getattr__(self, name: str):
        # Only reached for an attribute not set yet: the element columns
        # (page, x0, x1, y0, y1, offset, text_raw, text_stripped, kind,
        # media_ref, and _rows, each element's row in the batch columns)
        # are sliced from the batch on first use, since a default-recipe
        # document reads none but _rows; ``ignored`` starts all False.
        columns = self.__dict__.get("_columns")
        if columns is not None and name in self.__dict__["_batch"].columns:
            value = columns[name][self._select]
        elif name == "ignored" and columns is not None:
            value = np.zeros(self.n, dtype=bool)
        else:
            raise AttributeError(
                f"{type(self).__name__!r} object has no attribute {name!r}"
            )
        self.__dict__[name] = value
        return value

    # -- lazy memoized columns ------------------------------------------------

    @property
    def page_numbers(self) -> list:
        if self._page_numbers is None:
            self._page_numbers = sorted(set(self.page.tolist()))
        return self._page_numbers

    @property
    def _order(self) -> np.ndarray:
        """Each element's position in the document's input order."""
        return self._rows - self._lo

    @property
    def font_name(self) -> np.ndarray:
        if self._font_name is None:
            fn = self._batch.font_name
            if fn is None:
                base = np.full(self.n, "fake_font", dtype=object)
            else:
                base = fn[self._rows]
            cf = self._char_fonts_in
            if cf is not None:
                # Mode of per-char fontnames, first-seen tie-break
                # (components.py:174-182); empty char list (media spans)
                # falls back to the layout value.
                lengths, kwargs = _flatten_payload(cf)
                modes = _modes_first_seen_flat(lengths=lengths, **kwargs)
                order = self._order
                base = np.where(lengths[order] > 0, modes[order], base)
            self._font_name = base
        return self._font_name

    def _rounded_sizes(self) -> list:
        sizes = self._batch.font_size
        if sizes is None:
            sizes = [10] * self.n
        else:
            sizes = list(sizes[self._rows])
        cs = self._char_sizes_in
        if cs is not None:
            # Mode of RAW per-char heights first, THEN round the winner
            # (components.py:199-209) — not the mode of rounded values.
            lengths, kwargs = _flatten_payload(cs)
            modes = _modes_first_seen_flat(lengths=lengths, **kwargs)
            sizes = [
                modes[i] if lengths[i] else sizes[pos]
                for pos, i in enumerate(self._order.tolist())
            ]
        # Python round: half-to-even; int input stays int (load-bearing for
        # the font string, components.py:208-210,231).
        return [round(s, self._font_size_precision) for s in sizes]

    @property
    def font_size(self) -> np.ndarray:
        if self._font_size is None:
            self._font_size = np.asarray(
                [float(s) for s in self._rounded_sizes()], dtype=np.float64
            )
        return self._font_size

    @property
    def _font_size_repr(self) -> list:
        if self._font_size_repr_memo is None:
            self._font_size_repr_memo = [
                _python_format_size(s) for s in self._rounded_sizes()
            ]
        return self._font_size_repr_memo

    @property
    def font(self) -> np.ndarray:
        if self._font is None:
            self._font = self._map_fonts(
                self._font_mapping, self._font_mapping_is_regex, self._regex_flags
            )
        return self._font

    @property
    def tags(self) -> List[set]:
        if self._tags is None:
            self._tags = [set() for _ in range(self.n)]
        return self._tags

    @property
    def sectioning(self):
        if self._sectioning is None:
            from .sections import Sectioning  # local import avoids cycle

            self._sectioning = Sectioning(self)
        return self._sectioning

    # -- construction helpers -------------------------------------------------

    @staticmethod
    def _order_indexes(
        page, x0, y0, offset, ordering: OrderingSpec,
        x1=None, y1=None, text=None,
    ) -> np.ndarray:
        """Global element order: pages ascending, then per-page preset key,
        ties broken by input offset (stable, matches Python sorted).

        A ``PageOrdering`` spec instead runs an arbitrary per-page
        permutation callable (components.py:409-413): pages ascending,
        each page's elements handed over in input-offset order."""
        if isinstance(ordering, PageOrdering):
            in_order = np.lexsort((offset, page))
            pages_sorted = page[in_order]
            out: list = []
            start = 0
            m = len(in_order)
            for end in range(1, m + 1):
                if end == m or pages_sorted[end] != pages_sorted[start]:
                    views = [
                        _OrderView(
                            x0[j], x1[j], y0[j], y1[j],
                            None if text is None else text[j], int(j),
                        )
                        for j in in_order[start:end]
                    ]
                    out.extend(v._i for v in ordering.fn(views))
                    start = end
            return np.asarray(out, dtype=np.int64)
        return _sorted_order(page, x0, y0, offset, ordering)

    def _map_fonts(
        self, mapping: Dict[str, str], is_regex: bool, flags: int
    ) -> np.ndarray:
        """font strings after font_mapping (components.py:213-238)."""
        raw = [
            f"{name},{size_repr}"
            for name, size_repr in zip(self.font_name.tolist(), self._font_size_repr)
        ]
        out = list(raw)
        if mapping:
            todo = list(range(len(raw)))
            if is_regex:
                # Ordered passes: one compiled regex per mapping entry,
                # tried on the not-yet-matched rows (first hit wins).
                for pattern, mapped in mapping.items():
                    if not todo:
                        break
                    rx = re.compile(pattern, flags)
                    left = []
                    for j in todo:
                        if rx.match(raw[j]):
                            out[j] = mapped
                        else:
                            left.append(j)
                    todo = left
            # Exact lookup for unresolved rows; falsy mapped value falls
            # back to the raw font (``.get(font) or font``,
            # components.py:237).
            for j in todo:
                out[j] = mapping.get(raw[j]) or raw[j]
        return np.asarray(out, dtype=object)

    # -- page info ------------------------------------------------------------

    def _page_size(self, sizes, page_number):
        if self._page_set is None:
            self._page_set = frozenset(self.page_numbers)
        if page_number not in self._page_set:
            raise PageNotFoundError(f"Could not find page {page_number}")
        return sizes[page_number] if isinstance(sizes, dict) else sizes

    def page_width(self, page_number: int) -> float:
        return self._page_size(self._page_width, page_number)

    def page_height(self, page_number: int) -> float:
        return self._page_size(self._page_height, page_number)

    # -- geometry for the directional operators --------------------------------

    @property
    def geo(self) -> tuple:
        """The page, x0, x1, y0 and y1 columns as lists of Python numbers:
        the probe-box arithmetic runs on scalars, not numpy scalars."""
        if self._geo is None:
            self._geo = (
                self.page.tolist(), self.x0.tolist(), self.x1.tolist(),
                self.y0.tolist(), self.y1.tolist(),
            )
        return self._geo

    @property
    def stack(self) -> np.ndarray:
        """``_stack_rows`` of this document's elements."""
        if self._stack is None:
            if self._span is not None:
                self._stack = self._batch.stack[:, self._span]
            else:
                self._stack = _stack_rows(self.page, self.x0, self.x1, self.y0, self.y1)
        return self._stack

    @property
    def fits_page(self) -> np.ndarray:
        """Elements overlapping the full height of their own page — the
        probe on every other page with ``all_pages``."""
        if self._fits_page is None:
            ph = self._page_height
            if isinstance(ph, dict):
                ph = np.asarray([ph[p] for p in self.page.tolist()])
            self._fits_page = (self.y1 >= 0) & (self.y0 <= ph)
        return self._fits_page

    # -- element access ---------------------------------------------------

    @property
    def elements(self) -> "Elems":
        """All (non-ignored) elements (components.py:444-452)."""
        if self._all is None:
            self._all = np.arange(self.n, dtype=np.int64)
            self._all.setflags(write=False)
        return Elems(self, self._all, _presorted=True)

    def fonts(self) -> set:
        """Distinct fonts over non-ignored elements (components.py:464-472)."""
        return set(self.font[~self.ignored])

    def bbox(self, i: int) -> BBox:
        return BBox(self.x0[i], self.x1[i], self.y0[i], self.y1[i])

    def text_of(self, i: int, stripped: bool = True) -> Optional[str]:
        return self.text_stripped[i] if stripped else self.text_raw[i]

    def add_tag(self, i: int, tag: str) -> None:
        self.tags[i].add(tag)

    def ignore(self, i: int) -> None:
        self.ignored[i] = True
        self._any_ignored = True

    def _indexes_of_text(self, stripped: bool) -> dict:
        """text -> ascending element indexes, over the whole document."""
        if self._text_index is None:
            self._text_index = {}
        index = self._text_index.get(stripped)
        if index is None:
            index = self._text_index[stripped] = {}
            column = self.text_stripped if stripped else self.text_raw
            for i, t in enumerate(column.tolist()):
                index.setdefault(t, []).append(i)
        return index


def _probe_limits(doc, how, anchor, tolerance, all_pages):
    """``probe`` from an ``anchor`` element ``(page, x0, x1, y0, y1)`` as
    thresholds against ``Doc.stack`` (an element is in a box iff each of
    its stack rows is >= the threshold): ``(p, -p, x0, -x1, y0, -y1)``
    for the box on the anchor's page, then ``(q_lo, -q_hi, x0, -x1)`` for
    the pages probed over their full height (``Doc.fits_page``).  ``inf``
    as a box's page or a range's first page leaves it out; a range over
    the anchor's own page leaves the box out too, as only
    ``vertically_in_line_with``'s does and its box is the full height.
    An inverted box raises ``InvalidCoordinatesError``."""
    p = anchor[0]
    (x0, x1, y0, y1), pages = probe(
        how, anchor, doc.page_width(p), doc.page_height(p), tolerance, all_pages
    )
    _check_box(x0, x1, y0, y1)
    if pages is None:
        return (p, -p, x0, -x1, y0, -y1, _INF, _INF, x0, -x1)
    q_lo, q_hi = pages
    if q_lo <= p <= q_hi:
        return (_INF,) * 6 + (q_lo, -q_hi, x0, -x1)
    return (p, -p, x0, -x1, y0, -y1, q_lo, -q_hi, x0, -x1)


class Elems:
    """Sorted index array over one Doc — the reference's ElementList.

    Newly-ignored elements are dropped at construction (filtering.py:95).
    Hashable/immutable so table extraction can use sets of rows/columns.
    """

    __slots__ = ("doc", "idx", "_stack")

    def __init__(self, doc: Doc, idx: np.ndarray, _presorted: bool = False):
        arr = np.asarray(idx, dtype=np.int64)
        if not _presorted:
            arr = np.unique(arr)
        if doc._any_ignored:
            live = ~doc.ignored[arr]
            if not live.all():
                arr = arr[live]
        self.doc = doc
        self.idx = arr
        self.idx.setflags(write=False)
        self._stack = None

    # -- internals ----------------------------------------------------------

    def _wrap(self, idx: np.ndarray) -> "Elems":
        return Elems(self.doc, idx)

    def _mask_to_elems(self, mask_over_self: np.ndarray) -> "Elems":
        return Elems(self.doc, self.idx[mask_over_self], _presorted=True)

    # -- set protocol (filtering.py:1024-1100) -------------------------------

    def __len__(self) -> int:
        return len(self.idx)

    def __contains__(self, i: int) -> bool:
        pos = np.searchsorted(self.idx, i)
        return pos < len(self.idx) and self.idx[pos] == i

    def __iter__(self):
        return iter(self.idx.tolist())

    def __eq__(self, other) -> bool:
        if not isinstance(other, Elems):
            raise NotImplementedError(f"Can't compare Elems with {type(other)}")
        return self.doc is other.doc and np.array_equal(self.idx, other.idx)

    def __hash__(self) -> int:
        return hash((id(self.doc), self.idx.tobytes()))

    # self.idx is invariantly sorted-unique, so every set op below may
    # assume uniqueness and hand its (sorted) result straight back via
    # _presorted — skipping numpy's internal re-sort/re-unique passes.
    # The ignored-drop in __init__ still applies (filtering.py:95).

    def __or__(self, other: "Elems") -> "Elems":
        return Elems(
            self.doc, np.union1d(self.idx, other.idx), _presorted=True
        )

    def __and__(self, other: "Elems") -> "Elems":
        return Elems(
            self.doc,
            np.intersect1d(self.idx, other.idx, assume_unique=True),
            _presorted=True,
        )

    def __sub__(self, other: "Elems") -> "Elems":
        return Elems(
            self.doc,
            np.setdiff1d(self.idx, other.idx, assume_unique=True),
            _presorted=True,
        )

    def __xor__(self, other: "Elems") -> "Elems":
        return Elems(
            self.doc,
            np.setxor1d(self.idx, other.idx, assume_unique=True),
            _presorted=True,
        )

    def __getitem__(self, key):
        if isinstance(key, slice):
            return self._wrap(self.idx[key])
        return int(self.idx[key])  # IndexError propagates like the reference

    def add_element(self, i: int) -> "Elems":
        return self._wrap(np.append(self.idx, i))

    def add_elements(self, *indexes: int) -> "Elems":
        return self._wrap(np.append(self.idx, np.asarray(indexes, dtype=np.int64)))

    def remove_element(self, i: int) -> "Elems":
        return self._mask_to_elems(self.idx != i)

    def remove_elements(self, *indexes: int) -> "Elems":
        return self._mask_to_elems(~np.isin(self.idx, list(indexes)))

    # -- scalar extraction (filtering.py:789-811,980-1010) -------------------

    def first(self) -> int:
        if len(self.idx) == 0:
            raise NoElementFoundError("There are no elements in the ElementList")
        return int(self.idx[0])

    def last(self) -> int:
        if len(self.idx) == 0:
            raise NoElementFoundError("There are no elements in the ElementList")
        return int(self.idx[-1])

    def extract_single_element(self) -> int:
        if len(self.idx) == 0:
            raise NoElementFoundError("There are no elements in the ElementList")
        if len(self.idx) > 1:
            raise MultipleElementsFoundError(
                f"There are {len(self.idx)} elements in the ElementList"
            )
        return int(self.idx[0])

    # -- tag / ignore bulk ops (filtering.py:97-105,358-364) -----------------

    def add_tag_to_elements(self, tag: str) -> None:
        for i in self.idx:
            self.doc.tags[i].add(tag)

    def ignore_elements(self) -> None:
        self.doc.ignored[self.idx] = True
        if len(self.idx):
            self.doc._any_ignored = True

    # -- text / font / page filters (filtering.py:107-269) -------------------

    def filter(self, predicate: Callable[[int], bool]) -> "Elems":
        mask = np.asarray([bool(predicate(int(i))) for i in self.idx], dtype=bool)
        return self._mask_to_elems(mask)

    def _texts(self, stripped: bool = True) -> np.ndarray:
        src = self.doc.text_stripped if stripped else self.doc.text_raw
        return src[self.idx]

    def filter_by_text_equal(self, text: str, stripped: bool = True) -> "Elems":
        if len(self.idx) == self.doc.n:
            return Elems(
                self.doc, self.doc._indexes_of_text(stripped).get(text, ()),
                _presorted=True,
            )
        mask = np.asarray([t == text for t in self._texts(stripped)], dtype=bool)
        return self._mask_to_elems(mask)

    def filter_by_text_contains(self, text: str) -> "Elems":
        mask = np.asarray(
            [isinstance(t, str) and text in t for t in self._texts(True)], dtype=bool
        )
        return self._mask_to_elems(mask)

    def filter_by_regex(
        self, regex: str, regex_flags: int = 0, stripped: bool = True
    ) -> "Elems":
        rx = re.compile(regex, regex_flags)  # re.match semantics: anchored start
        mask = np.asarray(
            [isinstance(t, str) and bool(rx.match(t)) for t in self._texts(stripped)],
            dtype=bool,
        )
        return self._mask_to_elems(mask)

    def filter_by_tag(self, tag: str) -> "Elems":
        mask = np.asarray([tag in self.doc.tags[i] for i in self.idx], dtype=bool)
        return self._mask_to_elems(mask)

    def filter_by_tags(self, *tags: str) -> "Elems":
        tagset = set(tags)
        mask = np.asarray(
            [bool(tagset & self.doc.tags[i]) for i in self.idx], dtype=bool
        )
        return self._mask_to_elems(mask)

    def filter_by_font(self, font: str) -> "Elems":
        return self.filter_by_fonts(font)

    def filter_by_fonts(self, *fonts: str) -> "Elems":
        wanted = set(fonts)
        mask = np.asarray(
            [f in wanted for f in self.doc.font[self.idx].tolist()], dtype=bool
        )
        return self._mask_to_elems(mask)

    def filter_by_font_size(self, font_size: float) -> "Elems":
        mask = self.doc.font_size[self.idx] == font_size
        return self._mask_to_elems(mask)

    def filter_by_page(self, page_number: int) -> "Elems":
        if page_number not in self.doc.page_numbers:
            raise PageNotFoundError(f"Could not find page {page_number}")
        mask = self.doc.page[self.idx] == page_number
        return self._mask_to_elems(mask)

    def filter_by_pages(self, *page_numbers: int) -> "Elems":
        for p in page_numbers:
            if p not in self.doc.page_numbers:
                raise PageNotFoundError(f"Could not find page {p}")
        mask = np.isin(self.doc.page[self.idx], list(page_numbers))
        return self._mask_to_elems(mask)

    def _in_sections(self, sections) -> "Elems":
        """Elements inside any of ``sections`` (index intervals)."""
        mask = np.zeros(len(self.idx), dtype=bool)
        for section in sections:
            mask |= (self.idx >= section.start_idx) & (self.idx <= section.end_idx)
        return self._mask_to_elems(mask)

    def filter_by_section_name(self, name: str) -> "Elems":
        return self.filter_by_section_names(name)

    def filter_by_section_names(self, *names: str) -> "Elems":
        sectioning = self.doc.sectioning
        return self._in_sections(
            s for name in names for s in sectioning.get_sections_with_name(name)
        )

    def filter_by_section(self, unique_name: str) -> "Elems":
        return self.filter_by_sections(unique_name)

    def filter_by_sections(self, *unique_names: str) -> "Elems":
        sections = self.doc.sectioning.sections_dict
        return self._in_sections(
            sections[n] for n in unique_names if n in sections
        )

    def filter_out_header(self, bottom_of_header_y: float) -> "Elems":
        return self._mask_to_elems(self.doc.y0[self.idx] < bottom_of_header_y)

    def filter_out_footer(self, top_of_footer_y: float) -> "Elems":
        return self._mask_to_elems(self.doc.y1[self.idx] > top_of_footer_y)

    # -- geometry (components.py:256-304, filtering.py:698-715) --------------

    def _geometry(self) -> np.ndarray:
        """``Doc.stack`` over this list's elements, gathered once — not at
        all when the list covers the whole document (the common case in
        recipes: directional ops probe from doc.elements)."""
        if self._stack is None:
            stack = self.doc.stack
            self._stack = (
                stack if len(self.idx) == self.doc.n else stack[:, self.idx]
            )
        return self._stack

    def filter_partially_within_bounding_box(
        self, box: BBox, page_number: int
    ) -> "Elems":
        p = float(page_number)
        limits = np.array((p, -p, box.x0, -box.x1, box.y0, -box.y1))
        return self._mask_to_elems((self._geometry() >= limits[:, None]).all(0))

    def filter_entirely_within_bounding_box(
        self, box: BBox, page_number: int
    ) -> "Elems":
        d, ii = self.doc, self.idx
        mask = (
            (d.page[ii] == page_number)
            & (d.x0[ii] >= box.x0)
            & (d.x1[ii] <= box.x1)
            & (d.y0[ii] >= box.y0)
            & (d.y1[ii] <= box.y1)
        )
        return self._mask_to_elems(mask)

    # -- directional operators (filtering.py:366-696) -------------------------

    def _probe(
        self, how: str, anchors, tolerance: float = 0.0, all_pages: bool = False
    ) -> np.ndarray:
        """``(len(anchors), len(self))`` mask: the elements of this list
        that each anchor's ``how`` operator returns, the anchor included
        and elements ignored since this list was made left out.  A fixed,
        small set of numpy calls for any number of anchors: one comparison
        against ``Doc.stack`` for the page test and four edges of the
        boxes, and one for the page ranges (``_probe_limits``)."""
        d = self.doc
        page, x0, x1, y0, y1 = d.geo
        rows = [
            _probe_limits(
                d, how, (page[i], x0[i], x1[i], y0[i], y1[i]),
                tolerance, all_pages,
            )
            for i in anchors
        ]
        limits = np.array(rows, dtype=np.float64).reshape(-1, 10).T[:, :, None]
        geometry = self._geometry()[:, None, :]
        # Every anchor of one call gets the same kind of probe: the first
        # row tells whether there are boxes and page ranges to test.
        mask = None
        if not rows or rows[0][0] != _INF:
            mask = (geometry >= limits[:6]).all(0)
        if rows and rows[0][6] != _INF:
            fits = d.fits_page
            if len(self.idx) != d.n:
                fits = fits[self.idx]
            pages = (geometry[:4] >= limits[6:]).all(0) & fits
            mask = pages if mask is None else mask | pages
        if d._any_ignored:
            mask &= ~d.ignored[self.idx]
        return mask

    def _directional(self, how, i, inclusive, tolerance, all_pages=False):
        mask = self._probe(how, (i,), tolerance, all_pages)[0]
        if not inclusive:  # drop the anchor itself
            n = len(self.idx)
            pos = i if n == self.doc.n else int(np.searchsorted(self.idx, i))
            if 0 <= pos < n and self.idx[pos] == i:
                mask[pos] = False
        return self._mask_to_elems(mask)

    def to_the_right_of(
        self, i: int, inclusive: bool = False, tolerance: float = 0.0
    ) -> "Elems":
        return self._directional("right", i, inclusive, tolerance)

    def to_the_left_of(
        self, i: int, inclusive: bool = False, tolerance: float = 0.0
    ) -> "Elems":
        return self._directional("left", i, inclusive, tolerance)

    def below(
        self,
        i: int,
        inclusive: bool = False,
        all_pages: bool = False,
        tolerance: float = 0.0,
    ) -> "Elems":
        return self._directional("below", i, inclusive, tolerance, all_pages)

    def above(
        self,
        i: int,
        inclusive: bool = False,
        all_pages: bool = False,
        tolerance: float = 0.0,
    ) -> "Elems":
        return self._directional("above", i, inclusive, tolerance, all_pages)

    def vertically_in_line_with(
        self,
        i: int,
        inclusive: bool = False,
        all_pages: bool = False,
        tolerance: float = 0.0,
    ) -> "Elems":
        return self._directional("vertical", i, inclusive, tolerance, all_pages)

    def horizontally_in_line_with(
        self, i: int, inclusive: bool = False, tolerance: float = 0.0
    ) -> "Elems":
        return self._directional("horizontal", i, inclusive, tolerance)

    # -- order-based operators (filtering.py:717-942) -------------------------

    def before(self, i: int, inclusive: bool = False) -> "Elems":
        mask = self.idx < i
        if inclusive:
            mask = mask | (self.idx == i)
        return self._mask_to_elems(mask)

    def after(self, i: int, inclusive: bool = False) -> "Elems":
        mask = self.idx > i
        if inclusive:
            mask = mask | (self.idx == i)
        return self._mask_to_elems(mask)

    def between(self, start: int, end: int, inclusive: bool = False) -> "Elems":
        if inclusive:
            mask = (self.idx >= start) & (self.idx <= end)
        else:
            mask = (self.idx > start) & (self.idx < end)
        return self._mask_to_elems(mask)

    def move_forwards_from(self, i: int, count: int = 1, capped: bool = False) -> int:
        pos = np.searchsorted(self.idx, i)
        if pos >= len(self.idx) or self.idx[pos] != i:
            raise NoElementFoundError(f"element {i} is not in the list")
        new_pos = int(pos) + count
        if new_pos < 0 or new_pos >= len(self.idx):
            if capped:
                new_pos = max(min(new_pos, len(self.idx) - 1), 0)
                return int(self.idx[new_pos])
            raise ElementOutOfRangeError(
                f"Requested element is {'before' if new_pos < 0 else 'after'} the "
                f"{'start' if new_pos < 0 else 'end'} of the ElementList"
            )
        return int(self.idx[new_pos])

    def move_backwards_from(self, i: int, count: int = 1, capped: bool = False) -> int:
        return self.move_forwards_from(i, count=-count, capped=capped)

    # -- convenience -----------------------------------------------------------

    def texts(self, stripped: bool = True) -> List[Optional[str]]:
        return list(self._texts(stripped))
