"""Property-based tests (hypothesis) for the per-document kernel.

The reference has no property tests (SURVEY.md §5); these pin the
algebraic laws its fixture tests only sample:

  * ElementList set algebra == Python frozenset algebra on the same
    index sets (filtering.py:1077-1100 semantics).
  * Directional filters == the naive O(n^2) geometric definition.
  * before/after/between are consistent with index order.
  * Ordering presets are total, stable, and a permutation.
"""

import numpy as np
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from py_pdf_parser_spark.kernel.doc import BBox, Doc  # noqa: E402

settings.register_profile("ci", max_examples=60, deadline=None)
settings.load_profile("ci")


def _mk_doc(boxes, pages=None, ordering="L2R_T2B"):
    n = len(boxes)
    x0 = np.asarray([b[0] for b in boxes], dtype=np.float64)
    y0 = np.asarray([b[1] for b in boxes], dtype=np.float64)
    x1 = x0 + np.asarray([b[2] for b in boxes], dtype=np.float64)
    y1 = y0 + np.asarray([b[3] for b in boxes], dtype=np.float64)
    page = np.asarray(pages if pages is not None else [1] * n, dtype=np.int64)
    return Doc(
        "prop-000000",
        page=page,
        x0=x0, x1=x1, y0=y0, y1=y1,
        text=np.asarray([f"t{i}" for i in range(n)], dtype=object),
        offset=np.arange(n, dtype=np.int64),
        font_name=np.asarray(["f"] * n, dtype=object),
        font_size=[10] * n,
        page_width=200.0, page_height=200.0,
        element_ordering=ordering,
    )


# boxes: (x0, y0, w, h) with small integral coords so touching edges
# (closed-interval overlap, components.py:297-304) actually occur.
box = st.tuples(
    st.integers(0, 30), st.integers(0, 30),
    st.integers(1, 10), st.integers(1, 10),
)
boxes_strategy = st.lists(box, min_size=1, max_size=12)


@given(boxes_strategy, st.data())
def test_set_algebra_matches_frozensets(boxes, data):
    doc = _mk_doc(boxes)
    n = doc.n
    idx_a = data.draw(st.sets(st.integers(0, n - 1)))
    idx_b = data.draw(st.sets(st.integers(0, n - 1)))
    a = doc.elements.filter(lambda i: i in idx_a)
    b = doc.elements.filter(lambda i: i in idx_b)
    assert set(a | b) == idx_a | idx_b
    assert set(a & b) == idx_a & idx_b
    assert set(a - b) == idx_a - idx_b
    assert set(a ^ b) == idx_a ^ idx_b
    assert len(a) == len(idx_a)
    for i in range(n):
        assert (i in a) == (i in idx_a)


@given(boxes_strategy, st.data())
def test_partially_within_matches_naive(boxes, data):
    doc = _mk_doc(boxes)
    bx = data.draw(box)
    probe = BBox(bx[0], bx[0] + bx[2], bx[1], bx[1] + bx[3])
    got = set(doc.elements.filter_partially_within_bounding_box(probe, 1))
    want = {
        i for i in range(doc.n)
        if probe.x0 <= doc.x1[i] and probe.x1 >= doc.x0[i]
        and probe.y0 <= doc.y1[i] and probe.y1 >= doc.y0[i]
    }
    assert got == want


@given(boxes_strategy, st.data())
def test_directional_ops_match_naive(boxes, data):
    doc = _mk_doc(boxes)
    anchor = data.draw(st.integers(0, doc.n - 1))
    els = doc.elements
    right = set(els.to_the_right_of(anchor))
    want_right = {
        i for i in range(doc.n) if i != anchor
        and doc.x1[i] >= doc.x1[anchor] and doc.x0[i] <= 200.0
        and doc.y0[anchor] <= doc.y1[i] and doc.y1[anchor] >= doc.y0[i]
    }
    assert right == want_right
    below = set(els.below(anchor))
    # Probe box is (x0, x1, 0, anchor.y0); partially_within of it means
    # the element's BOTTOM is at or below the anchor's bottom
    # (filtering.py:455-520 + components.py:286-304, touching counts).
    want_below = {
        i for i in range(doc.n) if i != anchor
        and doc.x0[anchor] <= doc.x1[i] and doc.x1[anchor] >= doc.x0[i]
        and doc.y0[i] <= doc.y0[anchor]
    }
    assert below == want_below


@given(boxes_strategy, st.data())
def test_order_ops_consistent(boxes, data):
    doc = _mk_doc(boxes)
    els = doc.elements
    k = data.draw(st.integers(0, doc.n - 1))
    assert set(els.before(k)) == set(range(0, k))
    assert set(els.after(k)) == set(range(k + 1, doc.n))
    if doc.n >= 2:
        s = data.draw(st.integers(0, doc.n - 2))
        e = data.draw(st.integers(s + 1, doc.n - 1))
        assert set(els.between(s, e)) == set(range(s + 1, e))
        assert set(els.between(s, e, inclusive=True)) == set(range(s, e + 1))
    assert els.first() == 0
    assert els.last() == doc.n - 1


@given(boxes_strategy, st.sampled_from(
    ["L2R_T2B", "R2L_T2B", "T2B_L2R", "T2B_R2L"]
))
def test_ordering_presets_are_stable_permutations(boxes, preset):
    from py_pdf_parser_spark.kernel.doc import ORDER_PRESETS

    doc = _mk_doc(boxes, ordering=preset)
    n = doc.n
    # A permutation: every offset appears exactly once.
    assert sorted(doc.offset.tolist()) == list(range(n))
    # Matches Python's stable sorted() with the same key.
    keyfn = ORDER_PRESETS[preset]
    x0 = np.asarray([b[0] for b in boxes], dtype=np.float64)
    y0 = np.asarray([b[1] for b in boxes], dtype=np.float64)
    keys = keyfn(x0, y0)
    want = sorted(
        range(n), key=lambda i: tuple(float(k[i]) for k in keys)
    )
    assert doc.offset.tolist() == want


class TestModeProperties:
    """Per-char font mode == collections.Counter semantics on arbitrary
    value streams (components.py:160-211)."""

    @given(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=30
        )
    )
    def test_mode_matches_counter(self, values):
        from collections import Counter

        from py_pdf_parser_spark.kernel.doc import _mode_first_seen

        assert (
            _mode_first_seen(values) == Counter(values).most_common(1)[0][0]
        )

    @given(
        st.lists(
            st.floats(
                min_value=1.0, max_value=20.0,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1, max_size=20,
        ),
        st.integers(min_value=0, max_value=3),
    )
    def test_size_mode_rounds_the_winner(self, heights, precision):
        from collections import Counter

        from py_pdf_parser_spark.kernel.doc import _mode_first_seen

        # round applied AFTER the mode, not before (components.py:208)
        want = round(Counter(heights).most_common(1)[0][0], precision)
        assert round(_mode_first_seen(heights), precision) == want

    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]), max_size=12
            ),
            min_size=1,
            max_size=10,
        )
    )
    def test_flat_modes_match_counter_per_group(self, groups):
        """The vectorized flat batch kernel == per-group Counter, for
        all three payload forms (list-of-lists, flat values, codes)."""
        import numpy as np
        from collections import Counter

        from py_pdf_parser_spark.kernel.doc import (
            _flatten_payload,
            _modes_first_seen_flat,
        )

        want = [
            Counter(g).most_common(1)[0][0] if g else None for g in groups
        ]

        lengths, kwargs = _flatten_payload(groups)
        assert list(_modes_first_seen_flat(lengths=lengths, **kwargs)) == want

        flat = [v for g in groups for v in g]
        lens = np.array([len(g) for g in groups], dtype=np.int64)
        assert list(_modes_first_seen_flat(flat, lens)) == want

        alphabet = ["a", "b", "c", "d"]
        codes = np.array([alphabet.index(v) for v in flat], dtype=np.int64)
        assert (
            list(
                _modes_first_seen_flat(
                    None, lens, codes=codes, decode=alphabet
                )
            )
            == want
        )

    @given(
        st.lists(
            st.lists(
                st.floats(
                    min_value=1.0, max_value=9.0,
                    allow_nan=False, allow_infinity=False,
                ),
                max_size=10,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_flat_modes_match_counter_float_groups(self, groups):
        import numpy as np
        from collections import Counter

        from py_pdf_parser_spark.kernel.doc import _modes_first_seen_flat

        want = [
            Counter(g).most_common(1)[0][0] if g else None for g in groups
        ]
        flat = np.array(
            [v for g in groups for v in g], dtype=np.float64
        )
        lens = np.array([len(g) for g in groups], dtype=np.int64)
        assert list(_modes_first_seen_flat(flat, lens)) == want


class TestChunkCapProperty:
    """dedup._chunk_capped against a hashlib model of its rule: within
    each (band, bucket), rank by md5("<band>:<doc_id>") then doc_id, and
    chunk = rank // cap."""

    def test_chunk_sizes_bounded_and_deterministic(self):
        pytest.importorskip("pyspark")
        import hashlib
        import random
        from collections import Counter

        from py_pdf_parser_spark.session import get_spark
        from py_pdf_parser_spark.textops import dedup

        cap = 5
        # under, at, just over and far over the cap
        sizes = {"under": 3, "at": 5, "over": 6, "far": 23}
        rng = random.Random(7)
        docs = rng.sample(range(100_000), sum(sizes.values()))
        rows = []
        for band in range(3):  # every doc in one bucket per band
            rng.shuffle(docs)
            at = 0
            for bucket, n in sizes.items():
                rows += [(d, band, bucket) for d in docs[at:at + n]]
                at += n
        banded = get_spark(cores=4).createDataFrame(
            rows, "doc_id long, band int, bucket string"
        )
        got = {
            (r.doc_id, r.band, r.bucket): r.chunk
            for r in dedup._chunk_capped(banded, "bucket", cap).collect()
        }

        want = {}
        for band in range(3):
            for bucket in sizes:
                members = [d for d, b, k in rows if (b, k) == (band, bucket)]
                members.sort(key=lambda d: (
                    hashlib.md5(f"{band}:{d}".encode()).hexdigest(), d
                ))
                for rank, d in enumerate(members):
                    want[d, band, bucket] = rank // cap
        assert got == want
        per_chunk = Counter((b, k, c) for (_, b, k), c in got.items())
        assert max(per_chunk.values()) <= cap
        n_chunks = Counter((b, k) for b, k, _ in per_chunk)
        for band in range(3):
            assert n_chunks[band, "under"] == n_chunks[band, "at"] == 1
            assert n_chunks[band, "over"] == 2
            assert n_chunks[band, "far"] == 5


# ---------------------------------------------------------------------------
# Layout operators against a naive per-element definition: every
# directional op, inclusive or not, any tolerance sign, multi-page
# documents with all_pages, ignored elements and inverted probe boxes
# (filtering.py:366-696, components.py:286-304), and extract_simple_table
# as reference row ∩ reference column (tables.py:18-138).
# ---------------------------------------------------------------------------

from py_pdf_parser_spark.errors import (  # noqa: E402
    InvalidCoordinatesError,
    TableExtractionError,
)
from py_pdf_parser_spark.kernel.tables import extract_simple_table  # noqa: E402

_OPS = (
    "to_the_right_of", "to_the_left_of", "horizontally_in_line_with",
    "below", "above", "vertically_in_line_with",
)
_PAGED = ("below", "above", "vertically_in_line_with")

# (page, x0, y0, w, h) on integral coordinates, so touching edges occur;
# the small page sizes put some elements past the page edge.
paged_box = st.tuples(
    st.integers(1, 3), st.integers(0, 30), st.integers(0, 30),
    st.integers(0, 10), st.integers(0, 10),
)
tolerances = st.sampled_from([0.0, 0.5, 1.0, 2.5, 7.0, -1.0, -3.5])


def _paged_doc(boxes, widths, heights):
    x0 = np.asarray([b[1] for b in boxes], dtype=np.float64)
    y0 = np.asarray([b[2] for b in boxes], dtype=np.float64)
    return Doc(
        "prop-000001",
        page=[b[0] for b in boxes],
        x0=x0, x1=x0 + [b[3] for b in boxes],
        y0=y0, y1=y0 + [b[4] for b in boxes],
        text=[f"t{i}" for i in range(len(boxes))],
        page_width=dict(zip((1, 2, 3), widths)),
        page_height=dict(zip((1, 2, 3), heights)),
    )


def _naive(doc, live, op, a, inclusive=False, tolerance=0.0, all_pages=False):
    """The reference's definition, one element at a time: the probe box
    on the anchor's page, full-height boxes on the other pages, an
    inverted box raising, the anchor dropped unless inclusive."""
    p = int(doc.page[a])
    x0, x1, y0, y1 = doc.x0[a], doc.x1[a], doc.y0[a], doc.y1[a]
    if op in ("to_the_right_of", "to_the_left_of", "horizontally_in_line_with"):
        t = min((y1 - y0) / 2, tolerance)
        by = (y0 + t, y1 - t)
        bx = {
            "to_the_right_of": (x1, doc.page_width(p)),
            "to_the_left_of": (0, x0),
            "horizontally_in_line_with": (0, doc.page_width(p)),
        }[op]
    else:
        t = min((x1 - x0) / 2, tolerance)
        bx = (x0 + t, x1 - t)
        by = {
            "below": (0, y0),
            "above": (y1, doc.page_height(p)),
            "vertically_in_line_with": (0, doc.page_height(p)),
        }[op]
    if bx[1] < bx[0] or by[1] < by[0]:
        return InvalidCoordinatesError

    def hit(i, q, box_y):
        return (
            int(doc.page[i]) == q
            and bx[0] <= doc.x1[i] and bx[1] >= doc.x0[i]
            and box_y[0] <= doc.y1[i] and box_y[1] >= doc.y0[i]
        )

    out = {i for i in live if hit(i, p, by)}
    if all_pages and op in _PAGED:
        if op == "below":
            others = [q for q in doc.page_numbers if q > p]
        elif op == "above":
            others = [q for q in doc.page_numbers if q < p]
        elif live:
            first, last = int(doc.page[min(live)]), int(doc.page[max(live)])
            others = [
                q for q in range(first, last + 1)
                if q != p and q in doc.page_numbers
            ]
        else:
            others = []
        for q in others:
            out |= {i for i in live if hit(i, q, (0, doc.page_height(q)))}
    if not inclusive:
        out.discard(a)
    return out


@settings(max_examples=150, deadline=None)
@given(
    st.lists(paged_box, min_size=1, max_size=14),
    st.lists(st.sampled_from([25.0, 200.0]), min_size=3, max_size=3),
    st.lists(st.sampled_from([25.0, 200.0]), min_size=3, max_size=3),
    st.data(),
)
def test_every_directional_op_matches_naive(boxes, widths, heights, data):
    doc = _paged_doc(boxes, widths, heights)
    ignored = data.draw(st.sets(st.integers(0, doc.n - 1), max_size=doc.n // 2))
    for i in ignored:
        doc.ignore(i)
    live = set(range(doc.n)) - ignored
    op = data.draw(st.sampled_from(_OPS))
    anchor = data.draw(st.integers(0, doc.n - 1))
    kwargs = {
        "inclusive": data.draw(st.booleans()),
        "tolerance": data.draw(tolerances),
    }
    if op in _PAGED:
        kwargs["all_pages"] = data.draw(st.booleans())
    want = _naive(doc, live, op, anchor, **kwargs)
    if want is InvalidCoordinatesError:
        with pytest.raises(InvalidCoordinatesError):
            getattr(doc.elements, op)(anchor, **kwargs)
    else:
        assert set(getattr(doc.elements, op)(anchor, **kwargs)) == want


@settings(max_examples=100, deadline=None)
@given(
    st.integers(1, 4), st.integers(1, 4),
    st.lists(st.tuples(st.integers(-2, 2), st.integers(-2, 2))),
    st.sets(st.integers(0, 15)),
    st.lists(st.tuples(st.integers(0, 45), st.integers(0, 45)), max_size=2),
    st.booleans(),
    tolerances,
    st.sets(st.integers(0, 17), max_size=2),
)
def test_extract_simple_table_is_row_and_column_intersection(
    n_rows, n_cols, jitter, dropped, extra, allow_gaps, tolerance, ignored
):
    """A grid of 8x4 cells 12 apart, each cell nudged by up to 2 and some
    dropped, plus stray elements: the table is, per reference row and
    reference column of the first element, their single common element
    — or the reference's error.  Elements ignored after the element list
    was made are in no row or column, but still in its length
    (filtering.py:95)."""
    boxes = []
    for r in range(n_rows):
        for c in range(n_cols):
            if r * n_cols + c in dropped:
                continue
            dx, dy = jitter[len(boxes) % len(jitter)] if jitter else (0, 0)
            boxes.append((1, c * 12 + dx, 60 - r * 12 + dy, 8, 4))
    boxes += [(1, x, y, 8, 4) for x, y in extra]
    if not boxes:
        return
    doc = _paged_doc(boxes, [100.0] * 3, [100.0] * 3)
    elements = doc.elements
    for i in ignored & set(range(doc.n)):
        doc.ignore(i)
    live = set(range(doc.n)) - ignored
    ref = 0

    def naive_table():
        row = sorted(_naive(doc, live, "horizontally_in_line_with", ref,
                            True, tolerance))
        col = sorted(_naive(doc, live, "vertically_in_line_with", ref,
                            True, tolerance, True))
        cols = [_naive(doc, live, "vertically_in_line_with", e, True,
                       tolerance, True) for e in row]
        table = []
        for e in col:
            in_row = _naive(doc, live, "horizontally_in_line_with", e, True,
                            tolerance)
            cells = []
            for in_col in cols:
                cell = in_row & in_col
                if len(cell) > 1 or (not cell and not allow_gaps):
                    return TableExtractionError
                cells.append(next(iter(cell)) if cell else None)
            table.append(cells)
        if sum(c is not None for r in table for c in r) != len(elements):
            return TableExtractionError
        return table

    want = naive_table()
    if want is TableExtractionError:
        with pytest.raises(TableExtractionError):
            extract_simple_table(
                elements, allow_gaps=allow_gaps, tolerance=tolerance
            )
    else:
        assert extract_simple_table(
            elements, allow_gaps=allow_gaps, tolerance=tolerance
        ) == want
