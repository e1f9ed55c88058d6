"""The reference-API facade's directional operators (``compat``), Spark-free:
the same seeded layouts and naive per-element definition as the kernel's
property test, and the ``partially_within`` extension point they ask per
element."""

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from py_pdf_parser_spark.compat.components import (  # noqa: E402
    PDFDocument,
    PDFElement,
)
from py_pdf_parser_spark.compat.loaders import Page  # noqa: E402
from py_pdf_parser_spark.errors import InvalidCoordinatesError  # noqa: E402
from tests.test_properties import (  # noqa: E402
    _OPS,
    _PAGED,
    _naive,
    paged_box,
    tolerances,
)


class _Box:
    """Stand-in for a pdfminer text box: geometry and text, no characters."""

    def __init__(self, x0, y0, w, h, text):
        self.x0, self.x1, self.y0, self.y1 = x0, x0 + w, y0, y0 + h
        self.text = text

    def get_text(self):
        return self.text

    def __iter__(self):
        return iter(())


def _compat_doc(boxes, widths, heights) -> PDFDocument:
    """``boxes`` as in ``test_properties._paged_doc``: (page, x0, y0, w, h)."""
    pages = {}
    for i, (p, x0, y0, w, h) in enumerate(boxes):
        pages.setdefault(p, []).append(
            _Box(float(x0), float(y0), float(w), float(h), f"t{i}")
        )
    return PDFDocument(pages={
        p: Page(widths[p - 1], heights[p - 1], elements)
        for p, elements in pages.items()
    })


@settings(max_examples=150, deadline=None)
@given(
    st.lists(paged_box, min_size=1, max_size=14),
    st.lists(st.sampled_from([25.0, 200.0]), min_size=3, max_size=3),
    st.lists(st.sampled_from([25.0, 200.0]), min_size=3, max_size=3),
    st.data(),
)
def test_every_directional_op_matches_naive(boxes, widths, heights, data):
    document = _compat_doc(boxes, widths, heights)
    doc = document._kdoc
    ignored = data.draw(st.sets(st.integers(0, doc.n - 1), max_size=doc.n // 2))
    for i in ignored:
        document._element_list[i].ignore()
    live = set(range(doc.n)) - ignored
    op = data.draw(st.sampled_from(_OPS))
    anchor = data.draw(st.integers(0, doc.n - 1))
    kwargs = {
        "inclusive": data.draw(st.booleans()),
        "tolerance": data.draw(tolerances),
    }
    if op in _PAGED:
        kwargs["all_pages"] = data.draw(st.booleans())
    element = document._element_list[anchor]
    want = _naive(doc, live, op, anchor, **kwargs)
    if want is InvalidCoordinatesError:
        with pytest.raises(InvalidCoordinatesError):
            getattr(document.elements, op)(element, **kwargs)
    else:
        got = getattr(document.elements, op)(element, **kwargs)
        assert {e._index for e in got} == want


def test_directional_ops_ask_partially_within(monkeypatch):
    """The reference's tests patch ``PDFElement.partially_within``; a
    directional operator must ask it of each element on a probed page."""
    document = _compat_doc(
        [(1, 0, 0, 5, 5), (1, 10, 0, 5, 5), (1, 0, 20, 5, 5)],
        [100.0] * 3, [100.0] * 3,
    )
    elements = document.elements
    anchor = elements.filter_by_text_equal("t0").extract_single_element()
    assert [e.text() for e in elements.to_the_right_of(anchor)] == ["t1"]
    monkeypatch.setattr(PDFElement, "partially_within", lambda self, box: True)
    assert [e.text() for e in elements.to_the_right_of(anchor)] == ["t2", "t1"]
