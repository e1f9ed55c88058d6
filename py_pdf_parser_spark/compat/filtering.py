"""ElementList — the reference's fluent index-set query surface
(filtering.py:41-1101) over kernel-backed PDFElements.

The set layer is a frozenset of indexes (identity semantics the
reference tests assert); every scalar/text/font/geometry read inside the
predicates hits the kernel arrays via PDFElement.  Directional
operators keep the reference's probe-box contract — build the box, page
filter, then ask each candidate element ``partially_within`` — because
that per-element call IS the published extension point (tests patch it).
"""

import re
from typing import Callable, FrozenSet, Iterable, Iterator, Optional, Set, Union

from ..kernel.doc import probe
from .common import BoundingBox
from .exceptions import (
    ElementOutOfRangeError,
    MultipleElementsFoundError,
    NoElementFoundError,
    SectionNotFoundError,
)


class ElementIterator(Iterator):
    def __init__(self, element_list: "ElementList"):
        self.document = element_list.document
        self.indexes = iter(sorted(element_list.indexes))

    def __next__(self):
        return self.document._element_list[next(self.indexes)]


class ElementList(Iterable):
    def __init__(self, document, indexes: Optional[Union[Set[int], FrozenSet[int]]] = None):
        self.document = document
        if indexes is None:
            indexes = range(0, len(document._element_list))
        # newly-ignored elements drop at construction (filtering.py:95)
        self.indexes = frozenset(indexes) - document._ignored_indexes

    # -- bulk state ----------------------------------------------------------

    def add_tag_to_elements(self, tag: str) -> None:
        for element in self:
            element.add_tag(tag)

    def ignore_elements(self) -> None:
        for element in self:
            element.ignore()

    # -- scalar filters -------------------------------------------------------

    def filter(self, predicate: Callable) -> "ElementList":
        return ElementList(
            self.document,
            set(e._index for e in self if predicate(e)),
        )

    def filter_by_tag(self, tag: str) -> "ElementList":
        return self.filter(lambda e: tag in e.tags)

    def filter_by_tags(self, *tags: str) -> "ElementList":
        return self.filter(lambda e: any(t in e.tags for t in tags))

    def filter_by_text_equal(self, text: str, stripped: bool = True) -> "ElementList":
        return self.filter(lambda e: e.text(stripped) == text)

    def filter_by_text_contains(self, text: str) -> "ElementList":
        return self.filter(lambda e: text in e.text())

    def filter_by_regex(
        self,
        regex: str,
        regex_flags: Union[int, re.RegexFlag] = 0,
        stripped: bool = True,
    ) -> "ElementList":
        return self.filter(
            lambda e: re.match(regex, e.text(stripped), flags=regex_flags)
        )

    def filter_by_font(self, font: str) -> "ElementList":
        return self.filter_by_fonts(font)

    def filter_by_fonts(self, *fonts: str) -> "ElementList":
        return ElementList(
            self.document,
            self.indexes & self.document._element_indexes_with_fonts(*fonts),
        )

    def filter_by_font_size(self, font_size: float) -> "ElementList":
        return self.filter(lambda e: e.font_size == font_size)

    def filter_by_page(self, page_number: int) -> "ElementList":
        page = self.document.get_page(page_number)
        return ElementList(
            self.document,
            self.indexes & {e._index for e in page.elements},
        )

    def filter_by_pages(self, *page_numbers: int) -> "ElementList":
        found: Set[int] = set()
        for page_number in page_numbers:
            found |= {
                e._index
                for e in self.document.get_page(page_number).elements
            }
        return ElementList(self.document, self.indexes & found)

    # -- sections -------------------------------------------------------------

    def filter_by_section_name(self, section_name: str) -> "ElementList":
        found: Set[int] = set()
        for section in self.document.sectioning.get_sections_with_name(
            section_name
        ):
            found |= {e._index for e in section.elements}
        return ElementList(self.document, self.indexes & found)

    def filter_by_section_names(self, *section_names: str) -> "ElementList":
        found: Set[int] = set()
        for name in section_names:
            for section in self.document.sectioning.get_sections_with_name(
                name
            ):
                found |= {e._index for e in section.elements}
        return ElementList(self.document, self.indexes & found)

    def filter_by_section(self, section_str: str) -> "ElementList":
        try:
            section = self.document.sectioning.get_section(section_str)
        except SectionNotFoundError:
            return ElementList(self.document, set())
        return ElementList(
            self.document,
            self.indexes & {e._index for e in section.elements},
        )

    def filter_by_sections(self, *section_strs: str) -> "ElementList":
        found: Set[int] = set()
        for section_str in section_strs:
            try:
                section = self.document.sectioning.get_section(section_str)
            except SectionNotFoundError:
                continue
            found |= {e._index for e in section.elements}
        return ElementList(self.document, self.indexes & found)

    # -- directional probes (filtering.py:366-715) ----------------------------

    def filter_partially_within_bounding_box(
        self, bounding_box: BoundingBox, page_number: int
    ) -> "ElementList":
        hits = {
            e._index
            for e in self.filter_by_page(page_number)
            if e.partially_within(bounding_box)
        }
        return ElementList(self.document, self.indexes & hits)

    def _directional(
        self, how, element, inclusive, tolerance, all_pages=False
    ) -> "ElementList":
        """``kernel.doc.probe``'s box on the element's page, plus a
        full-height box on each page of its range, each tested per
        element with ``partially_within``; an inverted box raises
        InvalidCoordinatesError."""
        p, b = element.page_number, element.bounding_box
        page = self.document.get_page(p)
        (x0, x1, y0, y1), pages = probe(
            how, (p, b.x0, b.x1, b.y0, b.y1), page.width, page.height,
            tolerance, all_pages,
        )
        results = self.filter_partially_within_bounding_box(
            BoundingBox(x0, x1, y0, y1), p
        )
        if pages is not None:
            q_lo, q_hi = pages
            for page in self.document.pages:
                q = page.page_number
                if q != p and q_lo <= q <= q_hi:
                    results = results | self.filter_partially_within_bounding_box(
                        BoundingBox(x0, x1, 0, page.height), q
                    )
        if not inclusive:
            results = results.remove_element(element)
        return results

    def to_the_right_of(
        self, element, inclusive: bool = False, tolerance: float = 0.0
    ) -> "ElementList":
        return self._directional("right", element, inclusive, tolerance)

    def to_the_left_of(
        self, element, inclusive: bool = False, tolerance: float = 0.0
    ) -> "ElementList":
        return self._directional("left", element, inclusive, tolerance)

    def below(
        self,
        element,
        inclusive: bool = False,
        all_pages: bool = False,
        tolerance: float = 0.0,
    ) -> "ElementList":
        return self._directional("below", element, inclusive, tolerance, all_pages)

    def above(
        self,
        element,
        inclusive: bool = False,
        all_pages: bool = False,
        tolerance: float = 0.0,
    ) -> "ElementList":
        return self._directional("above", element, inclusive, tolerance, all_pages)

    def vertically_in_line_with(
        self,
        element,
        inclusive: bool = False,
        all_pages: bool = False,
        tolerance: float = 0.0,
    ) -> "ElementList":
        return self._directional(
            "vertical", element, inclusive, tolerance, all_pages
        )

    def horizontally_in_line_with(
        self, element, inclusive: bool = False, tolerance: float = 0.0
    ) -> "ElementList":
        return self._directional("horizontal", element, inclusive, tolerance)

    # -- order-based ops (filtering.py:717-942) -------------------------------

    def before(self, element, inclusive: bool = False) -> "ElementList":
        wanted = set(range(0, element._index))
        if inclusive:
            wanted.add(element._index)
        return ElementList(self.document, self.indexes & wanted)

    def after(self, element, inclusive: bool = False) -> "ElementList":
        top = max(self.indexes) if self.indexes else element._index
        wanted = set(range(element._index + 1, top + 1))
        if inclusive:
            wanted.add(element._index)
        return ElementList(self.document, self.indexes & wanted)

    def between(self, start_element, end_element, inclusive: bool = False):
        wanted = set(range(start_element._index + 1, end_element._index))
        if inclusive:
            wanted |= {start_element._index, end_element._index}
        return ElementList(self.document, self.indexes & wanted)

    def move_forwards_from(self, element, count: int = 1, capped: bool = False):
        indexes = sorted(self.indexes)
        new_index = indexes.index(element._index) + count
        if new_index < 0 or new_index >= len(indexes):
            if capped:
                new_index = max(min(new_index, len(indexes) - 1), 0)
                return self.document._element_list[indexes[new_index]]
            raise ElementOutOfRangeError(
                f"Requested element is {'before' if new_index < 0 else 'after'} "
                f"the {'start' if new_index < 0 else 'end'} of the ElementList"
            )
        return self.document._element_list[indexes[new_index]]

    def move_backwards_from(self, element, count: int = 1, capped: bool = False):
        return self.move_forwards_from(element, count=-count, capped=capped)

    def filter_out_header(self, bottom_of_header_y: float) -> "ElementList":
        return self.filter(lambda e: e.bounding_box.y0 < bottom_of_header_y)

    def filter_out_footer(self, top_of_footer_y: float) -> "ElementList":
        return self.filter(lambda e: e.bounding_box.y1 > top_of_footer_y)

    # -- scalar extraction ----------------------------------------------------

    def first(self):
        if len(self.indexes) == 0:
            raise NoElementFoundError("There are no elements in the ElementList")
        return self[0]

    def last(self):
        if len(self.indexes) == 0:
            raise NoElementFoundError("There are no elements in the ElementList")
        return self[-1]

    def extract_single_element(self):
        if len(self.indexes) == 0:
            raise NoElementFoundError("There are no elements in the ElementList")
        if len(self.indexes) > 1:
            raise MultipleElementsFoundError(
                f"There are {len(self.indexes)} elements in the ElementList"
            )
        return self.first()

    # -- explicit membership edits --------------------------------------------

    def add_element(self, element) -> "ElementList":
        return ElementList(self.document, self.indexes | {element._index})

    def add_elements(self, *elements) -> "ElementList":
        return ElementList(
            self.document, self.indexes | {e._index for e in elements}
        )

    def remove_element(self, element) -> "ElementList":
        return ElementList(self.document, self.indexes - {element._index})

    def remove_elements(self, *elements) -> "ElementList":
        return ElementList(
            self.document, self.indexes - {e._index for e in elements}
        )

    # -- set protocol ---------------------------------------------------------

    def __iter__(self) -> ElementIterator:
        return ElementIterator(self)

    def __contains__(self, element) -> bool:
        return element._index in self.indexes

    def __repr__(self) -> str:
        return f"<ElementList of {len(self.indexes)} elements>"

    def __getitem__(self, key):
        if isinstance(key, slice):
            return ElementList(self.document, set(sorted(self.indexes)[key]))
        return self.document._element_list[sorted(self.indexes)[key]]

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, ElementList):
            raise NotImplementedError(
                f"Can't compare ElementList with {type(other)}"
            )
        return (
            self.indexes == other.indexes
            and self.document == other.document
            and self.__class__ == other.__class__
        )

    def __hash__(self) -> int:
        return hash(hash(self.indexes) + hash(self.document))

    def __len__(self) -> int:
        return len(self.indexes)

    def __sub__(self, other: "ElementList") -> "ElementList":
        return ElementList(self.document, self.indexes - other.indexes)

    def __or__(self, other: "ElementList") -> "ElementList":
        return ElementList(self.document, self.indexes | other.indexes)

    def __xor__(self, other: "ElementList") -> "ElementList":
        return ElementList(self.document, self.indexes ^ other.indexes)

    def __and__(self, other: "ElementList") -> "ElementList":
        return ElementList(self.document, self.indexes & other.indexes)
