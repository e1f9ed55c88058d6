"""ElementFrame — the ElementList API re-expressed at DataFrame level.

Where the kernel (``kernel/doc.py``) executes a whole recipe per document
inside one Arrow batch, ``ElementFrame`` expresses the same operators as
Spark Column expressions and broadcast anchor-joins over the exploded
``elements`` table — fully visible to Catalyst (predicate pushdown, column
pruning, whole-stage codegen), shuffle-free except where set algebra
genuinely requires it.

Anchor-relative operators (``to_the_right_of``, ``before`` …) take an
*anchor frame*: per-document anchor rows (typically one per doc, selected
with a filter).  Anchor joins are plain equi-joins on ``doc_id`` with NO
forced broadcast hint: at 10^12-doc scale "one anchor row per doc" is
still an O(corpus) relation, so a forced ``F.broadcast`` would be a
multi-terabyte driver OOM.  AQE picks broadcast-hash when the anchor side
is genuinely small (post-filter size under
``spark.sql.autoBroadcastJoinThreshold``) and shuffle/sort-merge
otherwise; over the ``materialize_elements`` bucketed table both sides
scan the same ``bucketBy(doc_id)`` layout, so the sort-merge path is
co-located — zero Exchange (see tests/test_spark_pipeline.py bucketed-join
test and PLANS.md).

Each directional operator's box and page range come from
``kernel.doc.probe``, the definition the kernel uses.  Where the kernel
raises ``InvalidCoordinatesError`` for an anchor whose probe box is
inverted (an anchor past the page edge), the frame drops that anchor: it
contributes no rows, as ``move_from`` drops out-of-range anchors.

Exactness note (SURVEY.md §7 hard parts): ``filter_by_regex`` uses a
vectorized pandas UDF running Python ``re.match`` — Spark's ``rlike`` is
Java-regex and unanchored, which is a semantic near-miss, not a match.
``text`` in the elements table is already Python-``str.strip``-ed at parse
time (components.py:306-318 semantics).
"""

from __future__ import annotations

import re
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from .kernel.doc import probe

_ANCHOR_COLS = ["idx", "page_number", "x0", "x1", "y0", "y1",
                "page_width", "page_height"]


def _as_anchor(df: DataFrame) -> DataFrame:
    """Rename an element row-set to anchor column names (a_*)."""
    out = df.select(
        "doc_id", *[F.col(c).alias(f"a_{c}") for c in _ANCHOR_COLS]
    )
    return out


def _overlaps(box) -> Column:
    """The element lies partially within ``box = (x0, x1, y0, y1)`` —
    closed intervals, touching counts (components.py:286-304)."""
    x0, x1, y0, y1 = box
    return (
        (F.lit(x0) <= F.col("x1"))
        & (F.lit(x1) >= F.col("x0"))
        & (F.lit(y0) <= F.col("y1"))
        & (F.lit(y1) >= F.col("y0"))
    )


def _matches(box, pages) -> Column:
    """The element is in an anchor's ``probe(...)``: partially within
    ``box`` on the anchor's page, or on a page in ``pages`` and
    overlapping its own page's full height.  An inverted box matches
    nothing."""
    x0, x1, y0, y1 = box
    hit = (F.col("page_number") == F.col("a_page_number")) & _overlaps(box)
    if pages is not None:
        hit = hit | (
            F.col("page_number").between(*pages)
            & _overlaps((x0, x1, 0.0, F.col("page_height")))
        )
    return (F.lit(x0) <= x1) & (F.lit(y0) <= y1) & hit


class ElementFrame:
    """Immutable fluent wrapper over the exploded elements DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    @classmethod
    def from_documents(cls, docs_df: DataFrame) -> "ElementFrame":
        from .pipeline import parse_elements

        return cls(parse_elements(docs_df))

    def _with(self, df: DataFrame) -> "ElementFrame":
        return ElementFrame(df)

    def where(self, cond: Column) -> "ElementFrame":
        return self._with(self.df.where(cond))

    # -- text filters (filtering.py:148-201) ---------------------------------

    @staticmethod
    def _text_col(stripped: bool) -> Column:
        # ``text`` is str.strip()-ed at parse time; ``text_raw`` is the
        # untouched span text (filtering.py:148-201 stripped=False).
        # Column pruning drops whichever one a query never reads.
        return F.col("text" if stripped else "text_raw")

    def filter_by_text_equal(
        self, text: str, stripped: bool = True
    ) -> "ElementFrame":
        return self.where(self._text_col(stripped) == F.lit(text))

    def filter_by_text_contains(
        self, text: str, stripped: bool = True
    ) -> "ElementFrame":
        return self.where(self._text_col(stripped).contains(text))

    def filter_by_regex(
        self, regex: str, regex_flags: int = 0, stripped: bool = True
    ) -> "ElementFrame":
        @pandas_udf("boolean")
        def matches(s: pd.Series) -> pd.Series:
            rx = re.compile(regex, regex_flags)
            return s.map(lambda t: isinstance(t, str) and bool(rx.match(t)))

        return self.where(matches(self._text_col(stripped)))

    # -- font / page filters (filtering.py:203-269) ---------------------------

    def filter_by_font(self, font: str) -> "ElementFrame":
        return self.where(F.col("font") == font)

    def filter_by_fonts(self, *fonts: str) -> "ElementFrame":
        return self.where(F.col("font").isin(list(fonts)))

    def filter_by_font_size(self, size: float) -> "ElementFrame":
        return self.where(F.col("font_size") == size)

    def filter_by_page(self, page: int) -> "ElementFrame":
        return self.where(F.col("page_number") == page)

    def filter_by_pages(self, *pages: int) -> "ElementFrame":
        return self.where(F.col("page_number").isin(list(pages)))

    def filter_by_kind(self, kind: str) -> "ElementFrame":
        return self.where(F.col("kind") == kind)

    def filter_out_header(self, y: float) -> "ElementFrame":
        return self.where(F.col("y0") < y)

    def filter_out_footer(self, y: float) -> "ElementFrame":
        return self.where(F.col("y1") > y)

    def filter_by_tag(self, tag: str) -> "ElementFrame":
        return self.where(F.array_contains(F.col("tags"), tag))

    def filter_by_tags(self, *tags: str) -> "ElementFrame":
        return self.where(
            F.arrays_overlap(F.col("tags"), F.array(*[F.lit(t) for t in tags]))
        )

    def filter_batch(self, predicate, *cols: str) -> "ElementFrame":
        """The reference's ``ElementList.filter(predicate)`` UDF hook
        (filtering.py:107-118) at frame level: ``predicate`` receives a
        pandas DataFrame with the requested ``cols`` (one row per
        element, Arrow-batched) and returns a boolean Series.  The
        vectorized contract replaces the reference's per-row callable —
        the documented slow path, but batched, never row-at-a-time."""
        names = list(cols)

        @pandas_udf("boolean")
        def p(*series: pd.Series) -> pd.Series:
            batch = pd.concat(series, axis=1)
            batch.columns = names
            return predicate(batch).astype(bool)

        return self.where(p(*[F.col(c) for c in names]))

    def add_tag(self, tag: str) -> "ElementFrame":
        """Immutable analogue of add_tag_to_elements (filtering.py:97-105)."""
        return self._with(
            self.df.withColumn(
                "tags", F.array_union(F.col("tags"), F.array(F.lit(tag)))
            )
        )

    # -- geometry ------------------------------------------------------------

    def filter_partially_within(
        self, x0: float, x1: float, y0: float, y1: float, page: int
    ) -> "ElementFrame":
        """Closed-interval overlap — touching counts (components.py:286-304)."""
        return self.where(
            (F.col("page_number") == page) & _overlaps((x0, x1, y0, y1))
        )

    def filter_entirely_within(
        self, x0: float, x1: float, y0: float, y1: float, page: int
    ) -> "ElementFrame":
        return self.where(
            (F.col("page_number") == page)
            & (F.col("x0") >= x0)
            & (F.col("x1") <= x1)
            & (F.col("y0") >= y0)
            & (F.col("y1") <= y1)
        )

    # -- anchor-relative directional joins (filtering.py:366-696) -------------

    def _anchor_join(
        self, anchors: "ElementFrame", cond: Column, inclusive: bool
    ) -> "ElementFrame":
        a = _as_anchor(anchors.df)
        joined = self.df.join(a, on="doc_id", how="inner")
        if not inclusive:
            cond = cond & (F.col("idx") != F.col("a_idx"))
        out = joined.where(cond).drop(*[f"a_{c}" for c in _ANCHOR_COLS])
        return self._with(out)

    def _directional(
        self, how: str, anchors: "ElementFrame", inclusive: bool,
        tolerance: float, all_pages: bool = False,
    ) -> "ElementFrame":
        """The elements in each anchor's ``kernel.doc.probe``; an anchor
        whose probe box is inverted (past the page edge) contributes no
        rows — the frame's analogue of the kernel's
        ``InvalidCoordinatesError``."""
        anchor = [F.col(f"a_{c}") for c in ("page_number", "x0", "x1", "y0", "y1")]
        box, pages = probe(
            how, anchor, F.col("a_page_width"), F.col("a_page_height"),
            F.lit(float(tolerance)), all_pages, F.least,
        )
        return self._anchor_join(anchors, _matches(box, pages), inclusive)

    def to_the_right_of(
        self, anchors: "ElementFrame", inclusive: bool = False,
        tolerance: float = 0.0,
    ) -> "ElementFrame":
        return self._directional("right", anchors, inclusive, tolerance)

    def to_the_left_of(
        self, anchors: "ElementFrame", inclusive: bool = False,
        tolerance: float = 0.0,
    ) -> "ElementFrame":
        return self._directional("left", anchors, inclusive, tolerance)

    def below(
        self, anchors: "ElementFrame", inclusive: bool = False,
        all_pages: bool = False, tolerance: float = 0.0,
    ) -> "ElementFrame":
        return self._directional("below", anchors, inclusive, tolerance, all_pages)

    def above(
        self, anchors: "ElementFrame", inclusive: bool = False,
        all_pages: bool = False, tolerance: float = 0.0,
    ) -> "ElementFrame":
        return self._directional("above", anchors, inclusive, tolerance, all_pages)

    def vertically_in_line_with(
        self, anchors: "ElementFrame", inclusive: bool = False,
        all_pages: bool = False, tolerance: float = 0.0,
    ) -> "ElementFrame":
        return self._directional(
            "vertical", anchors, inclusive, tolerance, all_pages
        )

    def horizontally_in_line_with(
        self, anchors: "ElementFrame", inclusive: bool = False,
        tolerance: float = 0.0,
    ) -> "ElementFrame":
        return self._directional("horizontal", anchors, inclusive, tolerance)

    # -- order ops (filtering.py:717-787) -------------------------------------

    def _idx_join(self, anchors: "ElementFrame", cond: Column) -> "ElementFrame":
        """Elements whose ``idx`` meets ``cond`` against an anchor's ``a_idx``."""
        a = anchors.df.select("doc_id", F.col("idx").alias("a_idx"))
        return self._with(
            self.df.join(a, on="doc_id").where(cond).drop("a_idx")
        )

    def before(self, anchors: "ElementFrame", inclusive: bool = False) -> "ElementFrame":
        idx, a_idx = F.col("idx"), F.col("a_idx")
        return self._idx_join(anchors, idx <= a_idx if inclusive else idx < a_idx)

    def after(self, anchors: "ElementFrame", inclusive: bool = False) -> "ElementFrame":
        idx, a_idx = F.col("idx"), F.col("a_idx")
        return self._idx_join(anchors, idx >= a_idx if inclusive else idx > a_idx)

    def between(
        self, start: "ElementFrame", end: "ElementFrame", inclusive: bool = False
    ) -> "ElementFrame":
        s = start.df.select("doc_id", F.col("idx").alias("s_idx"))
        e = end.df.select("doc_id", F.col("idx").alias("e_idx"))
        joined = self.df.join(s, on="doc_id").join(e, on="doc_id")
        if inclusive:
            cond = (F.col("idx") >= F.col("s_idx")) & (F.col("idx") <= F.col("e_idx"))
        else:
            cond = (F.col("idx") > F.col("s_idx")) & (F.col("idx") < F.col("e_idx"))
        return self._with(joined.where(cond).drop("s_idx", "e_idx"))

    # -- per-doc order extrema: window ops (SURVEY.md §2.10 windows) ----------

    def _ranked(self, descending: bool = False) -> DataFrame:
        """This frame with ``_rn``, each element's 1-based position in its
        document's ``idx`` order (reversed when ``descending``)."""
        order = F.col("idx").desc() if descending else F.col("idx").asc()
        w = Window.partitionBy("doc_id").orderBy(order)
        return self.df.withColumn("_rn", F.row_number().over(w))

    def _at_ranks(self, cond: Column, descending: bool = False) -> "ElementFrame":
        return self._with(self._ranked(descending).where(cond).drop("_rn"))

    def first_per_doc(self) -> "ElementFrame":
        return self._at_ranks(F.col("_rn") == 1)

    def last_per_doc(self) -> "ElementFrame":
        return self._at_ranks(F.col("_rn") == 1, descending=True)

    def move_from(
        self, anchors: "ElementFrame", count: int = 1, capped: bool = False
    ) -> "ElementFrame":
        """move_forwards/backwards_from analogue (filtering.py:877-942):
        for each anchor, the element ``count`` positions away WITHIN this
        (filtered) frame's per-doc order.  Out-of-range anchors drop out
        (the DataFrame analogue of ElementOutOfRangeError); with
        ``capped=True`` the target clamps to the frame's first/last
        element per doc (filtering.py:905-911,936-942).  Window
        row_number + join on the shifted rank."""
        ranked = self._ranked()
        target = F.col("_rn") + count
        if capped:
            n = F.max("_rn").over(Window.partitionBy("doc_id"))
            target = F.least(F.greatest(target, F.lit(1)), n)
        # anchor_ranks derives from ranked: rename its join keys so the
        # self-join condition is built from distinct attributes (a bare
        # ranked[..] == anchor_ranks[..] canonicalizes both sides to the
        # same column and degrades to a trivially-true predicate).
        anchor_ranks = (
            ranked.withColumn("_target", target)
            .join(
                anchors.df.select("doc_id", "idx"),
                ["doc_id", "idx"],
                "leftsemi",
            )
            .select(F.col("doc_id").alias("_a_doc"), "_target")
            # Two out-of-range anchors in one doc clamp to the SAME
            # boundary rank under capped=True — dedup targets so the
            # output stays key-unique on (doc_id, idx), the invariant
            # set algebra and anchor joins rely on.  Distinct on two
            # small columns, before the fat join.
            .distinct()
        )
        out = (
            ranked.join(
                anchor_ranks,
                (F.col("doc_id") == F.col("_a_doc"))
                & (F.col("_rn") == F.col("_target")),
            )
            .drop("_a_doc", "_rn", "_target")
        )
        return self._with(out)

    def nth_per_doc(self, n: int) -> "ElementFrame":
        """0-based __getitem__ analogue (filtering.py:1041-1053)."""
        return self._at_ranks(F.col("_rn") == n + 1)

    def slice_per_doc(self, start: int, stop: int) -> "ElementFrame":
        """``list[start:stop]`` analogue (filtering.py:1041-1053,
        non-negative bounds): elements at per-doc sorted positions
        [start, stop) within this frame."""
        return self._at_ranks(
            (F.col("_rn") >= start + 1) & (F.col("_rn") <= stop)
        )

    # -- set algebra on (doc_id, idx) (filtering.py:1077-1100) ----------------

    _KEY = ["doc_id", "idx"]

    def union(self, other: "ElementFrame") -> "ElementFrame":
        return self._with(self.df.unionByName(other.df).dropDuplicates(self._KEY))

    def intersect(self, other: "ElementFrame") -> "ElementFrame":
        keys = other.df.select(*self._KEY)
        return self._with(self.df.join(keys, on=self._KEY, how="leftsemi"))

    def subtract(self, other: "ElementFrame") -> "ElementFrame":
        keys = other.df.select(*self._KEY)
        return self._with(self.df.join(keys, on=self._KEY, how="leftanti"))

    def xor(self, other: "ElementFrame") -> "ElementFrame":
        """Spark has no xor; (a−b) ∪ (b−a) would evaluate each side's
        whole lineage twice (the parse kernel 6x in total).  Union +
        per-key side-set does it in ONE pass per side: a key present in
        both sides' side-sets is in the intersection and drops out.
        Robust to duplicate (doc_id, idx) rows WITHIN a side (set
        semantics: one survivor per key), unlike a raw count()==1, so a
        join-expanded frame degrades to set semantics instead of
        corrupting the result.  Both windows cluster on the same key —
        hash(doc_id, idx) satisfies both, so still a single exchange."""
        u = self.df.withColumn("_side", F.lit(0)).unionByName(
            other.df.withColumn("_side", F.lit(1))
        )
        w = Window.partitionBy(*self._KEY)
        wd = Window.partitionBy(*self._KEY).orderBy("_side")
        return self._with(
            u.withColumn("_sides", F.size(F.collect_set("_side").over(w)))
            .withColumn("_rn", F.row_number().over(wd))
            .where((F.col("_sides") == 1) & (F.col("_rn") == 1))
            .drop("_side", "_sides", "_rn")
        )

    # -- sections (SURVEY.md §1.6: per-doc sections table + range join) -------

    def _in_sections(
        self, sections: DataFrame, column: str, value: str
    ) -> "ElementFrame":
        """Elements inside any section whose ``column`` is ``value``:
        range-join membership ``start_idx <= idx <= end_idx`` under a
        doc_id equi-join.  The sections side is per-doc-tiny; the equi
        key keeps the join co-located over the bucketed elements table
        (elements can be in multiple sections, hence the key-dedup)."""
        s = sections.where(F.col(column) == value).select(
            "doc_id", "start_idx", "end_idx"
        )
        joined = (
            self.df.join(s, on="doc_id")
            .where(
                (F.col("idx") >= F.col("start_idx"))
                & (F.col("idx") <= F.col("end_idx"))
            )
            .drop("start_idx", "end_idx")
            .dropDuplicates(self._KEY)
        )
        return self._with(joined)

    def filter_by_section_name(
        self, sections: DataFrame, name: str
    ) -> "ElementFrame":
        """Elements in ANY section with this base name
        (filtering.py:271-287)."""
        return self._in_sections(sections, "name", name)

    def filter_by_section(
        self, sections: DataFrame, unique_name: str
    ) -> "ElementFrame":
        """Elements of ONE section by unique name (filtering.py:289-305);
        missing section -> empty frame (the reference's documented
        missing-section behavior at list level)."""
        return self._in_sections(sections, "unique_name", unique_name)

    # -- terminal helpers ------------------------------------------------------

    def fonts(self) -> DataFrame:
        """document.fonts analogue (components.py:464-472)."""
        return self.df.select("font").distinct()

    def count(self) -> int:
        return self.df.count()

    def ordered(self) -> DataFrame:
        return self.df.orderBy("doc_id", "idx")


def sections_frame(
    starts: ElementFrame,
    ends: ElementFrame,
    name: str,
    include_last_element: bool = True,
) -> DataFrame:
    """Per-document sections table — the distributed
    ``Sectioning.create_section`` (sectioning.py:113-156).

    The k-th start element pairs with the k-th end element of each
    document (rank by idx), mirroring a driver loop that calls
    ``create_section(name, start, end)`` once per marker pair in
    document order.  ``seq`` is the per-name counter, so
    ``unique_name = f"{name}_{seq}"`` — multiple sections per name per
    document, exactly the reference's counter semantics.

    ``include_last_element=False`` decrements end_idx
    (sectioning.py:146-153); pairs whose interval would be empty or
    inverted (the reference raises InvalidSectionError per call) are
    DROPPED here — per-row error semantics, consistent with the
    pipeline's status-column error containment.

    Output: (doc_id, name, seq, unique_name, start_idx, end_idx).
    One tiny per-doc shuffle for the rank windows (reuses the elements
    table's doc_id partitioning when already clustered).
    """
    ws = Window.partitionBy("doc_id").orderBy("start_idx")
    we = Window.partitionBy("doc_id").orderBy("end_idx")
    s = starts.df.select(
        "doc_id", F.col("idx").alias("start_idx")
    ).withColumn("seq", F.row_number().over(ws) - 1)
    e = ends.df.select("doc_id", F.col("idx").alias("end_idx")).withColumn(
        "seq", F.row_number().over(we) - 1
    )
    out = s.join(e, ["doc_id", "seq"])
    if not include_last_element:
        out = out.withColumn("end_idx", F.col("end_idx") - 1)
    return (
        out.where(F.col("start_idx") <= F.col("end_idx"))
        .select(
            "doc_id",
            F.lit(name).alias("name"),
            F.col("seq").cast("long").alias("seq"),
            F.concat(F.lit(name), F.lit("_"), F.col("seq")).alias(
                "unique_name"
            ),
            "start_idx",
            "end_idx",
        )
    )
