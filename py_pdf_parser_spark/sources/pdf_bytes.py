"""PDF byte-stream loader: raw PDF bytes -> kernel Docs -> element rows.

The distributed analogue of the reference's ``load()``/``load_file()``
(reference loaders.py:29-102): pdfminer.six extracts per-page LTTextBox
layout, per-character font names and heights feed the font-MODE columns,
``la_params`` defaults to ``{"boxes_flow": None}`` and ``all_texts``
pulls text out of figures; blank pages are skipped; the password is
forwarded to pdfminer.  Per-document error isolation: a corrupt PDF or
wrong password (``PDFPasswordIncorrect``) is dropped from the elements
output and surfaced as an error row by ``pdf_parse_status`` — it never
fails the Spark task.

pdfminer.six is NOT installed in this sandbox; the built-in extractor
is the engine's own from-scratch, stdlib-only PDF parser
(sources/minipdf — ISO 32000 object/xref/content layers + pdfminer's
public layout rules), which passes the reference's unmodified
test_loaders.py and test_doc_examples goldens (tests/
test_reference_suite.py).  If real pdfminer is importable it is
preferred; an injected ``extract_pages`` callable overrides both
(deterministic fakes in tests/test_sources.py).

At 100 TB: one narrow mapInArrow over the (doc_id, pdf_bytes) scan —
the pipeline's one driver (``pipeline._map_docs``), no shuffle; giant
PDFs are the task-level skew its one splitter (``pipeline._rebalanced``)
already handles (split on byte size at the scan, since ``n_spans`` is
unknown pre-parse).
"""

from __future__ import annotations

import io
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import pipeline
from ..kernel.doc import Doc
from ..schema import ELEMENTS_SCHEMA, EXTRACTED_SCHEMA, PDF_STATUS_SCHEMA

# Reference loaders.py:11 — pdfminer's own ordering is irrelevant
# because the Doc re-orders per element_ordering.
DEFAULT_LA_PARAMS: Dict[str, Any] = {"boxes_flow": None}


_EXTRACTOR_CACHE: Optional[Tuple[Callable, bool]] = None


def _pdfminer_extract_pages() -> Tuple[Callable, bool]:
    """Resolve the byte-stream extractor: (run, is_real_pdfminer).

    Real pdfminer.six wins when importable (exact reference
    dependency); otherwise the engine's own minipdf parser
    (sources/minipdf) — same page/textbox surface, validated against
    the reference's golden PDFs.  Resolved ONCE per process: Python
    does not cache FAILED imports, so without the memo every document
    would redo the sys.path search for the absent pdfminer."""
    global _EXTRACTOR_CACHE
    if _EXTRACTOR_CACHE is None:
        _EXTRACTOR_CACHE = _resolve_extractor()
    return _EXTRACTOR_CACHE


def _resolve_extractor() -> Tuple[Callable, bool]:
    try:
        from pdfminer.high_level import extract_pages
        from pdfminer.layout import LAParams
    except ImportError:
        from .minipdf import LAParams, extract_pages

        def run_mini(data: bytes, password: Optional[str], la: Dict[str, Any]):
            return extract_pages(
                data, laparams=LAParams(**la), password=password
            )

        return run_mini, False

    def run(data: bytes, password: Optional[str], la: Dict[str, Any]):
        return extract_pages(
            io.BytesIO(data),
            laparams=LAParams(**la),
            password=password or "",
        )

    return run, True


def _duck_is_textbox(el: Any) -> bool:
    # Duck-typed textbox check: an LTTextBox has bbox coords +
    # get_text + iterates LTTextLines; images/rects don't.
    return (
        hasattr(el, "get_text")
        and hasattr(el, "x0")
        and not hasattr(el, "stream")
    )


def _make_is_textbox(real_pdfminer: bool) -> Callable[[Any], bool]:
    """Pick the textbox predicate ONCE per document parse.

    With an injected ``extract_pages`` (tests) or the builtin minipdf
    fallback the duck-typed check is used even if pdfminer happens to
    be importable — an isinstance(LTTextBox) check would silently drop
    every fake/minipdf element.  With real pdfminer the exact
    isinstance check is used (reference loaders.py:78), resolved here
    rather than per element (no hot-loop import)."""
    if not real_pdfminer:
        return _duck_is_textbox
    try:
        from pdfminer.layout import LTTextBox
    except ImportError:
        return _duck_is_textbox
    return lambda el: isinstance(el, LTTextBox)


def _char_payload(box: Any) -> Tuple[List[str], List[float]]:
    """Per-character (fontname, height) stream — what the reference's
    font_name/font_size MODE iterates (components.py:174-207)."""
    fonts: List[str] = []
    sizes: List[float] = []
    for line in box:
        try:
            chars = iter(line)
        except TypeError:
            continue
        for ch in chars:
            fontname = getattr(ch, "fontname", None)
            if fontname is None:
                continue  # LTAnno etc.
            fonts.append(fontname)
            sizes.append(float(ch.height))
    return fonts, sizes


def _is_media_figure(el: Any, is_textbox: Callable[[Any], bool]) -> bool:
    """An image-XObject figure: positioned, named, and containing no
    text boxes (form figures that hold text are NOT media)."""
    if is_textbox(el) or not hasattr(el, "x0"):
        return False
    if getattr(el, "name", None) is None:
        return False
    try:
        return not any(is_textbox(child) for child in el)
    except TypeError:
        return True


def doc_from_pdf_bytes(
    doc_id: str,
    data: bytes,
    password: Optional[str] = None,
    la_params: Optional[Dict[str, Any]] = None,
    config: Optional[dict] = None,
    extract_pages: Optional[Callable] = None,
    include_media: bool = False,
) -> Doc:
    """One PDF byte string -> an ordered, classified kernel Doc.

    ``include_media=True`` additionally surfaces image XObjects as
    ``media`` elements whose ``media_ref`` is the image's resource name
    — the byte-stream realization of the interleaved text+media input
    (BASELINE.json input_hint); pdf_writer.render_pdf emits images
    named by media_ref, making span sequences round-trippable through
    real bytes.  Default False = exact reference loader semantics
    (media invisible, loaders.py:76-86)."""
    if extract_pages is not None:
        run, real = extract_pages, False
    else:
        run, real = _pdfminer_extract_pages()
    is_textbox = _make_is_textbox(real_pdfminer=real)
    la = {**DEFAULT_LA_PARAMS, **(la_params or {})}

    page_num: List[int] = []
    x0: List[float] = []
    x1: List[float] = []
    y0: List[float] = []
    y1: List[float] = []
    texts: List[Optional[str]] = []
    kinds: List[str] = []
    media_refs: List[Optional[str]] = []
    char_fonts: List[List[str]] = []
    char_sizes: List[List[float]] = []
    page_width: Dict[int, float] = {}
    page_height: Dict[int, float] = {}

    for page in run(data, password, la):
        boxes = [el for el in page if is_textbox(el)]
        if la.get("all_texts"):
            # Reference loaders.py:80-86: with all_texts, text inside
            # figures is included too.
            for fig in page:
                if not is_textbox(fig) and hasattr(fig, "__iter__"):
                    boxes += [el for el in fig if is_textbox(el)]
        media: List[Any] = []
        if include_media:
            media = [
                el for el in page if _is_media_figure(el, is_textbox)
            ]
        if not boxes and not media:
            continue  # reference loaders.py:88-92: skip blank pages
        pid = int(page.pageid)
        page_width[pid] = float(page.width)
        page_height[pid] = float(page.height)
        for box in boxes:
            page_num.append(pid)
            x0.append(float(box.x0))
            x1.append(float(box.x1))
            y0.append(float(box.y0))
            y1.append(float(box.y1))
            texts.append(box.get_text())
            kinds.append("text")
            media_refs.append(None)
            fonts, sizes = _char_payload(box)
            char_fonts.append(fonts)
            char_sizes.append(sizes)
        for fig in media:
            page_num.append(pid)
            x0.append(float(fig.x0))
            x1.append(float(fig.x1))
            y0.append(float(fig.y0))
            y1.append(float(fig.y1))
            texts.append(None)
            kinds.append("media")
            media_refs.append(str(fig.name))
            char_fonts.append([])
            char_sizes.append([])

    return Doc(
        doc_id,
        page=page_num,
        x0=x0,
        x1=x1,
        y0=y0,
        y1=y1,
        text=texts,
        kind=kinds,
        media_ref=media_refs,
        char_fonts=char_fonts,
        char_sizes=char_sizes,
        page_width=page_width or 100.0,
        page_height=page_height or 100.0,
        **(config or {}),
    )


def _iter_pdf_docs(
    batch: pa.RecordBatch,
    bytes_col: str,
    password_col: Optional[str],
    la_params: Optional[Dict[str, Any]],
    config: Optional[Any],
    extract_pages: Optional[Callable],
    include_media: bool = False,
) -> Iterator[Tuple[str, Any]]:
    """Yield (doc_id, Doc-or-Exception) per PDF in the batch.

    Per-document error isolation: one corrupt PDF (pdfminer
    PDFSyntaxError, PDFPasswordIncorrect, zlib errors...) must not fail
    the Spark task and with it the whole job — mirror the per-document
    handling in the spans parse path (pipeline._iter_docs)."""
    ids = batch.column("doc_id").to_pylist()
    datas = batch.column(bytes_col).to_pylist()
    pwds = (
        batch.column(password_col).to_pylist()
        if password_col
        else [None] * len(ids)
    )
    for doc_id, data, pw in zip(ids, datas, pwds):
        try:
            cfg = config(doc_id) if callable(config) else config
            yield doc_id, doc_from_pdf_bytes(
                doc_id,
                data,
                password=pw,
                la_params=la_params,
                config=cfg,
                extract_pages=extract_pages,
                include_media=include_media,
            )
        except NotImplementedError:
            raise  # missing extractor is an environment error, not a doc
        except Exception as err:  # noqa: BLE001 — per-doc isolation
            yield doc_id, err


def read_pdf_dir(
    spark,
    path: str,
    recursive: bool = False,
    glob: str = "*.pdf",
) -> DataFrame:
    """Distributed ``load_file`` (reference loaders.py:29-41): a
    directory of real ``.pdf`` files -> ``(doc_id, pdf_bytes, n_bytes,
    mtime)`` via Spark's built-in ``binaryFile`` source.

    ``doc_id`` is the file URI.  ``n_bytes`` comes from the FILE STATUS
    (Spark's ``length`` column), so downstream skew routing
    (``extract_spans_from_pdf_rebalanced``) splits light/heavy without
    reading any content; ``pathGlobFilter`` prunes non-PDFs at listing
    time, before any byte is fetched.  Feed the result straight into
    ``parse_pdf_bytes`` / ``extract_spans_from_pdf``.
    """
    reader = spark.read.format("binaryFile").option(
        "pathGlobFilter", glob
    )
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path).select(
        F.col("path").alias("doc_id"),
        F.col("content").alias("pdf_bytes"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("mtime"),
    )


def _map_pdfs(docs_df, pack, schema, bytes_col, password_col, *args):
    """``pipeline._map_docs`` over the PDFs of ``docs_df``: ``pack(docs,
    batch)`` turns a batch's ``_iter_pdf_docs`` pairs into its output;
    ``args`` are ``_iter_pdf_docs``' remaining arguments."""
    cols = ["doc_id", bytes_col] + ([password_col] if password_col else [])
    return pipeline._map_docs(docs_df, cols, lambda batch: pack(
        _iter_pdf_docs(batch, bytes_col, password_col, *args), batch
    ), schema)


def parse_pdf_bytes(
    docs_df: DataFrame,
    bytes_col: str = "pdf_bytes",
    password_col: Optional[str] = None,
    la_params: Optional[Dict[str, Any]] = None,
    config: Optional[Any] = None,
    extract_pages: Optional[Callable] = None,
    include_media: bool = False,
) -> DataFrame:
    """(doc_id, pdf_bytes[, password]) -> elements DataFrame.

    Same output table as ``pipeline.parse_elements`` — every downstream
    operator (filters, geometry, sections, tables, extraction recipes)
    works unchanged on byte-stream-loaded documents.  Documents whose
    parse raises (corrupt bytes, wrong password) are DROPPED here, like
    the spans path drops docs whose build raises; use
    ``pdf_parse_status`` to see which and why.  ``config`` may be a Doc-kwargs dict or a callable
    ``doc_id -> dict`` (per-family configs)."""
    return _map_pdfs(
        docs_df, lambda docs, _: pipeline.pack_elements_batch(docs),
        ELEMENTS_SCHEMA, bytes_col, password_col, la_params, config,
        extract_pages, include_media,
    )


def extract_spans_from_pdf(
    docs_df: DataFrame,
    bytes_col: str = "pdf_bytes",
    password_col: Optional[str] = None,
    la_params: Optional[Dict[str, Any]] = None,
    config: Optional[Any] = None,
    extract_pages: Optional[Callable] = None,
    include_media: bool = False,
) -> DataFrame:
    """(doc_id, pdf_bytes) -> extracted(doc_id, spans, n_spans, status,
    error): the byte-stream twin of ``pipeline.extract_spans``.

    Runs the same per-family extraction recipe on documents parsed from
    REAL PDF bytes; failing documents become status='error' rows.  With
    the pdf_writer's rendered corpora this closes the full round trip:
    spans -> PDF bytes -> parse -> extract == spans-path extract
    (span-sequence equality on kind/text/media_ref/order)."""
    return _map_pdfs(
        docs_df,
        lambda docs, batch: pipeline.pack_extracted_batch(docs, batch.num_rows),
        EXTRACTED_SCHEMA, bytes_col, password_col, la_params, config,
        extract_pages, include_media,
    )


def extract_spans_from_pdf_rebalanced(
    spark,
    docs_df: DataFrame,
    heavy_threshold_bytes: int = 256 * 1024,
    bytes_col: str = "pdf_bytes",
    **kwargs: Any,
) -> DataFrame:
    """``extract_spans_from_pdf`` split by byte size
    (``pipeline._rebalanced``): an ingest-persisted ``n_bytes`` column
    when present, else ``length(pdf_bytes)`` computed in the scan stage.
    Span counts are unknown before parsing a PDF, so byte size is the
    only pre-parse skew signal — and the kernel is near-linear in bytes,
    so byte-bounded branches bound task time (PLANS.md round-1 item 7's
    analysis applies unchanged)."""
    cost = (
        F.col("n_bytes")
        if "n_bytes" in docs_df.columns
        else F.length(bytes_col)
    )
    return pipeline._rebalanced(
        spark, docs_df, cost, heavy_threshold_bytes,
        lambda df: extract_spans_from_pdf(df, bytes_col=bytes_col, **kwargs),
    )


def _pack_status(docs: Iterator[Tuple[str, Any]]) -> pa.RecordBatch:
    return pipeline._rows_batch(
        [
            (doc_id, "error", pipeline._error_text(doc), 0)
            if isinstance(doc, Exception)
            else (doc_id, "ok", None, doc.n)
            for doc_id, doc in docs
        ],
        PDF_STATUS_SCHEMA,
    )


def pdf_parse_status(
    docs_df: DataFrame,
    bytes_col: str = "pdf_bytes",
    password_col: Optional[str] = None,
    la_params: Optional[Dict[str, Any]] = None,
    config: Optional[Any] = None,
    extract_pages: Optional[Callable] = None,
    include_media: bool = False,
) -> DataFrame:
    """Per-document parse audit: (doc_id, status ok|error, error,
    n_elements) — the byte-stream analogue of extract_spans' status
    columns.  Wrong-password documents show up here as
    ``PDFPasswordIncorrect`` rows instead of failing the job."""
    return _map_pdfs(
        docs_df, lambda docs, _: _pack_status(docs), PDF_STATUS_SCHEMA,
        bytes_col, password_col, la_params, config, extract_pages,
        include_media,
    )
