"""Arrow-batch kernel plumbing: error containment, empty batches."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from py_pdf_parser_spark.kernel.doc import PageOrdering
from py_pdf_parser_spark.kernel.layout import (
    SPAN_BUILDERS,
    media_spans,
    memo_spans,
    ora_spans,
)
from py_pdf_parser_spark.kernel.parse import doc_from_spans
from py_pdf_parser_spark.pipeline import (
    extract_arrow_batch,
    pack_elements_batch,
    parse_elements_arrow_batch,
)
from py_pdf_parser_spark.sources.pdf_writer import render_pdf
from py_pdf_parser_spark.synth import SPANS_ARROW_SCHEMA


def _batch(rows):
    if not rows:
        return pa.record_batch(
            [pa.array([], type=f.type) for f in SPANS_ARROW_SCHEMA],
            schema=SPANS_ARROW_SCHEMA,
        )
    return pa.Table.from_pydict(
        {
            "doc_id": [r[0] for r in rows],
            "spans": [
                None if r[1] is None else [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in r[1]
                ]
                for r in rows
            ],
            "n_spans": [len(r[1] or ()) for r in rows],
        },
        schema=SPANS_ARROW_SCHEMA,
    ).to_batches()[0]


def test_recipe_error_becomes_error_record():
    # memo doc missing its 'TO:' label: recipe raises NoElementFoundError,
    # which must become a status=error row, not a batch failure.
    truncated = [s for s in memo_spans(0) if s[1] != "TO:"]
    batch = _batch([
        ("ora-000001", ora_spans(1)),
        ("memo-000000", truncated),
    ])
    out = extract_arrow_batch(batch, [])
    statuses = out.column(3).to_pylist()
    errors = out.column(4).to_pylist()
    assert statuses == ["ok", "error"]
    assert errors[0] is None
    assert "NoElementFoundError" in errors[1]
    # Errored doc emits zero spans but keeps its row.
    assert out.column(2).to_pylist() == [len(ora_spans(1)), 0]


def test_empty_batch():
    batch = _batch([])
    out = extract_arrow_batch(batch, [])
    assert out.num_rows == 0
    pe = parse_elements_arrow_batch(batch)
    assert pe.num_rows == 0


def test_error_doc_does_not_poison_neighbors():
    rows = [(f"ora-{i:06d}", ora_spans(i)) for i in range(5)]
    truncated = [s for s in memo_spans(0) if s[1] != "SUBJECT:"]
    rows.insert(2, ("memo-000099", truncated))
    out = extract_arrow_batch(_batch(rows), [])
    statuses = out.column(3).to_pylist()
    assert statuses.count("ok") == 5 and statuses.count("error") == 1


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table.combine_chunks())
    return sink.getvalue().to_pybytes()


def test_any_exception_is_contained_per_document(monkeypatch):
    """Not only DocError: a recipe raising RuntimeError and a span struct
    whose offsets fall outside the layout (IndexError) each become one
    error row, and every other row is byte-identical to the clean batch."""
    from py_pdf_parser_spark import pipeline

    clean = [(f"ora-{i:06d}", ora_spans(i)) for i in range(4)]
    clean.append(("memo-000000", memo_spans(0)))
    malformed = [(k, t, m, -10**9) for k, t, m, _ in memo_spans(8)]
    poisoned = clean[:2] + [("memo-000007", memo_spans(7))] + clean[2:]
    poisoned.append(("memo-000008", malformed))

    def raises(doc):
        raise RuntimeError("recipe bug")

    real_recipe_for = pipeline.recipe_for
    monkeypatch.setattr(
        pipeline, "recipe_for",
        lambda doc_id: raises if doc_id == "memo-000007"
        else real_recipe_for(doc_id),
    )

    out = pa.Table.from_batches([extract_arrow_batch(_batch(poisoned), [])])
    rows = {r["doc_id"]: r for r in out.to_pylist()}
    assert rows["memo-000007"]["status"] == "error"
    assert rows["memo-000007"]["error"] == "RuntimeError: recipe bug"
    assert rows["memo-000008"]["status"] == "error"
    assert rows["memo-000008"]["error"].startswith("IndexError: ")
    kept = out.filter(pa.array(
        [d not in ("memo-000007", "memo-000008") for d in rows]
    ))
    expected = pa.Table.from_batches([extract_arrow_batch(_batch(clean), [])])
    assert kept.column("status").to_pylist() == ["ok"] * len(clean)
    assert _ipc_bytes(kept) == _ipc_bytes(expected)

    # The parse stage drops the doc it cannot build (memo-000008).
    elements = pa.Table.from_batches([parse_elements_arrow_batch(
        _batch([r for r in poisoned if r[0] != "memo-000007"])
    )])
    expected = pa.Table.from_batches(
        [parse_elements_arrow_batch(_batch(clean))]
    )
    assert _ipc_bytes(elements) == _ipc_bytes(expected)


def test_null_span_offset_is_an_error_row():
    """A span with a null offset cannot be ordered, a span with a null
    kind cannot be classified, and a text span with a null text has
    nothing to extract: each document becomes an error row instead of
    extracting garbage, and the batch's other documents come out
    byte-identical to a clean batch."""
    clean = [(f"ora-{i:06d}", ora_spans(i)) for i in range(3)]
    clean += [("memo-000000", memo_spans(0)), ("media-000002", media_spans(2))]
    bad = {
        "ora-000099": ([("text", "a", None, 0), ("text", "x", None, None)],
                       "ValueError: null span offset"),
        "ora-000098": ([("media", None, "m0", 0), ("text", None, None, 1)],
                       "ValueError: null text in text span"),
        "ora-000097": ([(None, "tok7", None, 2)], "ValueError: null span kind"),
    }
    poisoned = clean[:2] + [(d, spans) for d, (spans, _) in bad.items()]
    poisoned += clean[2:]

    out = pa.Table.from_batches([extract_arrow_batch(_batch(poisoned), [])])
    rows = {r["doc_id"]: r for r in out.to_pylist()}
    for doc_id, (_, error) in bad.items():
        assert rows[doc_id]["status"] == "error"
        assert rows[doc_id]["error"] == error
        assert rows[doc_id]["n_spans"] == 0
    kept = out.filter(pa.array([d not in bad for d in rows]))
    expected = pa.Table.from_batches([extract_arrow_batch(_batch(clean), [])])
    # media spans carry a null text by design
    assert kept.column("status").to_pylist() == ["ok"] * len(clean)
    assert _ipc_bytes(kept) == _ipc_bytes(expected)

    elements = pa.Table.from_batches(
        [parse_elements_arrow_batch(_batch(poisoned))]
    )
    expected = pa.Table.from_batches(
        [parse_elements_arrow_batch(_batch(clean))]
    )
    assert _ipc_bytes(elements) == _ipc_bytes(expected)


def test_raising_ordering_callable_drops_its_documents():
    """A custom ``element_ordering`` that raises for some documents drops
    exactly those from the parse; the others parse as with an ordering
    that never raises."""
    def order(views):
        if any(v.text == "TO:" for v in views):
            raise RuntimeError("ordering bug")
        return views

    ora = [(f"ora-{i:06d}", ora_spans(i)) for i in range(3)]
    batch = _batch(ora[:1] + [("memo-000000", memo_spans(0))] + ora[1:])
    out = parse_elements_arrow_batch(
        batch, config={"element_ordering": PageOrdering(order)}
    )
    expected = parse_elements_arrow_batch(
        _batch(ora), config={"element_ordering": PageOrdering(lambda v: v)}
    )
    assert out.num_rows > 0
    assert _ipc_bytes(pa.Table.from_batches([out])) == _ipc_bytes(
        pa.Table.from_batches([expected])
    )


def test_kernel_probe_patch_points_are_on_the_hot_path(tmp_path):
    """perfbench's Spark-free probe times the kernel by swapping module
    globals (``pipeline._flatten_span_batch``, ``doc_from_arrays``,
    ``recipe_for``, ``pdf_bytes.doc_from_pdf_bytes``) for timers: each
    must still be what the batch body calls, or its layer reads 0."""
    from perfbench.layers import kernel_probe

    rows = [(f"{fam}-{n:06d}", SPAN_BUILDERS[fam](n))
            for fam, n in (("ora", 1), ("memo", 0), ("media", 2), ("ordsum", 0))]
    (tmp_path / "spans").mkdir()
    pq.write_table(pa.Table.from_batches([_batch(rows)]),
                   tmp_path / "spans" / "part-0.parquet")
    (tmp_path / "pdf").mkdir()
    pq.write_table(pa.table({
        "doc_id": [d for d, _ in rows],
        "pdf_bytes": pa.array([render_pdf(d, s) for d, s in rows], pa.binary()),
    }), tmp_path / "pdf" / "part-0.parquet")

    spans, _ = kernel_probe(str(tmp_path / "spans"), pdf=False)
    for key in ("kernel.flatten_s", "kernel.parse_s", "kernel.recipe_s"):
        assert spans[key] > 0, key
    pdf, _ = kernel_probe(str(tmp_path / "pdf"), pdf=True)
    assert pdf["sources.pdf_parse_s"] > 0
    assert pdf["kernel.recipe_s"] > 0


def _model_doc(doc_id, spans, config=None):
    """The per-document model of the batch parse: the pipeline's null
    span rules, then ``doc_from_spans``."""
    spans = spans or []
    if any(k is None for k, _, _, _ in spans):
        raise ValueError("null span kind")
    if any(k == "text" and t is None for k, t, _, _ in spans):
        raise ValueError("null text in text span")
    if any(o is None for _, _, _, o in spans):
        raise ValueError("null span offset")
    return doc_from_spans(doc_id, spans, config)


def _differential_rows():
    rows = []
    for family, build in sorted(SPAN_BUILDERS.items()):
        for n in (0, 1, 7):
            spans = build(n)
            rows.append((f"{family}-{n:06d}", spans[:40]))
    rows += [
        ("ora-000050", []),
        ("ora-000051", None),
        ("ora-000052", [("text", "a", None, 0), ("text", "x", None, None)]),
        ("ora-000053", [("media", None, "m0", 0), ("text", None, None, 1)]),
        ("ora-000054", [("text", "a", None, 0), (None, "tok7", None, 2)]),
        ("memo-000055", [("text", "TO:", None, 0), ("text", "x", None, 99)]),
        ("ora-000056", [("text", "  padded\t", None, 0),
                        ("text", "\u2003em\u2003", None, 1),
                        ("media", None, "m://56/2", 2)]),
        ("memo-000057", memo_spans(57)),  # its recipe raises, below
        ("zzz-000001", [("text", "a", None, 0)]),
    ]
    return rows


def test_batch_kernel_equals_per_document_model(monkeypatch):
    """One Arrow batch of every family plus empty, null and malformed
    documents: ``extract_arrow_batch`` equals ``recipe_for(d)`` applied
    to each document's own ``doc_from_spans``, and
    ``parse_elements_arrow_batch`` equals the per-document parse, under
    a ``PageOrdering``, a key-function ordering, a regex font mapping and
    per-character fonts."""
    from py_pdf_parser_spark import pipeline

    def raises(doc):
        raise RuntimeError("recipe bug")

    real_recipe_for = pipeline.recipe_for
    monkeypatch.setattr(
        pipeline, "recipe_for",
        lambda doc_id: raises if doc_id == "memo-000057"
        else real_recipe_for(doc_id),
    )
    rows = _differential_rows()
    batch = _batch(rows)

    got = extract_arrow_batch(batch, []).to_pylist()
    want = []
    for doc_id, spans in rows:
        try:
            out = list(pipeline.recipe_for(doc_id)(_model_doc(doc_id, spans)))
            row = ("ok", None, out)
        except Exception as err:
            row = ("error", f"{type(err).__name__}: {err}", [])
        want.append({
            "doc_id": doc_id,
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "order": o}
                for o, (k, t, m) in enumerate(row[2])
            ],
            "n_spans": len(row[2]),
            "status": row[0],
            "error": row[1],
        })
    assert got == want
    statuses = {r["doc_id"]: r["error"] for r in got}
    assert statuses["ora-000054"] == "ValueError: null span kind"
    assert statuses["memo-000057"] == "RuntimeError: recipe bug"
    assert statuses["memo-000055"] == "IndexError: list index out of range"

    for config in (
        None,
        {"element_ordering": PageOrdering(lambda views: views[::-1])},
        {"element_ordering": lambda x0, y0: (np.floor(x0 / 20), -y0)},
        {"font_mapping": {"^f0": "heading", "^f[12],(9|10)": "big"},
         "font_mapping_is_regex": True},
        {"char_fonts_from_text": True},
    ):
        got = pa.Table.from_batches([parse_elements_arrow_batch(batch, config)])
        per_doc = []
        for doc_id, spans in rows:
            try:
                doc = _model_doc(doc_id, spans, config)
            except Exception as err:
                doc = err
            per_doc.append(pack_elements_batch([(doc_id, doc)]))
        want = pa.Table.from_batches(per_doc, schema=got.schema)
        assert got.equals(want.combine_chunks()), config
