"""Span-sequence round trip through REAL PDF bytes.

The north rule's per-row invariant is span-sequence equality
(kind, text, media_ref, order) against the reference's semantics.  The
spans path proves it against the DuckDB oracle; this module proves the
BYTE-STREAM path end-to-end: render every synthetic family to real PDF
bytes (sources/pdf_writer), parse them back with the from-scratch
stdlib extractor (sources/minipdf via sources/pdf_bytes), run the same
extraction recipes, and require output equality with the spans path —
per document at the kernel level, and as a full distributed Spark job
(render -> parse -> extract vs extract) at the pipeline level.
"""

import pytest

pyspark = pytest.importorskip("pyspark")

from py_pdf_parser_spark.kernel import doc_from_spans, recipe_for  # noqa: E402
from py_pdf_parser_spark.kernel.layout import spans_for  # noqa: E402
from py_pdf_parser_spark.kernel.recipes import default_recipe  # noqa: E402
from py_pdf_parser_spark.sources.pdf_bytes import (  # noqa: E402
    doc_from_pdf_bytes,
    extract_spans_from_pdf,
)
from py_pdf_parser_spark.sources.pdf_writer import (  # noqa: E402
    bytes_config_for,
    render_pdf,
    render_pdfs,
)


def _roundtrip_doc(doc_id: str):
    spans = spans_for(doc_id)
    d_spans = doc_from_spans(doc_id, spans)
    pdf = render_pdf(doc_id, spans)
    d_bytes = doc_from_pdf_bytes(
        doc_id, pdf, config=bytes_config_for(doc_id), include_media=True
    )
    return d_spans, d_bytes


class TestKernelRoundtrip:
    @pytest.mark.parametrize(
        "doc_id",
        [
            "memo-000003",
            "ora-000017",
            "ora-000038",  # 24 spans incl. media
            "ordsum-000002",  # fonts + sections + two tables
            "media-000005",  # interleaved text+media
            "bigmedia-000001",  # pathological giant media spans
        ],
    )
    def test_recipe_and_sequence_equal(self, doc_id):
        d_spans, d_bytes = _roundtrip_doc(doc_id)
        assert d_spans.n == d_bytes.n  # no layout-analysis merge/split
        recipe = recipe_for(doc_id)
        assert recipe(d_spans) == recipe(d_bytes)
        assert default_recipe(d_spans) == default_recipe(d_bytes)

    def test_sweep_all_families(self):
        bad = []
        for fam, n in [("ora", 40), ("memo", 5), ("media", 10),
                       ("ordsum", 5)]:
            for i in range(n):
                doc_id = f"{fam}-{i:06d}"
                d_spans, d_bytes = _roundtrip_doc(doc_id)
                recipe = recipe_for(doc_id)
                if (
                    recipe(d_spans) != recipe(d_bytes)
                    or default_recipe(d_spans) != default_recipe(d_bytes)
                ):
                    bad.append(doc_id)
        assert bad == []

    def test_bigdoc_many_pages(self):
        # 800-page pathological document: page ids, ordering, and the
        # full span sequence survive the byte trip
        d_spans, d_bytes = _roundtrip_doc("bigdoc-000001")
        assert default_recipe(d_spans) == default_recipe(d_bytes)
        assert list(d_spans.page) == list(d_bytes.page)

    def test_media_refs_name_escaped(self):
        # media_ref strings contain PDF-name-hostile chars (m://i/o);
        # the writer #XX-escapes them and the parser restores exactly
        d_spans, d_bytes = _roundtrip_doc("ora-000003")
        refs_a = [r for r in d_spans.media_ref if r is not None]
        refs_b = [r for r in d_bytes.media_ref if r is not None]
        assert refs_a == refs_b
        assert any("://" in r for r in refs_a)


class TestSparkRoundtrip:
    @pytest.fixture(scope="class")
    def spark(self):
        from py_pdf_parser_spark.session import get_spark

        return get_spark(cores=4)

    def test_distributed_render_parse_extract(self, spark):
        """Full job: spans corpus -> render_pdfs -> extract_spans_from_pdf
        must equal the spans-path extract_spans, row for row."""
        from py_pdf_parser_spark.pipeline import extract_spans
        from py_pdf_parser_spark.synth import ensure_mixed_corpus

        docs = spark.read.parquet(ensure_mixed_corpus(0.001))
        expected = {
            r.doc_id: (r.status, [tuple(s) for s in (r.spans or [])])
            for r in extract_spans(spark, docs).collect()
        }

        pdfs = render_pdfs(docs)
        got = {
            r.doc_id: (r.status, [tuple(s) for s in (r.spans or [])])
            for r in extract_spans_from_pdf(
                pdfs, config=bytes_config_for, include_media=True
            ).collect()
        }
        assert set(got) == set(expected)
        mismatched = [d for d in expected if got[d] != expected[d]]
        assert mismatched == [], mismatched[:5]

    def test_corrupt_pdf_is_error_row(self, spark):
        df = spark.createDataFrame(
            [("bad-000001", bytearray(b"not a pdf"))],
            "doc_id string, pdf_bytes binary",
        )
        rows = extract_spans_from_pdf(df).collect()
        assert rows[0].status == "error"
        assert rows[0].n_spans == 0


class TestBytePathScaleMachinery:
    @pytest.fixture(scope="class")
    def spark(self):
        from py_pdf_parser_spark.session import get_spark

        return get_spark(cores=4)

    def test_rebalanced_equals_plain(self, spark):
        """Byte-size skew split (giant PDFs routed through a round-robin
        exchange) must not change results, with or without an
        ingest-persisted n_bytes column."""
        from pyspark.sql import functions as F

        from py_pdf_parser_spark.kernel.layout import spans_for
        from py_pdf_parser_spark.sources.pdf_bytes import (
            extract_spans_from_pdf_rebalanced,
        )

        rows = [
            (d, render_pdf(d, spans_for(d)))
            for d in [f"ora-{i:06d}" for i in range(12)]
            + ["bigmedia-000001"]  # ~0.5 MB: lands in the heavy branch
        ]
        df = spark.createDataFrame(rows, "doc_id string, pdf_bytes binary")

        def result(frame):
            return sorted(
                (r.doc_id, r.status, tuple(tuple(s) for s in (r.spans or [])))
                for r in frame.collect()
            )

        plain = result(
            extract_spans_from_pdf(
                df, config=bytes_config_for, include_media=True
            )
        )
        rebal = result(
            extract_spans_from_pdf_rebalanced(
                spark, df, config=bytes_config_for, include_media=True
            )
        )
        assert rebal == plain
        with_col = df.withColumn("n_bytes", F.length("pdf_bytes"))
        rebal2 = result(
            extract_spans_from_pdf_rebalanced(
                spark, with_col, config=bytes_config_for, include_media=True
            )
        )
        assert rebal2 == plain

    def test_stream_pdf_extract_matches_batch(self, spark, tmp_path):
        """Streaming REAL-PDF ingestion == batch byte-path extraction."""
        from functools import partial

        from py_pdf_parser_spark.kernel.layout import spans_for
        from py_pdf_parser_spark.schema import PDF_BYTES_SCHEMA
        from py_pdf_parser_spark.streaming import stream

        rows = [
            (d, render_pdf(d, spans_for(d)))
            for d in [f"ora-{i:06d}" for i in range(8)]
            + [f"memo-{i:06d}" for i in range(4)]
        ]
        df = spark.createDataFrame(rows, "doc_id string, pdf_bytes binary")
        in_dir = str(tmp_path / "pdf_in")
        df.repartition(3).write.parquet(in_dir)

        out_dir = str(tmp_path / "pdf_out")
        ckpt = str(tmp_path / "pdf_ckpt")
        query = stream(
            spark, in_dir, PDF_BYTES_SCHEMA,
            partial(
                extract_spans_from_pdf,
                config=bytes_config_for, include_media=True,
            ),
            output_dir=out_dir, checkpoint_dir=ckpt,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()

        def result(frame):
            return sorted(
                (r.doc_id, r.status, tuple(tuple(s) for s in (r.spans or [])))
                for r in frame.collect()
            )

        got = result(spark.read.parquet(out_dir).drop("batch_id"))
        want = result(
            extract_spans_from_pdf(
                spark.read.parquet(in_dir),
                config=bytes_config_for,
                include_media=True,
            )
        )
        assert got == want

    def test_read_pdf_dir_roundtrip(self, spark, tmp_path):
        """A directory of real .pdf files (the reference's load_file
        surface, distributed): binaryFile listing -> parse -> extract
        equals the in-memory byte path; non-PDFs pruned at listing;
        n_bytes comes from file status so the skew router needs no
        content read."""
        from py_pdf_parser_spark.sources.pdf_bytes import (
            extract_spans_from_pdf_rebalanced,
            read_pdf_dir,
        )

        pdf_dir = tmp_path / "pdfs"
        pdf_dir.mkdir()
        doc_ids = [f"ora-{i:06d}" for i in range(6)] + ["memo-000000"]
        blobs = {d: render_pdf(d, spans_for(d)) for d in doc_ids}
        for d, blob in blobs.items():
            (pdf_dir / f"{d}.pdf").write_bytes(blob)
        (pdf_dir / "notes.txt").write_text("not a pdf")

        df = read_pdf_dir(spark, str(pdf_dir))
        rows = df.select("doc_id", "n_bytes").collect()
        assert len(rows) == len(doc_ids)  # .txt pruned by the glob
        by_name = {r.doc_id.rsplit("/", 1)[-1]: r.n_bytes for r in rows}
        for d, blob in blobs.items():
            assert by_name[f"{d}.pdf"] == len(blob)

        # doc_id is the file URI — strip to the family id for configs
        from pyspark.sql import functions as F

        named = df.withColumn(
            "doc_id",
            F.regexp_replace(
                F.element_at(F.split("doc_id", "/"), -1), r"\.pdf$", ""
            ),
        )
        got = sorted(
            (r.doc_id, r.status, tuple(tuple(s) for s in (r.spans or [])))
            for r in extract_spans_from_pdf_rebalanced(
                spark, named, config=bytes_config_for, include_media=True
            ).collect()
        )
        mem = spark.createDataFrame(
            list(blobs.items()), "doc_id string, pdf_bytes binary"
        )
        want = sorted(
            (r.doc_id, r.status, tuple(tuple(s) for s in (r.spans or [])))
            for r in extract_spans_from_pdf(
                mem, config=bytes_config_for, include_media=True
            ).collect()
        )
        assert got == want
