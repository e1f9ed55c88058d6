"""Spark-layer tests: parse stage, ElementFrame vs kernel differential,
extraction pipeline, checkpoint/resume."""

import functools
import operator
import os
import random
import shutil

import pytest

from py_pdf_parser_spark.kernel.layout import ora_spans
from py_pdf_parser_spark.kernel.parse import doc_from_spans

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from py_pdf_parser_spark.frame import ElementFrame  # noqa: E402
from py_pdf_parser_spark.pipeline import (  # noqa: E402
    extract_spans,
    parse_elements,
    run_job,
)
from py_pdf_parser_spark.synth import (  # noqa: E402
    ensure_mixed_corpus,
    ensure_oracle_corpus,
)


@pytest.fixture(scope="module")
def spark():
    from py_pdf_parser_spark.session import get_spark

    s = get_spark(cores=4)
    yield s


@pytest.fixture(scope="module")
def ora_docs(spark):
    path = ensure_oracle_corpus(0.001)
    return spark.read.parquet(path)


class TestParseElements:
    def test_schema_and_counts(self, spark, ora_docs):
        elements = parse_elements(ora_docs)
        total_spans = ora_docs.select(
            F.sum(F.size("spans")).alias("n")
        ).collect()[0]["n"]
        assert elements.count() == total_spans
        assert set(elements.columns) >= {
            "doc_id", "idx", "page_number", "x0", "x1", "y0", "y1",
            "text", "font", "kind", "media_ref",
        }

    def test_idx_dense_and_ordered(self, spark, ora_docs):
        elements = parse_elements(ora_docs)
        bad = (
            elements.groupBy("doc_id")
            .agg(
                F.count("*").alias("n"),
                F.max("idx").alias("mx"),
                F.min("idx").alias("mn"),
            )
            .where((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
            .count()
        )
        assert bad == 0

    def test_matches_kernel_exactly(self, spark, ora_docs):
        elements = parse_elements(ora_docs).orderBy("doc_id", "idx")
        rows = elements.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, doc_rows in list(by_doc.items())[:20]:
            i = int(doc_id.split("-")[1])
            doc = doc_from_spans(doc_id, ora_spans(i))
            assert len(doc_rows) == doc.n
            for pos, r in enumerate(doc_rows):
                assert r["idx"] == pos
                assert r["page_number"] == doc.page[pos]
                assert r["x0"] == doc.x0[pos]
                assert r["text"] == doc.text_stripped[pos]
                assert r["font"] == doc.font[pos]


_DIRECTIONAL = (
    ("to_the_right_of", False), ("to_the_left_of", False),
    ("horizontally_in_line_with", False),
    ("below", False), ("below", True), ("above", False), ("above", True),
    ("vertically_in_line_with", False), ("vertically_in_line_with", True),
)


def _seeded_layout_docs(n_docs=60, seed=7):
    """doc_id -> kernel Doc: up to three pages of 25 or 200 units a side,
    elements at integral coordinates in [-5, 40], one element's text "A"
    (the anchor) and another's "B"."""
    from py_pdf_parser_spark.kernel.doc import Doc

    rng = random.Random(seed)
    docs = {}
    for d in range(n_docs):
        n = rng.randint(2, 14)
        page = [rng.randint(1, 3) for _ in range(n)]
        x0 = [float(rng.randint(-5, 30)) for _ in range(n)]
        y0 = [float(rng.randint(-5, 30)) for _ in range(n)]
        a, b = rng.sample(range(n), 2)
        text = ["A" if i == a else "B" if i == b else f"t{i}" for i in range(n)]
        doc_id = f"lay-{d:06d}"
        docs[doc_id] = Doc(
            doc_id,
            page=page,
            x0=x0, x1=[x + rng.randint(0, 10) for x in x0],
            y0=y0, y1=[y + rng.randint(0, 10) for y in y0],
            text=text,
            page_width={p: rng.choice([25.0, 200.0]) for p in (1, 2, 3)},
            page_height={p: rng.choice([25.0, 200.0]) for p in (1, 2, 3)},
        )
    return docs


def _elements_frame(spark, docs) -> ElementFrame:
    """The documents' elements, in document order, as one DataFrame."""
    import pyarrow as pa

    cols = {name: [] for name in (
        "doc_id", "idx", "page_number", "page_width", "page_height",
        "x0", "x1", "y0", "y1", "text",
    )}
    for d, doc in docs.items():
        pages = doc.page.tolist()
        cols["doc_id"] += [d] * doc.n
        cols["idx"] += list(range(doc.n))
        cols["page_number"] += pages
        cols["page_width"] += [float(doc.page_width(p)) for p in pages]
        cols["page_height"] += [float(doc.page_height(p)) for p in pages]
        for name in ("x0", "x1", "y0", "y1"):
            cols[name] += getattr(doc, name).tolist()
        cols["text"] += doc.text_raw.tolist()
    return ElementFrame(spark.createDataFrame(pa.table(cols)))


def _collect_tagged(frames) -> dict:
    """config -> the (doc_id, idx) keys of its ElementFrame, all configs
    tagged in one union and collected once."""
    tagged = [
        f.df.select(F.lit(config).alias("config"), "doc_id", "idx")
        for config, f in frames.items()
    ]
    out = {config: set() for config in frames}
    for r in functools.reduce(DataFrame.unionByName, tagged).collect():
        out[r["config"]].add((r["doc_id"], r["idx"]))
    return out


class TestElementFrameDifferential:
    """DataFrame-level operators must agree with the kernel per doc."""

    def _kernel_docs(self, n=15):
        return {
            f"ora-{i:06d}": doc_from_spans(f"ora-{i:06d}", ora_spans(i))
            for i in range(n)
        }

    def _collect_keys(self, ef):
        return {
            (r["doc_id"], r["idx"])
            for r in ef.df.select("doc_id", "idx").collect()
        }

    def test_text_and_font_filters(self, spark, ora_docs):
        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000015'"))
        docs = self._kernel_docs()
        got = self._collect_keys(ef.filter_by_text_equal("HDR:"))
        want = {
            (d, i)
            for d, doc in docs.items()
            for i in doc.elements.filter_by_text_equal("HDR:")
        }
        assert got == want
        got_f = self._collect_keys(ef.filter_by_font("f1,8"))
        want_f = {
            (d, i)
            for d, doc in docs.items()
            for i in doc.elements.filter_by_font("f1,8")
        }
        assert got_f == want_f

    def test_regex_parity(self, spark, ora_docs):
        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000015'"))
        docs = self._kernel_docs()
        got = self._collect_keys(ef.filter_by_regex(r"tok1\d$"))
        want = {
            (d, i)
            for d, doc in docs.items()
            for i in doc.elements.filter_by_regex(r"tok1\d$")
        }
        assert got == want

    def test_directional_join(self, spark, ora_docs):
        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000015'"))
        docs = self._kernel_docs()
        anchors = ef.filter_by_text_equal("HDR:")
        got = self._collect_keys(ef.to_the_right_of(anchors))
        want = set()
        for d, doc in docs.items():
            a = doc.elements.filter_by_text_equal("HDR:").extract_single_element()
            want |= {(d, i) for i in doc.elements.to_the_right_of(a)}
        assert got == want

    def test_below_all_pages(self, spark, ora_docs):
        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000015'"))
        docs = self._kernel_docs()
        anchors = ef.filter_by_text_equal("HDR:")
        got = self._collect_keys(ef.below(anchors, all_pages=True))
        want = set()
        for d, doc in docs.items():
            a = doc.elements.filter_by_text_equal("HDR:").extract_single_element()
            want |= {(d, i) for i in doc.elements.below(a, all_pages=True)}
        assert got == want

    def test_between_and_set_ops(self, spark, ora_docs):
        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000015'"))
        docs = self._kernel_docs()
        start = ef.filter_by_text_equal("HDR:")
        end = ef.filter_by_text_equal("END:")
        got = self._collect_keys(ef.between(start, end))
        want = set()
        for d, doc in docs.items():
            s = doc.elements.filter_by_text_equal("HDR:").extract_single_element()
            e = doc.elements.filter_by_text_equal("END:").extract_single_element()
            want |= {(d, i) for i in doc.elements.between(s, e)}
        assert got == want
        # xor of text vs media
        text_ef = ef.filter_by_kind("text")
        media_ef = ef.filter_by_kind("media")
        assert self._collect_keys(text_ef.xor(media_ef)) == self._collect_keys(
            text_ef.union(media_ef)
        )

    def test_first_last_per_doc(self, spark, ora_docs):
        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000015'"))
        firsts = ef.first_per_doc().df.select("doc_id", "idx").collect()
        assert all(r["idx"] == 0 for r in firsts)
        lasts = {
            r["doc_id"]: r["idx"]
            for r in ef.last_per_doc().df.select("doc_id", "idx").collect()
        }
        docs = self._kernel_docs()
        assert lasts == {d: doc.n - 1 for d, doc in docs.items()}

    def test_seeded_layouts_match_kernel_and_naive(self, spark):
        """Seeded multi-page documents on 25- or 200-unit pages with
        integral coordinates in [-5, 40], so edges touch and elements —
        anchors among them — lie past the page edge.  Per document, every
        directional operator (tolerance 0, > 0 and < 0, with and without
        all_pages), the order operators and the set operators return from
        ElementFrame what the kernel returns; an anchor the kernel rejects
        with InvalidCoordinatesError contributes no frame rows.  The
        kernel side is also checked against the naive per-element
        definition, so a misreading both engines share cannot pass."""
        from py_pdf_parser_spark.errors import InvalidCoordinatesError
        from tests.test_properties import _naive

        docs = _seeded_layout_docs()
        ef = _elements_frame(spark, docs)
        first, second = ef.filter_by_text_equal("A"), ef.filter_by_text_equal("B")
        marks = {
            d: (doc.text_raw.tolist().index("A"), doc.text_raw.tolist().index("B"))
            for d, doc in docs.items()
        }
        # config -> its ElementFrame, and -> (doc_id, Doc) -> kernel result
        frames, kernel = {}, {}
        rejected = set()

        def directional(op, kwargs):
            def run(d, doc):
                a = marks[d][0]
                want = _naive(doc, set(range(doc.n)), op, a, **kwargs)
                if want is InvalidCoordinatesError:
                    with pytest.raises(InvalidCoordinatesError):
                        getattr(doc.elements, op)(a, **kwargs)
                    rejected.add(op)
                    return set()
                got = set(getattr(doc.elements, op)(a, **kwargs))
                assert got == want, (d, op, kwargs)
                return got
            return run

        for op, all_pages in _DIRECTIONAL:
            for tolerance in (0.0, 2.5, -1.0):
                kwargs = {"inclusive": tolerance > 0, "tolerance": tolerance}
                if all_pages:
                    kwargs["all_pages"] = True
                config = f"{op} {kwargs}"
                frames[config] = getattr(ef, op)(first, **kwargs)
                kernel[config] = directional(op, kwargs)

        for inclusive in (False, True):
            frames[f"before {inclusive}"] = ef.before(first, inclusive)
            kernel[f"before {inclusive}"] = (
                lambda d, doc, inc=inclusive: doc.elements.before(marks[d][0], inc)
            )
            frames[f"after {inclusive}"] = ef.after(first, inclusive)
            kernel[f"after {inclusive}"] = (
                lambda d, doc, inc=inclusive: doc.elements.after(marks[d][0], inc)
            )
            frames[f"between {inclusive}"] = ef.between(first, second, inclusive)
            kernel[f"between {inclusive}"] = (
                lambda d, doc, inc=inclusive: doc.elements.between(*marks[d], inc)
            )

        left = ef.after(first)
        right = ef.vertically_in_line_with(first, all_pages=True, tolerance=1.0)

        def operands(d, doc):
            a = marks[d][0]
            return doc.elements.after(a), doc.elements.vertically_in_line_with(
                a, all_pages=True, tolerance=1.0
            )

        for name, kernel_op in (
            ("union", operator.or_), ("intersect", operator.and_),
            ("subtract", operator.sub), ("xor", operator.xor),
        ):
            frames[name] = getattr(left, name)(right)
            kernel[name] = (
                lambda d, doc, f=kernel_op: f(*operands(d, doc))
            )

        got = _collect_tagged(frames)
        for config, kernel_of in kernel.items():
            want = {
                (d, int(i)) for d, doc in docs.items() for i in kernel_of(d, doc)
            }
            assert got[config] == want, config
        # the seeds reach every page-edge rejection the operators have
        assert rejected == {"to_the_right_of", "to_the_left_of", "below", "above"}


class TestMoveFrom:
    def test_capped_colliding_anchors_stay_key_unique(self, spark, ora_docs):
        """Two out-of-range anchors in one doc both clamp to the last
        element under capped=True — the output must carry that element
        ONCE (key-unique (doc_id, idx), the frame invariant)."""
        ef = ElementFrame.from_documents(
            ora_docs.where("doc_id = 'ora-000000'")
        )
        last_idx = ef.last_per_doc().df.select("idx").collect()[0]["idx"]
        # the last two elements: both + large count overshoot the end
        anchors = ElementFrame(ef.df.where(F.col("idx") >= last_idx - 1))
        out = ef.move_from(anchors, count=10, capped=True).df
        rows = out.select("doc_id", "idx").collect()
        assert len(rows) == 1
        assert rows[0]["idx"] == last_idx


class TestSectionsFrame:
    def test_counter_and_include_last_element(self, spark, ora_docs):
        from py_pdf_parser_spark.frame import sections_frame

        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000005'"))
        starts = ef.where(F.col("x0") == 5.0)
        ends = ef.where(F.col("x0") == 65.0)
        secs = sections_frame(starts, ends, "row").collect()
        assert secs
        per_doc = {}
        for r in secs:
            assert r["unique_name"] == f"row_{r['seq']}"
            assert r["start_idx"] <= r["end_idx"]
            per_doc.setdefault(r["doc_id"], []).append(r["seq"])
        for seqs in per_doc.values():
            # per-name counter: dense 0..k-1 per document
            assert sorted(seqs) == list(range(len(seqs)))
        incl = {(r["doc_id"], r["seq"]): r["end_idx"] for r in secs}
        excl = sections_frame(
            starts, ends, "row", include_last_element=False
        ).collect()
        for r in excl:
            assert r["end_idx"] == incl[(r["doc_id"], r["seq"])] - 1

    def test_membership_matches_kernel(self, spark, ora_docs):
        from py_pdf_parser_spark.frame import sections_frame

        ef = ElementFrame.from_documents(ora_docs.where("doc_id < 'ora-000010'"))
        sections = sections_frame(
            ef.filter_by_text_equal("HDR:"),
            ef.filter_by_text_equal("END:"),
            "body",
        )
        got = {
            (r["doc_id"], r["idx"])
            for r in ef.filter_by_section_name(sections, "body")
            .df.select("doc_id", "idx")
            .collect()
        }
        want = set()
        for i in range(10):
            doc_id = f"ora-{i:06d}"
            doc = doc_from_spans(doc_id, ora_spans(i))
            s = doc.elements.filter_by_text_equal("HDR:").extract_single_element()
            e = doc.elements.filter_by_text_equal("END:").extract_single_element()
            sec = doc.sectioning.create_section("body", s, e)
            want |= {(doc_id, int(j)) for j in sec.elements()}
        assert got == want
        # unknown unique_name -> empty, not an error
        assert (
            ef.filter_by_section(sections, "nope_0").df.count() == 0
        )


class TestExtract:
    def test_extract_statuses_and_spans(self, spark):
        path = ensure_mixed_corpus(0.001)
        docs = spark.read.parquet(path)
        out = extract_spans(spark, docs)
        agg = out.groupBy("status").count().collect()
        by_status = {r["status"]: r["count"] for r in agg}
        assert by_status.get("ok", 0) == docs.count()
        assert "error" not in by_status
        sample = out.where(F.col("doc_id").startswith("memo-")).first()
        spans = sample["spans"]
        assert spans[0]["text"].startswith("TO: ")
        assert [s["order"] for s in spans] == list(range(len(spans)))

    def test_skew_split_pushes_n_spans_to_scan(self, spark):
        """The light/heavy cost split must reach the parquet scan as a
        stats-prunable n_spans predicate (one-corpus-read I/O), not a
        post-scan size(spans) filter."""
        from py_pdf_parser_spark.pipeline import extract_spans_rebalanced

        path = ensure_mixed_corpus(0.001, skew=True)
        docs = spark.read.parquet(path)
        assert "n_spans" in docs.columns
        out = extract_spans_rebalanced(spark, docs, heavy_threshold=512)
        plan = out._jdf.queryExecution().toString()
        assert "GreaterThan(n_spans,512)" in plan
        assert "LessThanOrEqual(n_spans,512)" in plan
        # and the split is lossless: every doc extracted, none in error
        assert out.count() == docs.count()
        assert out.where(F.col("status") == "error").count() == 0


def _executed_plan(spark, marker):
    """The physical plan of the session's last SQL execution that mentions
    ``marker`` (e.g. its output path), read from the status store."""
    return _executions(spark, marker)[-1][0]


def _wait_for_listeners(spark):
    """Block until the status store has seen every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _executions(spark, marker):
    """``(physical plan, job ids)`` of the session's SQL executions whose
    plan mentions ``marker``, oldest first."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for e in (execs.apply(i) for i in range(execs.size())):
        plan = e.physicalPlanDescription()
        if marker in plan:
            jobs = e.jobs().keySet().mkString(",")
            out.append((plan, {int(j) for j in jobs.split(",") if j}))
    return out


def _lineage_waves(spark, out_dir):
    """The lineage's part files as ``{part file: {(bucket, status, attempt)}}``
    (each wave appends its rows as one part file)."""
    waves = {}
    rows = (
        spark.read.parquet(f"{out_dir}/_lineage")
        .select("bucket", "status", "attempt", F.input_file_name().alias("f"))
        .collect()
    )
    for r in rows:
        waves.setdefault(r["f"], set()).add((r["bucket"], r["status"], r["attempt"]))
    return waves


def _write_lineage(out_dir, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from py_pdf_parser_spark.schema import LINEAGE_SCHEMA

    os.makedirs(f"{out_dir}/_lineage", exist_ok=True)
    schema = to_arrow_schema(LINEAGE_SCHEMA)
    pq.write_table(
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        ),
        f"{out_dir}/_lineage/part-y.parquet",
    )


class TestCheckpointResume:
    def test_resume_skips_completed_buckets(self, spark, tmp_path):
        path = ensure_mixed_corpus(0.001)
        out_dir = str(tmp_path / "job_out")
        # First run: inject failure for bucket 3 — waves containing it fail.
        with pytest.raises(RuntimeError):
            run_job(
                spark, path, out_dir, num_buckets=8, num_waves=4,
                fail_buckets=[3],
            )
        # Wave w is buckets range(w, 8, 4); only the last one failed.
        first = _lineage_waves(spark, out_dir)
        assert sorted(sorted(b for b, _, _ in w) for w in first.values()) == [
            [0, 4], [1, 5], [2, 6], [3, 7],
        ]
        assert {(3, "failed", 1), (7, "failed", 1)} in first.values()
        completed_first = (
            spark.read.parquet(f"{out_dir}/_lineage")
            .where(F.col("status") == "ok")
            .select("bucket")
            .distinct()
            .count()
        )
        assert 0 < completed_first < 8
        # Resume: no injection; must process only remaining buckets.
        stats = run_job(spark, path, out_dir, num_buckets=8, num_waves=4)
        assert stats["skipped_buckets"] == completed_first
        assert stats["processed_buckets"] == 8 - completed_first
        # The failed wave is replayed as the one wave it was: one part file.
        resumed = _lineage_waves(spark, out_dir)
        assert [resumed[f] for f in set(resumed) - set(first)] == [
            {(3, "ok", 2), (7, "ok", 2)}
        ]
        # Full output present exactly once per doc.
        extracted = spark.read.parquet(f"{out_dir}/extracted")
        n_docs = spark.read.parquet(path).count()
        assert extracted.count() == n_docs
        assert extracted.select("doc_id").distinct().count() == n_docs
        # Attempt counter advanced for retried buckets.
        lineage = spark.read.parquet(f"{out_dir}/_lineage")
        retried = lineage.where(
            (F.col("status") == "ok") & (F.col("attempt") > 1)
        ).count()
        assert retried > 0

    def test_lineage_state(self, spark, tmp_path):
        from py_pdf_parser_spark.pipeline import _lineage_state

        assert _lineage_state(str(tmp_path / "missing")) == (set(), {})
        out_dir = str(tmp_path / "job_out")
        _write_lineage(out_dir, [
            (0, 0, 0, 0, "failed", 1, 5),
            (0, 10, 100, 0, "ok", 2, 7),
            (1, 0, 0, 0, "failed", 1, 5),
        ])
        assert _lineage_state(out_dir) == ({0}, {0: 2, 1: 1})

    def test_unreadable_lineage_raises(self, spark, tmp_path):
        """A corrupt lineage part file must fail the job, not read as an
        empty lineage that reprocesses every completed bucket."""
        out_dir = str(tmp_path / "job_out")
        _write_lineage(out_dir, [(b, 1, 1, 0, "ok", 1, 5) for b in range(8)])
        # Sorts before part-y, so it is the first footer a reader opens.
        with open(f"{out_dir}/_lineage/part-x.parquet", "wb") as f:
            f.write(b"not parquet")
        with pytest.raises(Exception, match="part-x.parquet"):
            run_job(
                spark, ensure_mixed_corpus(0.001), out_dir, num_buckets=8,
                num_waves=4,
            )
        assert not os.path.exists(f"{out_dir}/extracted")

    def test_lineage_io_runs_on_the_driver(self, spark, tmp_path):
        """Lineage appends and reads launch no Spark job; driver-written
        part files read back through Spark, sit beside Spark-written ones,
        and a stray ``.``-prefixed temp file is skipped."""
        from py_pdf_parser_spark.pipeline import _append_lineage, _lineage_state
        from py_pdf_parser_spark.schema import LINEAGE_SCHEMA

        out_dir = str(tmp_path / "job_out")
        failed = [(3, 0, 0, 0, "failed", 1, 5), (7, 0, 0, 0, "failed", 1, 5)]
        ok = [(3, 10, 100, 1, "ok", 2, 9)]
        spark.sparkContext.setJobGroup("lineage-io", "lineage-io")
        _append_lineage(out_dir, failed)
        _append_lineage(out_dir, ok)
        state = _lineage_state(out_dir)
        _wait_for_listeners(spark)
        tracker = spark.sparkContext.statusTracker()
        assert list(tracker.getJobIdsForGroup("lineage-io")) == []
        spark.sparkContext.setJobGroup("lineage-io-check", "lineage-io-check")
        assert state == ({3}, {3: 2, 7: 1})

        def spark_rows():
            df = spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out_dir}/_lineage")
            return sorted(tuple(r) for r in df.collect())

        assert spark_rows() == sorted(failed + ok)
        # A part file written by Spark (with its _SUCCESS and .crc files).
        spark_written = (7, 20, 200, 0, "ok", 2, 11)
        spark.createDataFrame([spark_written], LINEAGE_SCHEMA).write.mode(
            "append"
        ).parquet(f"{out_dir}/_lineage")
        assert _lineage_state(out_dir) == ({3, 7}, {3: 2, 7: 2})
        # An append cut short leaves only its temp name behind.
        with open(f"{out_dir}/_lineage/.part-cut.parquet", "wb") as f:
            f.write(b"not parquet")
        assert _lineage_state(out_dir) == ({3, 7}, {3: 2, 7: 2})
        assert spark_rows() == sorted(failed + ok + [spark_written])

    def test_resume_runs_only_the_waves_jobs(self, spark, tmp_path):
        """The job budget of a resume: every Spark job is the failed
        wave's write of ``extracted`` (its heavy-branch shuffle and the
        write), none reads or writes the lineage or infers the input
        schema; the write still pushes the n_spans split to the scan."""
        path = ensure_mixed_corpus(0.001, skew=True)
        out_dir = str(tmp_path / "job_out")
        with pytest.raises(RuntimeError):
            run_job(spark, path, out_dir, num_buckets=8, num_waves=4,
                    fail_buckets=[3])
        spark.sparkContext.setJobGroup("resume", "resume")
        stats = run_job(spark, path, out_dir, num_buckets=8, num_waves=4)
        spark.sparkContext.setJobGroup("resume-check", "resume-check")
        assert stats["processed_buckets"] == 2 and stats["skipped_buckets"] == 6
        _wait_for_listeners(spark)
        jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup("resume"))
        writes = _executions(spark, f"{out_dir}/extracted")
        assert jobs and jobs <= writes[-1][1]
        assert "GreaterThan(n_spans,2048)" in writes[-1][0]
        assert "LessThanOrEqual(n_spans,2048)" in writes[-1][0]


class TestScanInput:
    """run_job's input scan: schema from a footer, splits from a
    ``pyarrow.fs`` listing."""

    @pytest.fixture(scope="class")
    def hive_copy(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("hive") / "docs")
        spark.read.parquet(ensure_mixed_corpus(0.001, skew=True)).withColumn(
            "part", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
        ).withColumn("tag", F.lit("x")).write.partitionBy("part", "tag").parquet(out)
        # Left behind by a failed writer: hidden from Spark's file index.
        for stray in ("_temporary/0", ".staging"):
            os.makedirs(f"{out}/{stray}")
            with open(f"{out}/{stray}/part-0.parquet", "wb") as f:
                f.write(b"not parquet")
        part = f"{out}/part=0/tag=x"
        with open(f"{part}/part-9.parquet._COPYING_", "wb") as f:
            f.write(b"not parquet")
        # A data file without an extension, as Hive writes them: read.
        first = min(n for n in os.listdir(part) if n.endswith(".parquet"))
        shutil.copy(f"{part}/{first}", f"{part}/000000_0")
        return out

    def test_footer_schema_equals_inferred_schema(self, spark, hive_copy):
        from py_pdf_parser_spark.pipeline import _scan_parquet

        for path in (
            ensure_mixed_corpus(0.001),
            ensure_mixed_corpus(0.001, skew=True),
            hive_copy,
        ):
            inferred = spark.read.parquet(path).schema
            assert _scan_parquet(spark, path).schema == inferred, path
        assert inferred.names[-2:] == ["part", "tag"]

    def test_listing_matches_spark_for_paths_and_uris(self, spark, hive_copy):
        """``_parquet_files`` lists what Spark's file index reads (no
        ``_SUCCESS``, ``.crc``, ``._COPYING_`` or hidden strays; a file
        without an extension is read), and a plain path and its
        ``file://`` URI size alike."""
        from urllib.parse import urlparse

        from py_pdf_parser_spark.pipeline import _parquet_files

        for path in (ensure_mixed_corpus(0.001), hive_copy):
            plain = _parquet_files(path)[1]
            uri = _parquet_files(f"file://{path}")[1]
            assert sum(f.size for f in plain) == sum(f.size for f in uri) > 0
            assert sorted(f.path for f in plain) == sorted(
                urlparse(u).path for u in spark.read.parquet(path).inputFiles()
            )


    def test_fs_path_never_reads_a_uri_as_local(self, monkeypatch, tmp_path):
        """Only a path without a scheme is local; ``s3a``/``s3n`` map to
        ``s3``, and a scheme ``pyarrow.fs`` does not know raises."""
        from types import SimpleNamespace

        from py_pdf_parser_spark import pipeline

        for uri in ("wasbs://c@a.blob.core.windows.net/out", "dbfs:/out"):
            with pytest.raises(ValueError, match="unsupported filesystem"):
                pipeline._fs_path(uri)
        # Stands in for from_uri: an s3 filesystem would contact AWS.
        fake = SimpleNamespace(FileSystem=SimpleNamespace(
            from_uri=lambda uri: (None, uri)
        ))
        monkeypatch.setattr(pipeline, "pafs", fake)
        monkeypatch.chdir(tmp_path)
        assert pipeline._fs_path("rel/x")[1] == f"{tmp_path}/rel/x"
        assert pipeline._fs_path("s3a://b/x")[1] == "s3://b/x"
        assert pipeline._fs_path("s3n://b/x")[1] == "s3://b/x"
        assert pipeline._fs_path("hdfs://nn/x")[1] == "hdfs://nn/x"


class TestHotPathPlan:
    def test_extract_spans_over_parquet_has_no_exchange(self, spark, tmp_path):
        """The hot path stays shuffle-free: scan -> mapInArrow -> write."""
        out = str(tmp_path / "extracted")
        docs = spark.read.parquet(ensure_mixed_corpus(0.001))
        extract_spans(spark, docs).write.parquet(out)
        plan = _executed_plan(spark, out)
        assert "Scan parquet" in plan and "MapInArrow" in plan
        assert "Exchange" not in plan

    def test_pdf_and_registry_kernels_run_on_map_in_arrow(self, spark, tmp_path):
        """The PDF-bytes path and the registry's per-document row kernel
        (``queries._per_doc``) run on the same Arrow driver."""
        from py_pdf_parser_spark import queries as Q
        from py_pdf_parser_spark.sources.pdf_bytes import extract_spans_from_pdf
        from py_pdf_parser_spark.sources.pdf_writer import render_pdf

        pdfs = spark.createDataFrame(
            [(f"ora-{i:06d}", render_pdf(f"ora-{i:06d}", ora_spans(i)))
             for i in range(2)],
            "doc_id string, pdf_bytes binary",
        )
        for name, df in (
            ("pdf", extract_spans_from_pdf(pdfs)),
            ("per_doc", Q.pp_set_protocol(spark, str(tmp_path / "sf0.001"))),
        ):
            out = str(tmp_path / name)
            df.write.parquet(out)
            plan = _executed_plan(spark, out)
            assert "MapInArrow" in plan and "MapInPandas" not in plan, name


class TestPerDoc:
    def test_failing_documents_emit_no_rows(self, spark):
        """``queries._per_doc`` skips a document whose ``rows_of`` raises
        and one that cannot be built (a null span offset); every other
        document's rows come out."""
        import pyarrow as pa

        from py_pdf_parser_spark import queries as Q
        from py_pdf_parser_spark.synth import SPANS_ARROW_SCHEMA

        docs = [(f"ora-{i:06d}", ora_spans(i)) for i in range(4)]
        unbuildable = ("ora-000099",
                       [("text", "a", None, 0), ("text", "x", None, None)])
        table = pa.Table.from_pydict({
            "doc_id": [d for d, _ in docs + [unbuildable]],
            "spans": [
                [{"kind": k, "text": t, "media_ref": m, "offset": o}
                 for k, t, m, o in spans]
                for _, spans in docs + [unbuildable]
            ],
            "n_spans": [len(spans) for _, spans in docs + [unbuildable]],
        }, schema=SPANS_ARROW_SCHEMA)

        def rows_of(doc_id, doc):
            if doc_id == "ora-000002":
                raise RuntimeError("rows_of bug")
            return [(doc_id, doc.n)]

        out = Q._per_doc(
            spark.createDataFrame(table).repartition(2),
            "doc_id string, n long", rows_of,
        ).collect()
        assert sorted((r["doc_id"], r["n"]) for r in out) == [
            (d, len(spans)) for d, spans in docs if d != "ora-000002"
        ]


class TestWorkerZipCache:
    def test_reused_worker_keeps_spark_archive_directories(self, spark):
        """Spark calls ``importlib.invalidate_caches()`` before every task.
        Once the package is imported, a reused worker keeps the directory
        dicts it read for Spark's own archives (pyspark.zip, the
        spark-core jar); a re-read builds new dicts, so their ids would
        change on every task."""
        import collections

        import pyarrow as pa

        def probe(batches):
            import zipimport

            import py_pdf_parser_spark  # noqa: F401

            for _ in batches:
                pass
            cache = zipimport._zip_directory_cache
            spark_archives = sorted(
                p for p in cache
                if os.path.basename(p) == "pyspark.zip"
                or os.path.basename(p).startswith("spark-core")
            )
            dir_ids = ",".join(str(id(cache[p])) for p in spark_archives)
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()],
                "archives": [len(spark_archives)],
                "dir_ids": [dir_ids],
            })

        rows = (
            spark.range(0, 32, numPartitions=32)
            .mapInArrow(probe, "pid long, archives long, dir_ids string")
            .collect()
        )
        assert len(rows) == 32
        assert all(r["archives"] >= 1 for r in rows)
        tasks = collections.Counter(r["pid"] for r in rows)
        dir_ids = collections.defaultdict(set)
        for r in rows:
            dir_ids[r["pid"]].add(r["dir_ids"])
        assert max(tasks.values()) >= 2
        assert all(len(ids) == 1 for ids in dir_ids.values()), dict(tasks)


def _span_sequences(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                      for s in r["spans"]]
        for r in df.where(F.col("status") == "ok").select("doc_id", "spans").collect()
    }


class TestPyFilesDeployment:
    def test_spark_submit_py_files_on_local_cluster(self, spark, tmp_path):
        """The cluster deployment shape: ``spark-submit --py-files`` on two
        executor JVMs, which can import the package only from the zip
        (no PYTHONPATH, working directory outside the repository)."""
        import json
        import subprocess
        import sys

        spark_submit = shutil.which("spark-submit")
        if spark_submit is None:
            pytest.skip("spark-submit is not on PATH")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = ensure_mixed_corpus(0.001)
        pkg = shutil.make_archive(
            str(tmp_path / "pkg"), "zip", root_dir=repo,
            base_dir="py_pdf_parser_spark",
        )
        out_dir = str(tmp_path / "out")
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYSPARK_PYTHON"] = sys.executable
        proc = subprocess.run(
            [spark_submit, "--master", "local-cluster[2,1,1024]",
             "--py-files", pkg, os.path.join(repo, "jobs", "run_extract.py"),
             "--input", path, "--output", out_dir],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        stats = json.loads(proc.stdout.strip().splitlines()[-1])
        assert (stats["docs"], stats["errors"]) == (200, 0)

        written = _span_sequences(spark.read.parquet(f"{out_dir}/extracted"))
        local = _span_sequences(extract_spans(spark, spark.read.parquet(path)))
        assert len(local) == 200
        assert written == local


class TestMaterializedElements:
    def test_parse_once_query_many_with_pushdown(self, spark, tmp_path):
        """materialize_elements: same rows as the live parse, and
        element-level filters reach the parquet scan (PushedFilters) —
        which the mapInArrow kernel can never offer."""
        from py_pdf_parser_spark.pipeline import (
            materialize_elements,
            parse_elements,
        )
        from py_pdf_parser_spark.synth import ensure_mixed_corpus

        src = ensure_mixed_corpus(0.001)
        out = materialize_elements(spark, src, str(tmp_path / "elements"))
        mat = spark.read.parquet(out)
        live = parse_elements(spark.read.parquet(src))
        assert mat.count() == live.count()

        q = mat.where("font = 'f1,8'").select("doc_id", "idx")
        plan = q._jdf.queryExecution().toString()
        assert "PushedFilters" in plan and "EqualTo(font,f1,8)" in plan

        got = sorted(map(tuple, q.collect()))
        want = sorted(
            map(
                tuple,
                live.where("font = 'f1,8'")
                .select("doc_id", "idx")
                .collect(),
            )
        )
        assert got == want and len(got) > 0

    def test_bucketed_anchor_join_no_exchange(self, spark, tmp_path):
        """The at-scale anchor-join path: over the bucketBy(doc_id)
        elements table, directional operators must plan as a co-located
        SortMergeJoin — no Exchange, and (crucially) no forced
        BroadcastExchange of the anchor side, which at 10^12 docs would
        be an O(corpus) driver OOM."""
        from py_pdf_parser_spark.pipeline import materialize_elements

        src = ensure_mixed_corpus(0.001)
        materialize_elements(
            spark, src, str(tmp_path / "elements_b"), bucket_by_doc=8
        )
        mat = spark.table("elements_bucketed")
        ef = ElementFrame(mat)
        anchors = ef.filter_by_kind("text").filter_by_page(1)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            q = ef.to_the_right_of(anchors).df
            plan = q._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert "Broadcast" not in plan
            assert q.count() > 0
            # order ops take the same path
            q2 = ef.before(anchors.first_per_doc()).df
            plan2 = q2._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan2 and "Broadcast" not in plan2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
