"""The workloads: what each job runs, one timed pass, and the output checks.

Each workload is one closed-loop client: a single process that submits
one Spark job at a time and waits for it.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench.layers import Tracer

ORACLE_SAMPLE = 40  # seed-chosen ora docs compared with the DuckDB oracle
NUM_BUCKETS = 4
NUM_WAVES = 2


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_docs: int
    docs_per_file: int
    schedule: str  # one measured round: "a" all-CPU pass, "p" 1-CPU pass
    settle: int = 0  # untimed passes between the set-up and the measured ones
    skew: bool = False
    pdf: bool = False
    pdf_sample: int = 0  # docs also rendered to PDF for the sources layer


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "spans_mixed",
            "Flagship extract_spans on the 70/15/10/5 ora/memo/media/ordsum "
            "mix: kernel 25-35% and Python-worker overhead 60-70% of executor "
            "time; layers must explain the cores' time within 25%",
            n_docs=5000,
            docs_per_file=625,
            schedule="apaapa",
            settle=2,
            pdf_sample=160,
        ),
        Workload(
            "pdf_bytes",
            "Same family mix as real PDF bytes through extract_spans_from_pdf: "
            "minipdf parsing dominates, so sources-layer changes show here and "
            "recipe-only changes should not",
            n_docs=480,
            docs_per_file=60,
            schedule="apapa",
            pdf=True,
        ),
        Workload(
            "skew_checkpoint",
            "run_job resuming a failed last wave of the skewed corpus: lineage "
            "reads, heavy-doc shuffle, partitioned write; bound by run_job's "
            "per-Spark-job cost, not by the kernel",
            n_docs=1200,
            docs_per_file=600,
            schedule="apa",
            settle=2,
            skew=True,
        ),
    )
}


@dataclass
class Pass:
    wall: float
    docs: int  # docs in the job's output
    ok: int
    spans: int
    job_docs: int  # docs the timed job processed
    extra: Dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def extraction_frame(spark, w: Workload, inp, tracer: Tracer):
    """The workload's extraction DataFrame, scan splits tuned as a user would."""
    from py_pdf_parser_spark.pipeline import extract_spans, tune_scan_splits

    if w.pdf:
        from py_pdf_parser_spark.sources.pdf_bytes import extract_spans_from_pdf
        from py_pdf_parser_spark.sources.pdf_writer import bytes_config_for

        tune_scan_splits(spark, inp.pdf_path)
        with tracer.span("sources.pdf_bytes.extract_spans_from_pdf"):
            return extract_spans_from_pdf(
                spark.read.parquet(inp.pdf_path),
                config=bytes_config_for,
                include_media=True,
            )
    tune_scan_splits(spark, inp.spans_path)
    with tracer.span("pipeline.extract_spans"):
        return extract_spans(spark, spark.read.parquet(inp.spans_path))


def warm_up(spark, w: Workload, inp, work: str, sample: List[str]):
    """The set-up's warm-up pass.  On the extraction workloads it is the
    output-check extraction (returns its output); on skew_checkpoint it
    is run_job with its last wave failing, which leaves the state every
    measured pass resumes from (returns None)."""
    spark.sparkContext.setJobGroup("warmup", "warmup")
    if w.skew:
        _failed_run(spark, inp, work)
        return None
    return collect_output(spark, w, inp, sample)


def run_pass(spark, w: Workload, inp, group: str, work: str, tracer: Tracer) -> Pass:
    """One timed job; its Spark jobs carry ``group`` as their job group."""
    spark.sparkContext.setJobGroup(group, group)
    with tracer.span(f"pass.{group}"):
        if w.skew:
            return _resume_pass(spark, inp, work, tracer)
        return _extraction_pass(spark, w, inp, tracer)


def _extraction_pass(spark, w: Workload, inp, tracer: Tracer) -> Pass:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    frame = extraction_frame(spark, w, inp, tracer)
    row = (
        frame.agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
            F.sum("n_spans").alias("spans"),
        )
        .first()
    )
    return Pass(
        time.perf_counter() - t0, row["docs"], row["ok"] or 0, row["spans"] or 0,
        job_docs=row["docs"],
    )


def last_wave() -> List[int]:
    """The buckets of run_job's final wave on a fresh output directory."""
    todo = list(range(NUM_BUCKETS))
    return [todo[w::NUM_WAVES] for w in range(NUM_WAVES)][-1]


def _checkpoint_dirs(work: str):
    """(the failed run's state, kept; the directory a pass resumes in)."""
    return os.path.join(work, "job-failed"), os.path.join(work, "job-out")


def _failed_run(spark, inp, work: str) -> None:
    """run_job with an injected failure of its last wave."""
    from py_pdf_parser_spark.pipeline import run_job

    failed, _out = _checkpoint_dirs(work)
    shutil.rmtree(failed, ignore_errors=True)
    try:
        run_job(spark, inp.spans_path, failed, fail_buckets=last_wave(),
                num_buckets=NUM_BUCKETS, num_waves=NUM_WAVES)
        raise AssertionError("the injected last-wave failure did not fail run_job")
    except RuntimeError as err:
        if "injected failure" not in str(err):
            raise


def _resume_pass(spark, inp, work: str, tracer: Tracer) -> Pass:
    """The resuming run_job, timed, on a copy of the failed run's output
    directory (so every pass resumes from the same state)."""
    from py_pdf_parser_spark.pipeline import completed_buckets, run_job

    failed, out = _checkpoint_dirs(work)
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(failed, out)
    extra = {}
    if tracer.enabled:
        t = time.perf_counter()
        with tracer.span("pipeline.completed_buckets"):
            completed_buckets(spark, out)
        extra["completed_buckets_s"] = time.perf_counter() - t
    t0 = time.perf_counter()
    with tracer.span("pipeline.run_job"):
        stats = run_job(spark, inp.spans_path, out,
                        num_buckets=NUM_BUCKETS, num_waves=NUM_WAVES)
    wall = time.perf_counter() - t0
    result = pq.read_table(
        os.path.join(out, "extracted"), columns=["doc_id", "n_spans", "status"]
    )
    lineage = pq.read_table(os.path.join(out, "_lineage")).to_pylist()
    statuses = result.column("status").to_pylist()
    extra.update(stats=stats, lineage=lineage, ids=result.column("doc_id").to_pylist())
    extra["bytes_written"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(os.path.join(out, "extracted"))
        for f in files
        if f.endswith(".parquet")
    )
    return Pass(
        wall=wall,
        docs=result.num_rows,
        ok=sum(s == "ok" for s in statuses),
        spans=sum(result.column("n_spans").to_pylist()),
        job_docs=stats["docs"],
        extra=extra,
    )


def written_output(work: str) -> pa.Table:
    """The checkpointed job's output after the last resume."""
    _failed, out = _checkpoint_dirs(work)
    return pq.read_table(
        os.path.join(out, "extracted"), columns=["doc_id", "n_spans", "status", "spans"]
    )


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def _span_rows(table: pa.Table, keep: set) -> List[tuple]:
    rows = []
    for rec in table.select(["doc_id", "spans"]).to_pylist():
        if rec["doc_id"] not in keep:
            continue
        for s in rec["spans"]:
            rows.append(
                (rec["doc_id"], s["order"], s["kind"], s["text"], s["media_ref"])
            )
    return sorted(rows, key=repr)


def _oracle_rows(inp, sample: List[str], work: str) -> List[tuple]:
    """The repository's DuckDB oracle for pp_extract_spans, pointed at the
    sampled input docs."""
    import duckdb

    from py_pdf_parser_spark.queries import ORACLE_SF, REGISTRY
    from py_pdf_parser_spark.synth import oracle_corpus_path

    sample_dir = os.path.join(work, "oracle_sample")
    shutil.rmtree(sample_dir, ignore_errors=True)
    os.makedirs(sample_dir)
    table = ds.dataset(inp.spans_path).to_table(
        filter=ds.field("doc_id").isin(sample)
    )
    pq.write_table(table, os.path.join(sample_dir, "part-0.parquet"))
    sql = REGISTRY["pp_extract_spans"][1]
    default = oracle_corpus_path(ORACLE_SF)
    if default not in sql:
        raise AssertionError("pp_extract_spans oracle no longer reads the ora corpus")
    con = duckdb.connect()
    try:
        rows = con.execute(sql.replace(default, sample_dir)).fetchall()
    finally:
        con.close()
    return sorted(
        ((d, int(o), k, t, m) for d, o, k, t, m in rows), key=repr
    )


def oracle_sample(w: Workload, inp, seed: int) -> List[str]:
    rng = random.Random(f"oracle:{w.name}:{seed}")
    ora = sorted(d for d in inp.doc_ids if d.startswith("ora-"))
    return rng.sample(ora, min(ORACLE_SAMPLE, len(ora)))


def collect_output(spark, w: Workload, inp, sample: List[str]) -> pa.Table:
    """One extraction with its output brought to the driver: every doc's
    id, status and span count, and the span lists the content checks
    compare (the oracle and PDF samples; every doc on the byte workload)."""
    from pyspark.sql import functions as F

    frame = extraction_frame(spark, w, inp, Tracer())
    spans = F.col("spans")
    if not w.pdf:
        spans = F.when(F.col("doc_id").isin(sample + pdf_sample_ids(inp)), spans)
    return frame.select("doc_id", "n_spans", "status", spans.alias("spans")).toArrow()


def pdf_sample_ids(inp) -> List[str]:
    if not inp.pdf_sample_path:
        return []
    return pq.read_table(inp.pdf_sample_path, columns=["doc_id"]).column(
        "doc_id"
    ).to_pylist()


def check_output(out: pa.Table, w: Workload, inp, sample: List[str], work: str):
    """Returns (failed docs, problems).

    Every doc must come back once with status 'ok' and n_spans equal to its
    span list; a seed-chosen ora sample must equal the DuckDB oracle; the
    PDF-byte path and the spans path must give the same output for the
    same docs (every doc on the byte workload, the PDF sample elsewhere)."""
    problems = []
    seen = Counter(out.column("doc_id").to_pylist())
    expected = set(inp.doc_ids)
    bad = {d for d, c in seen.items() if c != 1 or d not in expected}
    bad |= expected - set(seen)
    for rec in out.select(["doc_id", "n_spans", "status", "spans"]).to_pylist():
        if rec["status"] != "ok" or (
            rec["spans"] is not None and rec["n_spans"] != len(rec["spans"])
        ):
            bad.add(rec["doc_id"])
    got = _span_rows(out, set(sample))
    want = _oracle_rows(inp, sample, work)
    if got != want:
        mism = {r[0] for r in set(got) ^ set(want)}
        bad |= mism
        problems.append(f"{len(mism)} sampled ora docs differ from the DuckDB oracle")
    if w.pdf or inp.pdf_sample_path:
        # The other path, run in-process on the same docs.
        other = _kernel_output(inp.spans_path if w.pdf else inp.pdf_sample_path, not w.pdf)
        spans = dict(zip(out.column("doc_id").to_pylist(), out.column("spans").to_pylist()))
        mism = {d for d, s in other.items() if spans.get(d) != s}
        bad |= mism
        if mism:
            problems.append(f"{len(mism)} docs: PDF-byte output != spans-path output")
    if bad:
        problems.append(f"{len(bad)} docs missing, duplicated, failed or wrong")
    return len(bad), problems


def check_passes(passes: List[Pass], n_docs: int, n_spans: int):
    """Every timed pass must return every doc, all 'ok', with the checked
    output's span count.  Returns (failed docs, problems)."""
    failed, problems = 0, []
    for i, p in enumerate(passes):
        if (p.docs, p.ok, p.spans) != (n_docs, n_docs, n_spans):
            failed += max(n_docs - p.ok, abs(p.docs - n_docs), 1)
            problems.append(
                f"pass {i}: docs/ok/spans {p.docs}/{p.ok}/{p.spans}, "
                f"expected {n_docs}/{n_docs}/{n_spans}"
            )
    return failed, problems


def _kernel_output(path: str, pdf: bool) -> Dict[str, list]:
    """doc_id -> spans from the extraction body run in-process (Spark-free,
    the same code as the mapInArrow stage)."""
    from perfbench.layers import extract_batch

    out: Dict[str, list] = {}
    for f in sorted(os.listdir(path)):
        for batch in pq.read_table(os.path.join(path, f)).to_batches():
            for rec in extract_batch(batch, pdf).select(["doc_id", "spans"]).to_pylist():
                out[rec["doc_id"]] = rec["spans"]
    return out


def check_checkpoint(inp, passes: List[Pass]):
    """Every pass must write every doc once with status 'ok', and the resume
    must reprocess exactly the failed wave's buckets and nothing else."""
    problems = []
    failed = 0
    n = len(inp.doc_ids)
    expected = set(inp.doc_ids)
    wave = set(last_wave())
    for i, p in enumerate(passes):
        ids = p.extra["ids"]
        missing = len(expected - set(ids)) + (len(ids) - len(set(ids)))
        failed += max(missing, n - p.ok)
        stats = p.extra["stats"]
        if (stats["processed_buckets"], stats["skipped_buckets"]) != (
            len(wave),
            NUM_BUCKETS - len(wave),
        ):
            problems.append(f"pass {i}: resume stats {stats}")
        rows = p.extra["lineage"]
        failed_rows = {r["bucket"] for r in rows if r["status"] == "failed"}
        ok_rows = Counter(r["bucket"] for r in rows if r["status"] == "ok")
        if failed_rows != wave or set(ok_rows) != set(range(NUM_BUCKETS)) or any(
            c != 1 for c in ok_rows.values()
        ):
            problems.append(f"pass {i}: lineage does not show one resumed wave")
        resumed_docs = sum(
            r["doc_count"] for r in rows if r["bucket"] in wave and r["status"] == "ok"
        )
        if resumed_docs != stats["docs"] or p.docs != n:
            problems.append(f"pass {i}: {p.docs} docs written, resume {stats['docs']}")
    if len({p.spans for p in passes}) > 1:
        problems.append(f"passes disagree on output span counts: {[p.spans for p in passes]}")
    if failed:
        problems.append(f"{failed} docs missing or failed across passes")
    return failed, problems
