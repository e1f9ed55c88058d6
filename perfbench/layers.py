"""Per-layer measurement: an in-memory span tracer, the Spark-free kernel
and sources probe, and the Spark event-log reader for the pipeline layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq


class Tracer:
    """Spans kept in memory (name, start, end, parent, trace id) and
    written out when the run ends.  Disabled, it records nothing."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: List[list] = []
        self._stack: List[int] = []
        self.trace_id: Optional[str] = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.trace_id]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[0] == name)

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus the time their children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        return sum(
            s[2] - s[1] - child[i] for i, s in enumerate(self.spans) if s[0] == name
        )

    def as_dicts(self, limit: Optional[int] = None) -> List[dict]:
        keys = ("name", "start", "end", "parent", "trace")
        return [dict(zip(keys, s)) for s in self.spans[:limit]]


# ---------------------------------------------------------------------------
# kernel + sources: the mapInArrow body, in-process, on the workload's batches
# ---------------------------------------------------------------------------


@contextmanager
def _patched(module, name: str, wrapper: Callable):
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def extract_batch(batch, pdf: bool):
    """The extraction mapInArrow body on one Arrow batch, in-process: the
    spans path (``extract_arrow_batch``) or the PDF-byte path."""
    from py_pdf_parser_spark import pipeline

    if not pdf:
        return pipeline.extract_arrow_batch(batch, [])
    from py_pdf_parser_spark.sources import pdf_bytes
    from py_pdf_parser_spark.sources.pdf_writer import bytes_config_for

    return pipeline.pack_extracted_batch(
        pdf_bytes._iter_pdf_docs(
            batch, "pdf_bytes", None, None, bytes_config_for, None, True,
        ),
        batch.num_rows,
    )


def kernel_probe(dataset_dir: str, pdf: bool):
    """Run the extraction kernel over every batch of the input, Spark-free,
    with spans around the engine's per-document calls.

    The engine's own entry points run unchanged; the probe swaps the
    module-level names they call for timing wrappers, so the kernel split
    follows the real code path: flatten, doc build (or PDF parse), recipe,
    and the pack step's self time.  Returns (metrics, the probe's spans).
    """
    from py_pdf_parser_spark import pipeline
    from py_pdf_parser_spark.sources import pdf_bytes

    tr = Tracer(enabled=True)
    per_doc: Dict[str, float] = defaultdict(float)

    def timed_doc(name):
        def wrap(fn):
            def call(doc_id, *args, **kwargs):
                t0 = time.perf_counter()
                with tr.span(name):
                    out = fn(doc_id, *args, **kwargs)
                per_doc[doc_id] += time.perf_counter() - t0
                return out

            return call

        return wrap

    def timed_recipe(fn):
        def lookup(doc_id):
            recipe = fn(doc_id)

            def run(doc):
                t0 = time.perf_counter()
                with tr.span("kernel.recipes.recipe_for"):
                    out = recipe(doc)
                per_doc[doc_id] += time.perf_counter() - t0
                return out

            return run

        return lookup

    def timed(name):
        return lambda fn: tr.wrap(name, fn)

    batches = [
        b
        for f in sorted(glob.glob(os.path.join(dataset_dir, "*.parquet")))
        for b in pq.read_table(f).to_batches()
    ]
    n_docs = sum(b.num_rows for b in batches)
    with _patched(pipeline, "recipe_for", timed_recipe), _patched(
        pipeline, "pack_extracted_batch", timed("pipeline.pack_extracted_batch")
    ), _patched(
        pipeline, "_flatten_span_batch", timed("kernel.flatten")
    ), _patched(
        pipeline, "doc_from_arrays", timed_doc("kernel.parse.doc_from_arrays")
    ), _patched(
        pdf_bytes, "doc_from_pdf_bytes",
        timed_doc("sources.pdf_bytes.doc_from_pdf_bytes"),
    ):
        for batch in batches:
            with tr.span("kernel.batch"):
                extract_batch(batch, pdf)
    total = tr.total("kernel.batch")
    pdf_parse = tr.total("sources.pdf_bytes.doc_from_pdf_bytes")
    return {
        "kernel_s": total,
        "kernel.docs_per_s": n_docs / total,
        "kernel.flatten_s": tr.total("kernel.flatten"),
        "kernel.parse_s": tr.total("kernel.parse.doc_from_arrays"),
        "kernel.recipe_s": tr.total("kernel.recipes.recipe_for"),
        "kernel.pack_s": tr.self_time("pipeline.pack_extracted_batch"),
        "kernel.doc_s_max": max(per_doc.values()),
        "sources.pdf_parse_s": pdf_parse,
        "sources.docs_per_s": n_docs / pdf_parse if pdf_parse else 0.0,
    }, tr


# ---------------------------------------------------------------------------
# pipeline: Spark event log, attributed to passes by job group
# ---------------------------------------------------------------------------

_ACCUMS = {
    "time to start Python workers": "pyworker_start",
    "time to initialize Python workers": "pyworker_init",
    "time to run Python workers": "pyworker_run",
    "data sent to Python workers": "arrow_sent",
    "data returned from Python workers": "arrow_returned",
    "scan time": "scan",
}
_MS = {"pyworker_start", "pyworker_init", "pyworker_run", "scan"}


def _num(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(str(v).replace(",", ""))
    except ValueError:
        return 0.0


def _union_s(intervals: List[tuple]) -> float:
    """Length in seconds of the union of (start_ms, end_ms) intervals."""
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


def read_event_log(eventlog_dir: str) -> Dict[str, dict]:
    """Per job group: task metrics summed over the group's jobs."""
    tasks: Dict[str, list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue
        stage_group: Dict[int, str] = {}  # ids restart with every application
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev["Stage IDs"]:
                        stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None:
                        tasks[group].append(ev)
    out: Dict[str, dict] = {}
    for group, evs in tasks.items():
        m = defaultdict(float)
        run_s, busy_s, intervals = [], 0.0, []
        for ev in evs:
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            run_s.append(tm.get("Executor Run Time", 0) / 1000.0)
            busy_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            intervals.append((info["Launch Time"], info["Finish Time"]))
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", []):
                key = _ACCUMS.get(acc.get("Name"))
                if key:
                    m[key] += _num(acc.get("Update", 0))
        for key in _MS:
            m[key] /= 1000.0
        m["tasks"] = len(run_s)
        m["exec_run_s"] = sum(run_s)
        m["task_busy_s"] = busy_s
        m["tasks_running_s"] = _union_s(intervals)  # some task of the group runs
        m["task_s_p50"] = statistics.median(run_s) if run_s else 0.0
        m["task_s_max"] = max(run_s) if run_s else 0.0
        out[group] = dict(m)
    return out


def pipeline_metrics(groups: List[dict], passes, cores: int, kernel_s: float) -> Dict[str, float]:
    """Medians over traced passes of the pipeline-layer metrics.

    Accounting, in core-seconds: the cores' capacity over a pass is
    ``cores * wall``.  The layers fill it with the tasks' executor run
    time, split into kernel (in-process probe), Python-worker overhead
    (worker run time minus kernel) and JVM time (run time outside the
    Python worker: scan, Arrow conversion, GC); the tasks' launch and
    result handling outside their run time; and the driver's time (the
    part of the pass wall in which none of its tasks runs: planning,
    scheduling, result handling), during which every core waits.  ``accounted_share`` is their
    sum over the capacity; what is left is cores idling while other tasks
    of the pass still run (stage tails, stragglers)."""
    rows = []
    for g, p in zip(groups, passes):
        wall = p.wall
        pyrun = g.get("pyworker_run", 0.0)
        overhead = pyrun - kernel_s
        jvm = g["exec_run_s"] - pyrun
        launch = g["task_busy_s"] - g["exec_run_s"]
        driver = max(0.0, wall - g["tasks_running_s"])
        rows.append(
            {
                "pipeline.tasks": g["tasks"],
                "pipeline.tasks_per_core": g["tasks"] / cores,
                "pipeline.core_busy": g["exec_run_s"] / (cores * wall),
                "pipeline.pyworker_start_s": g.get("pyworker_start", 0.0),
                "pipeline.pyworker_init_s": g.get("pyworker_init", 0.0),
                "pipeline.pyworker_run_s": pyrun,
                "pipeline.arrow_bytes_sent": g.get("arrow_sent", 0.0),
                "pipeline.arrow_bytes_returned": g.get("arrow_returned", 0.0),
                "pipeline.overhead_s": overhead,
                "pipeline.kernel_share": kernel_s / g["exec_run_s"],
                "pipeline.jvm_s": jvm,
                "pipeline.task_launch_s": launch,
                "pipeline.scan_s": g.get("scan", 0.0),
                "pipeline.gc_s": g.get("gc_s", 0.0),
                "pipeline.driver_s": driver,
                "pipeline.accounted_share": (
                    kernel_s + overhead + jvm + launch + cores * driver
                ) / (cores * wall),
                "pipeline.task_s_p50": g["task_s_p50"],
                "pipeline.task_s_max": g["task_s_max"],
                "pipeline.task_skew": g["task_s_max"] / g["task_s_p50"]
                if g["task_s_p50"]
                else 0.0,
                "pipeline.shuffle_write_bytes": g.get("shuffle_write_bytes", 0.0),
                "pipeline.spill_bytes": g.get("spill_bytes", 0.0),
            }
        )
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
