"""Metric catalogue: every number the benchmark prints, with its unit,
its direction, and — for layer metrics — the end-to-end metric and
workload it is expected to move.  ``BENCHMARK.json`` mirrors the
end-to-end and per-layer entries of the workloads it lists; a test
keeps the two in step."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# name -> (unit, better, regression bound as a share of the parent median)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher", 0.25),
    "scaling_eff": ("ratio", "higher", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# name -> (unit, better, what it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on every workload"),
    "kernel.docs_per_s": ("docs/s", "higher", "docs_per_s on spans_mixed"),
    "kernel.flatten_s": ("s", "lower", "docs_per_s on spans_mixed"),
    "kernel.parse_s": ("s", "lower", "docs_per_s on spans_mixed"),
    "kernel.recipe_s": (
        "s", "lower",
        "docs_per_s on spans_mixed; almost nothing on pdf_bytes",
    ),
    "kernel.pack_s": ("s", "lower", "docs_per_s on spans_mixed"),
    "kernel.doc_s_max": ("s", "lower", "docs_per_s on skew_checkpoint"),
    "sources.pdf_parse_s": ("s", "lower", "docs_per_s on pdf_bytes only"),
    "sources.docs_per_s": ("docs/s", "higher", "docs_per_s on pdf_bytes only"),
    "pipeline.tasks": (
        "count", "higher", "docs_per_s on spans_mixed and scaling_eff",
    ),
    "pipeline.tasks_per_core": (
        "ratio", "higher", "docs_per_s on spans_mixed and scaling_eff",
    ),
    "pipeline.core_busy": (
        "ratio", "higher", "docs_per_s on spans_mixed and scaling_eff",
    ),
    "pipeline.pyworker_start_s": (
        "s", "lower", "docs_per_s on spans_mixed and setup_s",
    ),
    "pipeline.pyworker_init_s": (
        "s", "lower", "docs_per_s on spans_mixed and setup_s",
    ),
    "pipeline.pyworker_run_s": (
        "s", "lower", "docs_per_s on spans_mixed and pdf_bytes",
    ),
    "pipeline.arrow_bytes_sent": (
        "bytes", "lower", "docs_per_s on spans_mixed and pdf_bytes",
    ),
    "pipeline.arrow_bytes_returned": (
        "bytes", "lower", "docs_per_s on spans_mixed and pdf_bytes",
    ),
    "pipeline.overhead_s": ("s", "lower", "docs_per_s on spans_mixed"),
    "pipeline.kernel_share": ("ratio", "higher", "docs_per_s on spans_mixed"),
    "pipeline.jvm_s": ("s", "lower", "docs_per_s on spans_mixed and pdf_bytes"),
    "pipeline.task_launch_s": (
        "s", "lower", "docs_per_s on spans_mixed and scaling_eff",
    ),
    "pipeline.scan_s": ("s", "lower", "docs_per_s on every workload"),
    "pipeline.gc_s": ("s", "lower", "docs_per_s on every workload"),
    "pipeline.driver_s": ("s", "lower", "docs_per_s on spans_mixed"),
    "pipeline.accounted_share": (
        "ratio", "higher", "none: checks the layer split explains the wall",
    ),
    "pipeline.task_s_p50": ("s", "lower", "docs_per_s on skew_checkpoint"),
    "pipeline.task_s_max": ("s", "lower", "docs_per_s on skew_checkpoint"),
    "pipeline.task_skew": ("ratio", "lower", "docs_per_s on skew_checkpoint"),
    "pipeline.shuffle_write_bytes": (
        "bytes", "lower", "docs_per_s on skew_checkpoint",
    ),
    "pipeline.spill_bytes": ("bytes", "lower", "docs_per_s on skew_checkpoint"),
    "trace.docs_per_s": ("docs/s", "higher", "none: docs_per_s with tracing on"),
    "trace.overhead_share": (
        "ratio", "lower", "none: 1 - traced / untraced docs_per_s",
    ),
}

# Layer metrics of the checkpointed job: measured on skew_checkpoint,
# 0 on the workloads that run no checkpointed job.
RUN_JOB = {
    "pipeline.run_job.wave_s": ("s", "lower", "docs_per_s on skew_checkpoint"),
    "pipeline.run_job.bytes_written": (
        "bytes", "lower", "docs_per_s on skew_checkpoint",
    ),
    "pipeline.run_job.write_amp": (
        "ratio", "lower", "docs_per_s on skew_checkpoint",
    ),
    "pipeline.run_job.resume_s": (
        "s", "lower", "docs_per_s on skew_checkpoint (the resume's wall)",
    ),
    "pipeline.run_job.completed_buckets_s": (
        "s", "lower", "run_job.resume_s and docs_per_s on skew_checkpoint",
    ),
    "pipeline.run_job.buckets_reprocessed": (
        "count", "lower",
        "run_job.resume_s and docs_per_s on skew_checkpoint (exact count)",
    ),
}
PER_LAYER.update(RUN_JOB)

# On spans_mixed the traced layers must explain the cores' time over a
# pass within this share (pipeline.accounted_share in [1 - tol, 1 + tol]);
# a traced spans_mixed run outside it fails.
ACCOUNTING_TOLERANCE = 0.25


def unit_of(name: str) -> str:
    for table in (END_TO_END, PER_LAYER):
        if name in table:
            return table[name][0]
    raise KeyError(name)
