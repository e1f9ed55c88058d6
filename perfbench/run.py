#!/usr/bin/env python3
"""Extraction benchmark: one workload per run, or ``--workload all``.

    python3 perfbench/run.py --workload spans_mixed --seed 1 --seconds 16 --trace 0

Inputs are generated from ``--seed`` before any timing.  With ``--trace 0``
the run prints the end-to-end metrics; with ``--trace 1`` the per-layer
metrics (Spark event log, in-process kernel probe, spans).  The last
stdout line is the JSON record; everything Spark prints goes to
``.perfbench/<workload>/spark.log`` and a readable summary to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "py_pdf_parser_spark")
ALL = ("spans_mixed", "pdf_bytes", "skew_checkpoint")
DEADLINE_S = 170  # a run ends (with a partial record) before 180 s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=ALL + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--deadline", type=float, default=DEADLINE_S)
    return p.parse_args(argv)


def say(fd: int, msg: str) -> None:
    os.write(fd, (msg.rstrip("\n") + "\n").encode())


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


def run_one(args) -> int:
    from perfbench import record as rec_mod

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # stdout carries the record only; stderr the summary; Spark's own
    # output (and its stack traces) goes to a log file.
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(os.path.join(work, "spark.log"), os.O_WRONLY | os.O_CREAT, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    record = rec_mod.Record(out_fd)
    rec_mod.install_interrupts(args.deadline)
    session = None
    complete = False
    try:
        from perfbench import inputs, spark_env
        from perfbench.workloads import WORKLOADS

        w = WORKLOADS[args.workload]
        t = time.perf_counter()
        inp = inputs.generate(os.path.join(ROOT, ".perfbench", "inputs"), w, args.seed)
        say(err_fd, f"[{w.name}] inputs {json.dumps(inp.stats)} "
            f"({time.perf_counter() - t:.1f}s)")
        spark_env.prepare(ROOT, work)
        session = spark_env.Session(spark_env.cores())
        measure(session, w, inp, args, work, record, err_fd)
        complete = True
    except Exception as err:  # noqa: BLE001 - any failure is a failed run
        import traceback

        traceback.print_exc()
        if rec_mod.INTERRUPTED_BY:
            say(err_fd, f"[{args.workload}] interrupted "
                f"({rec_mod.INTERRUPTED_BY[0]}); partial record")
        else:
            record.fail(f"{type(err).__name__}: {err}")
            say(err_fd, f"[{args.workload}] failed: {type(err).__name__}: {err}")
            complete = True
    finally:
        signal_off()
        if session is not None:
            t = time.perf_counter()
            session.shutdown(graceful=complete)
            say(err_fd, f"[{args.workload}] shutdown {time.perf_counter() - t:.1f}s")
    for name, m in sorted(record.metrics.items()):
        say(err_fd, f"[{args.workload}] {name} = {m['value']:.6g} {m['unit']}")
    if record.problems:
        say(err_fd, f"[{args.workload}] CHECK FAILED: " + "; ".join(record.problems))
    say(err_fd, f"[{args.workload}] error_share = "
        f"{record.failed / max(record.attempted, 1):.6g} "
        f"({record.failed} of {record.attempted} docs)")
    record.emit(complete)
    if not complete:
        return 3
    return 0 if record.correct else 1


def signal_off() -> None:
    import signal

    signal.alarm(0)
    signal.signal(signal.SIGTERM, signal.SIG_IGN)


def measure(session, w, inp, args, work, record, err_fd) -> None:
    from perfbench import layers
    from perfbench.layers import Tracer
    from perfbench.metrics import ACCOUNTING_TOLERANCE
    from perfbench.spark_env import RssSampler
    from perfbench.workloads import (
        check_checkpoint,
        check_output,
        check_passes,
        oracle_sample,
        run_pass,
        warm_up,
        written_output,
    )

    n = len(inp.doc_ids)
    tracer = Tracer()  # off until the traced part of a --trace 1 run
    cpus = sorted(os.sched_getaffinity(0))
    all_cpus = ",".join(map(str, cpus))
    sample = oracle_sample(w, inp, args.seed)

    # -- set-up: a cold get_spark (a new JVM) and the warm-up pass ----------
    t0 = time.perf_counter()
    spark = session.start()
    starts = [time.perf_counter() - t0]
    out = warm_up(spark, w, inp, work, sample)
    setup_s = time.perf_counter() - t0
    say(err_fd, f"[{w.name}] set-up {setup_s:.2f}s (get_spark {starts[0]:.2f}s)")
    # The first passes after the set-up are still warming up (the JIT,
    # the Python workers; the first resume's lineage reads); they vary
    # too much to measure.
    for k in range(w.settle):
        run_pass(spark, w, inp, f"settle-{k}", work, tracer)
    session.collect_garbage()

    # -- measured passes: closed loop for --seconds -------------------------
    # Rounds of the workload's schedule: "a" is a pass on all CPUs, "p" a
    # pass pinned to one CPU, a different one each time from the last.
    # A traced run needs one round of all-CPU passes only.
    passes4, passes1, peaks = [], [], []
    schedule = w.schedule.replace("p", "") if args.trace else w.schedule
    t_start = time.perf_counter()
    t_end = t_start + args.seconds
    rounds = 0
    while True:
        for step in schedule:
            if step == "a":
                with RssSampler(session.jvm_pid) as rss:
                    p = run_pass(spark, w, inp, f"measure-{len(passes4)}", work, tracer)
                passes4.append(p)
                peaks.append(rss.peak)
                continue
            session.pin(str(cpus[-1 - len(passes1) % len(cpus)]))
            try:
                passes1.append(
                    run_pass(spark, w, inp, f"one-cpu-{len(passes1)}", work, tracer)
                )
            finally:
                session.pin(all_cpus)
        rounds += 1
        # Stop at the round boundary nearest to --seconds.
        now = time.perf_counter()
        if args.trace or now + (now - t_start) / rounds / 2 >= t_end:
            break
    dps4 = statistics.median(p.job_docs / p.wall for p in passes4)
    say(err_fd, f"[{w.name}] all-CPU passes {[round(p.wall, 3) for p in passes4]} "
        f"peaks {[round(x) for x in peaks]}")

    # -- output check (untimed) ---------------------------------------------
    t = time.perf_counter()
    if w.skew:
        out = written_output(work)
    failed, problems = check_output(out, w, inp, sample, work)
    out_spans = sum(out.column("n_spans").to_pylist())
    del out
    if w.skew:
        more_failed, more = check_checkpoint(inp, passes4 + passes1)
    else:
        more_failed, more = check_passes(passes4 + passes1, n, out_spans)
    record.count(n * (1 + len(passes4) + len(passes1)), failed + more_failed)
    for problem in problems + more:
        record.fail(problem)
    say(err_fd, f"[{w.name}] output check {time.perf_counter() - t:.1f}s")

    if not args.trace:
        record.put("docs_per_s", dps4)
        dps1 = statistics.median(p.job_docs / p.wall for p in passes1)
        say(err_fd, f"[{w.name}] 1-CPU passes {[round(p.wall, 3) for p in passes1]}")
        record.put("scaling_eff", dps4 / (len(cpus) * dps1))
        record.put("setup_s", setup_s)
        # The heap grows over the first passes; the peak is the run's.
        record.put("peak_rss_mb", max(peaks))
        if w.skew:
            resume_s = statistics.median(p.wall for p in passes4)
            say(err_fd, f"[{w.name}] resume_s = {resume_s:.6g} s")
        return

    # -- traced run: a second cold session with the event log on -----------
    tracer.enabled = True
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = session.start(event_log=True)
    starts.append(time.perf_counter() - t0)
    record.put("session.start_s", statistics.median(starts))
    for k in range(1 + w.settle):
        run_pass(spark, w, inp, f"trace-warmup-{k}", work, tracer)
    traced = []
    for k in range(len(passes4)):
        tracer.trace_id = f"traced-{k}"
        traced.append(run_pass(spark, w, inp, f"traced-{k}", work, tracer))
    tracer.trace_id = None
    session.stop()  # flushes the event log
    tracer.enabled = False
    kern, probe = layers.kernel_probe(inp.pdf_path if w.pdf else inp.spans_path, w.pdf)
    if inp.pdf_sample_path:
        # The sources layer on the workload's PDF sample.
        src, _ = layers.kernel_probe(inp.pdf_sample_path, True)
        for name in ("sources.pdf_parse_s", "sources.docs_per_s"):
            kern[name] = src[name]
    groups = layers.read_event_log(os.path.join(work, "eventlog"))
    pipe = layers.pipeline_metrics(
        [groups[f"traced-{k}"] for k in range(len(traced))],
        traced,
        len(cpus),
        kern.pop("kernel_s"),
    )
    for name, value in {**kern, **pipe}.items():
        record.put(name, value)
    share = pipe["pipeline.accounted_share"]
    say(err_fd, f"[{w.name}] layers account for {share:.1%} of the cores' time")
    if w.name == "spans_mixed" and abs(1 - share) > ACCOUNTING_TOLERANCE:
        record.fail(f"layers account for {share:.1%} of the wall, outside "
                    f"1 +/- {ACCOUNTING_TOLERANCE}")
    dps_traced = statistics.median(p.job_docs / p.wall for p in traced)
    record.put("trace.docs_per_s", dps_traced)
    record.put("trace.overhead_share", 1 - dps_traced / dps4)
    _run_job_layers(record, inp, traced if w.skew else [])
    os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench", "traces", f"{w.name}-s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "inputs": inp.stats,
                "run": tracer.as_dicts(),
                "kernel_probe_sample": probe.as_dicts(limit=5000),
                "event_log_groups": groups,
            },
            fh,
        )


def _run_job_layers(record, inp, traced) -> None:
    """The checkpointed job's layer metrics; 0 on workloads without one."""
    from perfbench.metrics import RUN_JOB

    if not traced:
        for name in RUN_JOB:
            record.put(name, 0.0)
        return
    waves = {
        (r["wall_ms"], r["attempt"])
        for p in traced
        for r in p.extra["lineage"]
        if r["status"] == "ok"
    }
    record.put("pipeline.run_job.wave_s", statistics.median(ms / 1000 for ms, _ in waves))
    written = statistics.median(p.extra["bytes_written"] for p in traced)
    record.put("pipeline.run_job.bytes_written", written)
    record.put("pipeline.run_job.write_amp", written / inp.stats["input_bytes"])
    record.put("pipeline.run_job.resume_s", statistics.median(p.wall for p in traced))
    record.put(
        "pipeline.run_job.completed_buckets_s",
        statistics.median(p.extra["completed_buckets_s"] for p in traced),
    )
    record.put(
        "pipeline.run_job.buckets_reprocessed",
        statistics.median(p.extra["stats"]["processed_buckets"] for p in traced),
    )


# ---------------------------------------------------------------------------
# --workload all: every workload in turn, one combined record
# ---------------------------------------------------------------------------


def run_all(args) -> int:
    from perfbench import record as rec_mod

    record = rec_mod.Record(os.dup(1))
    rec_mod.install_interrupts(None)
    complete = False
    proc = None
    try:
        for name in ALL:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--deadline", str(args.deadline)]
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
            stdout, _ = proc.communicate()
            proc = None
            lines = stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            if not result.get("correct"):
                record.fail(f"{name}: run failed")
            record.count(result.get("attempted", 1), result.get("failed", 1))
            for metric, m in result.get("metrics", {}).items():
                record.put(f"{name}.{metric}", m["value"], m["unit"])
        complete = True
    except rec_mod.Interrupted:
        if proc is not None:
            proc.terminate()  # the child prints its own partial record
            proc.wait()
    finally:
        signal_off()
    record.emit(complete)
    if not complete:
        return 3
    return 0 if record.correct else 1


if __name__ == "__main__":
    sys.exit(main())
