"""Tests for bench.py's driver contract: the last stdout line is a
headline under 1 KB, and a SIGTERM still yields one."""

import json
import os
import signal
import subprocess
import sys
import time

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _full_record(**over):
    full = {
        "complete": True,
        "correct": True,
        "attempted": 42680,
        "failed": 0,
        "problems": [],
        "metrics": {
            f"{w}.{m}": 1234.5678
            for w in ("spans_mixed", "pdf_bytes", "skew_checkpoint")
            for m in ("docs_per_s", "scaling_eff", "setup_s", "peak_rss_mb")
        },
        "queries": {
            f"q{i:03d}": {"build_s": 0.123, "force_s": 1.234} for i in range(125)
        },
        "lsh_audit": {"minhash_perms": 32, "bands": 16, "rows_per_band": 2,
                      "oversized_buckets": 0, "capped_pairs_dropped": 0,
                      "cc_rounds": 5},
        "nproc": 4,
    }
    full["metrics"]["spans_mixed.docs_per_s"] = 3579.123
    full["metrics"]["spans_mixed.scaling_eff"] = 0.85123
    full.update(over)
    return full


def test_slim_headline_under_capture_window():
    headline = bench.headline(_full_record())
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line.encode()) < 1024
    assert "queries" not in headline
    assert headline["docs_per_sec"] == headline["value"] == 3579.1
    assert headline["scaling"] == {"efficiency_median": 0.851, "levels": [1, 4]}
    assert headline["pdf_path"]["docs_per_sec"] == 1234.6
    assert headline["skew"]["docs_per_sec"] == 1234.6
    assert headline["error_share"] == 0
    assert headline["detail"] == "BENCH/RESULT.json"

    # A run cut before any workload finished still has every key.
    partial = bench.headline(_full_record(
        complete=False, correct=False, attempted=1, failed=1, metrics={},
        queries={}, lsh_audit=None,
    ))
    assert partial.keys() == headline.keys()
    assert partial["docs_per_sec"] is None
    assert partial["scaling"]["efficiency_median"] is None
    assert partial["error_share"] == 1


def _tagged_pids(tag):
    """Live processes whose environment has ``BENCH_TEST_TAG=<tag>``."""
    marker = f"BENCH_TEST_TAG={tag}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                if marker in fh.read():
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def _is_jvm(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"java" in fh.read().split(b"\0")[0]
    except OSError:
        return False


def test_sigterm_still_prints_a_headline(tmp_path):
    tag = f"sigterm-{os.getpid()}-{time.time_ns()}"
    env = dict(os.environ, BENCH_TEST_TAG=tag)
    env["SPARK_GRAFT_SF_DIR"] = os.path.join(
        os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.001"
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        # Mid-run: a few seconds after the first Spark JVM of the run is up.
        deadline = time.monotonic() + 300
        while not any(_is_jvm(p) for p in _tagged_pids(tag)):
            assert proc.poll() is None, "bench exited before Spark started"
            assert time.monotonic() < deadline, "no Spark JVM within 300 s"
            time.sleep(0.5)
        time.sleep(5)
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=180)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()

    assert proc.returncode != 0
    lines = out.decode().splitlines()
    assert len(lines) == 1, lines
    assert len(lines[0].encode()) < 1024
    headline = json.loads(lines[0])
    assert headline["complete"] is False
    assert headline["correct"] is False
    assert _tagged_pids(tag) == []
    record = json.loads((tmp_path / "BENCH" / "RESULT.json").read_text())
    assert record["complete"] is False
    # The perfbench child was terminated, not killed: it printed its own
    # partial record (exit 3), which counts every attempted doc as failed.
    assert any(p.startswith("perfbench exited 3") for p in record["problems"])
    assert headline["error_share"] == 1
