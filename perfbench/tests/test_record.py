"""The run record: failed checks never yield numbers, and a killed or
timed-out run still prints a parseable partial record."""

import json
import os
import shutil
import signal
import subprocess
import sys
import time

from perfbench.record import Record

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
KEYS = {"correct", "attempted", "failed", "metrics"}


def _record(tmp_path):
    fd = os.open(tmp_path / "out", os.O_WRONLY | os.O_CREAT)
    return Record(fd), tmp_path / "out"


def test_complete_record(tmp_path):
    rec, path = _record(tmp_path)
    rec.count(100, 0)
    rec.put("docs_per_s", 1234.5)
    rec.emit(complete=True)
    rec.emit(complete=True)  # printed once
    lines = path.read_text().splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert set(out) == KEYS and out["correct"] is True
    assert out["metrics"] == {"docs_per_s": {"value": 1234.5, "unit": "docs/s"}}


def test_failed_check_yields_no_number(tmp_path):
    rec, path = _record(tmp_path)
    rec.count(100, 3)
    rec.put("docs_per_s", 1234.5)
    rec.fail("3 docs failed")
    rec.emit(complete=True)
    out = json.loads(path.read_text())
    assert out == {"correct": False, "attempted": 100, "failed": 100, "metrics": {}}


def test_partial_record_keeps_final_metrics(tmp_path):
    rec, path = _record(tmp_path)
    rec.put("setup_s", 4.2)
    rec.emit(complete=False)
    out = json.loads(path.read_text())
    assert out["correct"] is False and out["attempted"] >= 1
    assert out["metrics"]["setup_s"]["value"] == 4.2


def _jvms():
    out = subprocess.run(["ps", "-eo", "args"], capture_output=True, text=True).stdout
    return [l for l in out.splitlines() if "java" in l and "perfbench" in l]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_deadline_prints_partial_record_and_stops_spark():
    before = len(_jvms())
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "spans_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--deadline", "8"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 3
    out = _last_json(proc.stdout)
    assert set(out) == KEYS and out["correct"] is False
    assert len(_jvms()) == before


def test_sigterm_prints_partial_record():
    proc = subprocess.Popen(
        [sys.executable, RUN, "--workload", "pdf_bytes", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    time.sleep(6)
    proc.send_signal(signal.SIGTERM)
    stdout, _ = proc.communicate(timeout=120)
    assert proc.returncode == 3
    out = _last_json(stdout)
    assert set(out) == KEYS and out["correct"] is False


def test_without_the_engine_it_fails_without_a_record(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "spans_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
