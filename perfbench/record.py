"""The run record and the statistics used to judge runs.

A run prints exactly one JSON line on stdout, last:
``{"correct", "attempted", "failed", "metrics"}``.  A run that is killed
(SIGTERM) or hits its deadline still prints one, marked incorrect, with
whatever metrics were final by then — never nothing.
"""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
from typing import Dict, Iterable, List, Optional, Sequence

from perfbench.metrics import unit_of


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def quartiles(values: Sequence[float]):
    """(q1, q3) exactly as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def worse_by(parent: float, child: float, better: str) -> float:
    """Share by which ``child`` is worse than ``parent`` (<= 0: not worse)."""
    if better == "lower":
        return (child - parent) / parent
    return (parent - child) / parent


def regressed(
    parent: Iterable[float], child: Iterable[float], better: str, bound: float
) -> bool:
    """True when the child's median is worse than the parent's by > bound."""
    return worse_by(median(list(parent)), median(list(child)), better) > bound


class Interrupted(Exception):
    """Raised in the main thread by SIGTERM or the run's own deadline."""


# The signal that interrupted the run, if any: a library may catch
# Interrupted and re-raise it as its own error (py4j does).
INTERRUPTED_BY: List[str] = []


def _raise_interrupted(signum, _frame):
    INTERRUPTED_BY.append(signal.Signals(signum).name)
    raise Interrupted(INTERRUPTED_BY[-1])


def install_interrupts(deadline_s: Optional[float]) -> None:
    signal.signal(signal.SIGTERM, _raise_interrupted)
    signal.signal(signal.SIGALRM, _raise_interrupted)
    if deadline_s:
        signal.alarm(max(1, int(deadline_s)))


class Record:
    """Collects one run's result; printed once, as the last stdout line."""

    def __init__(self, out_fd: int) -> None:
        self.out_fd = out_fd
        self.metrics: Dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []
        self._emitted = False

    def put(self, name: str, value: float, unit: Optional[str] = None) -> None:
        value = float(value)
        if math.isnan(value) or math.isinf(value):
            raise ValueError(f"{name} is not a finite number: {value}")
        self.metrics[name] = {"value": value, "unit": unit or unit_of(name)}

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += int(attempted)
        self.failed += int(failed)

    def fail(self, problem: str) -> None:
        self.problems.append(problem)

    @property
    def correct(self) -> bool:
        return not self.problems and self.failed == 0 and self.attempted > 0

    def as_dict(self, complete: bool) -> dict:
        correct = complete and self.correct
        if complete and not correct:
            # A failed check never yields a number; every doc counts as failed.
            return {
                "correct": False,
                "attempted": max(self.attempted, 1),
                "failed": max(self.attempted, 1),
                "metrics": {},
            }
        return {
            "correct": correct,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if complete else max(self.attempted, 1),
            "metrics": self.metrics,
        }

    def emit(self, complete: bool) -> None:
        if self._emitted:
            return
        self._emitted = True
        line = json.dumps(self.as_dict(complete), sort_keys=True) + "\n"
        os.write(self.out_fd, line.encode())
