"""What a workload hands back to ``run.py``, and small shared helpers."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field


def more_units(elapsed: float, units: int, seconds: float, deadline: float) -> bool:
    """Whether the loop starts another unit (cycle or wave): a run measures
    at least one unit and at least ``seconds``.  Past ``deadline`` (a
    ``perf_counter`` instant) a run stops after its first unit, so a slow
    machine still finishes well inside the run time limit."""
    if units and time.perf_counter() > deadline:
        return False
    return elapsed < seconds or not units


@dataclass
class Outcome:
    """Raw measurements of one workload run (all times in seconds).

    ``phases`` maps write / fresh / read / cycle to one sample per loop
    unit (an mv_maintain cycle or a sketch_waves wave)."""

    setup_s: float
    phases: dict[str, list[float]]
    loop_s: float
    rows_changed: int
    disk_bytes: int
    attempted: int
    failed: int
    correct: bool
    segments: dict[str, int] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


class Clock:
    """perf_counter stopwatch: ``lap()`` returns seconds since the last lap."""

    def __init__(self):
        self.t = time.perf_counter()

    def lap(self) -> float:
        now = time.perf_counter()
        dt, self.t = now - self.t, now
        return dt


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except FileNotFoundError:
                pass
    return total
