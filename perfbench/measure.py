"""Pure helpers for the benchmark: percentiles, failure accounting, the
result line. No Spark here, so the unit tests run without a session."""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_metric_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The q-th percentile, or None when fewer than `min_beyond` samples lie
    beyond it — a tail figure resting on a handful of samples is noise."""
    if not values:
        return None
    cut = percentile(values, q)
    beyond = sum(1 for v in values if v > cut)
    return cut if beyond >= min_beyond else None


@dataclass
class Outcome:
    """What one operation produced: its latency, its output (checked later,
    outside the timed region), or the exception it raised."""

    label: str
    seconds: float
    output: Any = None
    error: str | None = None
    extra: dict[str, Any] = field(default_factory=dict)


@dataclass
class Tally:
    """Operations attempted and failed; `fail_frac` = failed / attempted.
    An operation fails when it raises or when its checked output differs
    from the reference answer."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, label: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(f"{label}: {problem}")

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def run_op(label: str, op: Callable[[], Any]) -> Outcome:
    """Time one operation; an exception is kept, not raised, so the closed
    loop goes on and the failure counts in fail_frac."""
    t0 = time.perf_counter()
    try:
        out = op()
    except Exception as exc:  # the loop must survive any operation error
        return Outcome(label, time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:300])
    return Outcome(label, time.perf_counter() - t0, output=out)


def check_outcomes(outcomes: list[Outcome], check: Callable[[Outcome], str | None]) -> Tally:
    """Count every outcome; an exception raised or a check that returns a
    problem string (or itself raises) marks it failed."""
    tally = Tally()
    for o in outcomes:
        if o.error:
            tally.record(o.label, o.error)
            continue
        try:
            problem = check(o)
        except Exception as exc:  # a crashing check is a failed operation
            problem = f"check raised {type(exc).__name__}: {exc}"[:300]
        tally.record(o.label, problem)
    return tally


def _cpu_s(pid: int) -> float:
    """utime + stime of a process, in seconds."""
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident set of the given processes, sampled on a
    background thread while the `with` block runs, and the CPU seconds they
    used in it."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_kib = max(self.peak_kib, sum(_rss_kib(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self.cpu_s = -sum(_cpu_s(p) for p in self.pids)
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        self.cpu_s += sum(_cpu_s(p) for p in self.pids)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


def result_line(tally: Tally, metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: correct/attempted/failed/metrics."""
    out = {}
    for name, (value, unit) in metrics.items():
        check_metric_name(name)
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps(
        {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": out,
        }
    )
