"""Picklable stand-in for a paid chat API.

Each call sleeps a deterministic 10 ms plus 20 µs per estimated input
token (``len(user) / 4``), so the simulated network dominates a cold
pipeline pass the way a real provider would, and returns every input
line containing ``keyword``, each with its trailing newline. Because
whole lines are kept or dropped, the combined output does not depend
on where the chunker splits a document (``corpus.expected_output``).

With ``log_dir`` set, every call appends ``pid start end`` (wall-clock
seconds) to ``<log_dir>/<pid>.log``; ``read_calls`` turns the logs
into exact call counts and spans across the Python workers.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass

BASE_LATENCY_S = 0.010
PER_TOKEN_LATENCY_S = 20e-6


@dataclass(frozen=True)
class KeywordClient:
    keyword: str
    log_dir: str | None = None
    simulate_latency: bool = True

    def generate(self, system: str, user: str) -> str:
        start = time.time()
        if self.simulate_latency:
            time.sleep(BASE_LATENCY_S + PER_TOKEN_LATENCY_S * len(user) / 4)
        out = "".join(line + "\n" for line in user.split("\n") if self.keyword in line)
        if self.log_dir is not None:
            with open(os.path.join(self.log_dir, f"{os.getpid()}.log"), "a") as fh:
                fh.write(f"{os.getpid()} {start!r} {time.time()!r}\n")
        return out


def read_calls(log_dir: str) -> list[tuple[int, float, float]]:
    """Every logged call as (pid, start, end), sorted by start."""
    calls = []
    for path in glob.glob(os.path.join(log_dir, "*.log")):
        with open(path) as fh:
            for line in fh:
                pid, start, end = line.split()
                calls.append((int(pid), float(start), float(end)))
    return sorted(calls, key=lambda c: c[1])


def call_stats(calls: list[tuple[int, float, float]]) -> dict[str, float]:
    """calls, busy seconds (sum of call durations), span seconds (first
    start to last end) and mean calls in flight (busy / span)."""
    if not calls:
        return {"calls": 0, "busy_s": 0.0, "span_s": 0.0, "inflight": 0.0}
    busy = sum(end - start for _, start, end in calls)
    span = max(end for _, _, end in calls) - calls[0][1]
    return {
        "calls": len(calls),
        "busy_s": busy,
        "span_s": span,
        "inflight": busy / span if span > 0 else 0.0,
    }
