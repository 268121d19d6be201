"""Spans recorded by the benchmark around calls into the engine's public
functions, and the per-layer ledger built from them.

Spark is lazy: a call such as ``extract_plan`` only builds a plan, and
the work runs inside the next action. A layer's time is therefore
measured as a *prefix ladder*: rung k materializes the plan up to and
including one more public call (a ``noop`` write), and the layer's self
time is rung k minus rung k-1. The upper rungs are the job itself
(``main(argv)`` of ``jobs/*.py``) without, then with, its last actions, so
the top rung is a whole run. Spans are kept in memory and written out
once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    round: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.round = 0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.perf_counter(), parent, self.round))

    def median(self, name: str) -> float:
        values = [s.seconds for s in self.spans if s.name == name]
        return statistics.median(values) if values else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def ledger(tracer: Tracer, rungs: list[str], walls: dict[int, float]) -> dict[str, float]:
    """Self time per layer, paired within each round, then the median over
    rounds.

    ``rungs`` name the prefix ladder in order; layer k's self time is
    rung k minus rung k-1 (the first rung is the scan). ``walls[r]`` is
    the untraced run of round r; what the layers do not account for is
    reported as ``unattributed`` (negative when the ladder over-counts).
    As the top rung is a whole run, it is the difference between the
    untraced run and the traced one. Pairing within a round keeps drift
    across rounds (JIT warm-up, a neighbour's burst) out of the
    differences."""
    per_round: dict[str, list[float]] = {}
    for r, wall in walls.items():
        def seconds(name: str) -> float:
            return next(s.seconds for s in tracer.spans if s.name == name and s.round == r)

        entries, prev = {}, 0.0
        for name in rungs:
            rung = seconds(name)
            entries[name], prev = rung - prev, rung
        entries["unattributed"] = wall - sum(entries.values())
        for name, value in entries.items():
            per_round.setdefault(name, []).append(value)
    return {name: statistics.median(values) for name, values in per_round.items()}


def format_ledger(entries: dict[str, float], run_s: float) -> str:
    lines = [f"{'layer':<22}{'self s':>10}{'share':>9}"]
    for name, sec in entries.items():
        share = sec / run_s if run_s else 0.0
        lines.append(f"{name:<22}{sec:>10.3f}{share:>8.1%}")
    lines.append(f"{'untraced run':<22}{run_s:>10.3f}")
    return "\n".join(lines)
