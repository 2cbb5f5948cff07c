"""Pure helpers of the benchmark: spans and self time, interval unions,
error accounting and the seeded operation order. Nothing here touches Spark,
so ``perfbench/tests`` can check it without a JVM."""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass, field


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs of start, end), counting
    overlaps once. With ``lo``/``hi`` each interval is first clipped to that
    window, so jobs that straddle an operation's edges count only inside it."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    clipped.sort()
    total = 0.0
    cur_start = cur_end = None
    for start, end in clipped:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    """One timed call. ``layer`` names the module or Spark boundary the time
    belongs to; ``parent`` is the index of the enclosing span in the list."""

    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Keeps spans in memory. ``enabled=False`` turns ``open``/``close``
    into no-ops, so untraced runs take the same code path and record
    nothing. ``cost_s`` is the time spent inside ``open``/``close``: the
    work tracing adds to a timed pass."""

    enabled: bool = True
    spans: list = field(default_factory=list)
    cost_s: float = 0.0
    _stack: list = field(default_factory=list)

    def open(self, name: str, layer: str) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.time(), 0.0, parent))
        self._stack.append(len(self.spans) - 1)
        self.cost_s += time.perf_counter() - t0
        return self._stack[-1]

    def close(self, idx: int | None) -> None:
        """End span ``idx`` and any span still open inside it (a call that
        raised leaves its inner spans open)."""
        if idx is None:
            return
        t0 = time.perf_counter()
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            self.spans[top].end = now
            if top == idx:
                break
        self.cost_s += time.perf_counter() - t0

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None) -> int:
        """Record a span whose times come from elsewhere (a Spark job or
        stage from the status store)."""
        self.spans.append(Span(name, layer, start, end, parent))
        return len(self.spans) - 1


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer: each span's duration minus the part of
    its interval that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = union_length(
            [(c.start, c.end) for c in children.get(i, [])], s.start, s.end
        )
        out[s.layer] = out.get(s.layer, 0.0) + max(s.duration - covered, 0.0)
    return out


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it raises
    or when its result does not match the reference."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def op_order(names, seed: int, pass_index: int) -> list[str]:
    """The order of a pass's operations: a permutation fixed by the seed and
    the pass index alone, so a rerun with the same seed replays it."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
