"""In-memory spans, wrapper installation, self time and percentiles.

A span is (id, parent, trace, name, start, end, attrs) with times in
``time.perf_counter`` seconds; ``epoch_offset`` maps them onto the wall
clock the Spark event log uses.  Spans of one interactive query share
a trace id.  Only the traced run installs wrappers; the untraced run
uses ``NullTracer`` so its timings carry no wrapper cost.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import time


def tail_percentile(values, pct: float, min_beyond: int = 10) -> float:
    """``pct``-th percentile (nearest rank), refused (``ValueError``)
    when fewer than ``min_beyond`` samples lie beyond it."""
    n = len(values)
    beyond = int(n * (100 - pct) / 100)
    if beyond < min_beyond:
        raise ValueError(
            f"p{pct:g} of {n} samples leaves {beyond} beyond it; "
            f"need {min_beyond}")
    return nearest_rank(values, pct)


def nearest_rank(values, pct: float) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = max(0, min(len(s) - 1, -(-len(s) * pct // 100) - 1))
    return s[int(k)]


def highest_tail(values, candidates=(99, 95, 90, 85, 80, 75, 70, 60)):
    """(pct, value) for the highest candidate percentile with at least
    ten samples beyond it; (None, None) when even p60 is refused (a
    median is not a tail)."""
    for pct in candidates:
        try:
            return pct, tail_percentile(values, pct)
        except ValueError:
            continue
    return None, None


def mid_mean(values) -> float:
    """Mean of the middle half of ``values`` (the interquartile mean):
    as robust to the odd GC pause or JIT burst as a median, with less
    spread from run to run, and not stuck on one 10 ms CPU tick."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    q = len(s) // 4
    mid = s[q:len(s) - q]
    return sum(mid) / len(mid)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class NullTracer:
    """Untraced runs: spans cost one generator frame and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield None

    def new_trace(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0
        self._patches: list[tuple] = []
        self.epoch_offset = time.time() - time.perf_counter()

    def new_trace(self) -> None:
        self._trace += 1

    @contextlib.contextmanager
    def span(self, name, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {"id": len(self.spans), "parent": parent, "trace": self._trace,
              "name": name, "start": time.perf_counter(), "end": None,
              "attrs": attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def current(self, name: str) -> dict | None:
        """Innermost open span called ``name``."""
        for sp in reversed(self._stack):
            if sp["name"] == name:
                return sp
        return None

    def wrap(self, owner, attr: str, name: str, after=None,
             before=None) -> bool:
        """Replace ``owner.attr`` (a function or a method) with a spanned
        wrapper.  ``before(span, args, kwargs)`` runs inside the span
        before the call and ``after(span, args, kwargs, result)`` once it
        returned, for span attributes and counters.  Returns False (and
        patches nothing) when the attribute is missing, so a renamed
        layer shows up as an empty metric instead of a crash."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return False
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if before is not None:
                    before(sp, args, kwargs)
                result = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, result)
                return result

        self.patch(owner, attr, wrapper)
        return True

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unwrap_all``."""
        self._patches.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def epoch(self, t: float) -> float:
        return t + self.epoch_offset

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part its children cover."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered = union_length(
            (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
            for c in children.get(sp["id"], ()))
        out[sp["id"]] = (sp["end"] - sp["start"]) - covered
    return out
