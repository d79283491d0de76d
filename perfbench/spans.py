"""Spans around the benchmark's calls into each pydi_spark layer.

A ``Tracer`` with ``traced=False`` is a pass-through: the pipeline runs
exactly as a user would write it. With ``traced=True`` every call into a
layer becomes a span (name, start, end, parent, run id) kept in memory,
tagged with a Spark job group so the event log can be split by span, and
its output is materialised at the layer boundary so the span's self time
is that layer's own work (this stops Catalyst from fusing plans across
layers, which is why the traced pass is not the timed one).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    rows_out: int = 0


def write_spans(path: str, spans: list[Span]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump([asdict(s) for s in spans], fh, indent=1)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover.

    Children are clipped to the parent's interval and merged, so
    overlapping or out-of-bounds children never drive self time below 0.
    """
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.span_id, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    """Layer name -> summed self time of its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


def _materialise(value: Any) -> tuple[Any, int]:
    """Force ``value`` at the boundary; return it with its row count."""
    from pydi_spark import Dataset

    if isinstance(value, DataFrame):
        done = value.localCheckpoint(eager=True)
        return done, done.count()
    if isinstance(value, Dataset):
        df, n = _materialise(value.df)
        return value.with_df(df), n
    if isinstance(value, (tuple, list)):
        parts = [_materialise(v) for v in value]
        return type(value)(p[0] for p in parts), sum(p[1] for p in parts)
    if isinstance(value, dict):
        return value, len(value)
    return value, 1


class Tracer:
    def __init__(self, spark, traced: bool, run_id: str):
        self.spark = spark
        self.traced = traced
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def span(self, name: str, fn: Callable[[], Any], materialise: bool = True) -> Any:
        """Run ``fn`` as layer ``name``; untraced, just call it."""
        if not self.traced:
            return fn()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(span)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group_id(sid), name)
        try:
            out = fn()
            if materialise:
                out, span.rows_out = _materialise(out)
        finally:
            self._stack.pop()
            span.end = time.perf_counter()
            if parent is None:
                sc.setJobGroup(f"{self.run_id}:idle", "idle")
            else:
                sc.setJobGroup(self.group_id(parent), self.spans[parent].name)
        return out

