"""Spans for the traced run, recorded from outside the package.

A span is one call into a layer: pass -> query -> {build -> read_table,
exec -> write_parquet / to_csv_payload}. Spans live in memory and share
the run's identifier; ``self_seconds`` subtracts the time child spans
cover. The builders reach ``io.readers.read_table`` through names bound
at import in many modules, so ``wrap_read_table`` replaces the name in
every package module that bound it. On request it also counts, through a
profile hook on the original function's code, the calls that reach it,
so a caller can check that no call slipped past the wrapper. The hook
slows all driver-side Python, so timed passes run without it.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

PACKAGE = "trackdechets_etl_spark"


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    run_id: str
    name: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(
            len(self.spans),
            self._stack[-1] if self._stack else None,
            self.run_id,
            name,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, span: Span) -> float:
        children = sum(
            c.end - c.start for c in self.spans if c.parent_id == span.span_id
        )
        return span.end - span.start - children

    def write(self, path: Path) -> None:
        path.write_text(
            json.dumps(
                [
                    {**asdict(s), "self_s": self.self_seconds(s)}
                    for s in self.spans
                ]
            )
        )


@contextmanager
def wrap_read_table(tracer: Tracer, spark, count_calls: bool = False):
    """Route every ``read_table`` call through a span and its own job
    group for the duration of the block; yield a function returning
    ``(wrapped calls, calls observed)``. Calls are observed only with
    ``count_calls``; otherwise the second figure is None."""
    from trackdechets_etl_spark.io import readers

    original = readers.read_table
    sc = spark.sparkContext
    wrapped_calls = 0
    observed_calls = 0

    def read_table(*args, **kwargs):
        nonlocal wrapped_calls
        wrapped_calls += 1
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{outer}/read_table", "read_table")
        try:
            with tracer.span("io.readers.read_table"):
                return original(*args, **kwargs)
        finally:
            sc.setJobGroup(outer, "build")

    def profile(frame, event, arg):
        nonlocal observed_calls
        if event == "call" and frame.f_code is original.__code__:
            observed_calls += 1

    bound = [
        m
        for name, m in list(sys.modules.items())
        if name.split(".")[0] == PACKAGE and getattr(m, "read_table", None) is original
    ]
    for m in bound:
        m.read_table = read_table
    previous = sys.getprofile()
    if count_calls:
        sys.setprofile(profile)
    try:
        yield lambda: (wrapped_calls, observed_calls if count_calls else None)
    finally:
        sys.setprofile(previous)
        for m in bound:
            m.read_table = original
