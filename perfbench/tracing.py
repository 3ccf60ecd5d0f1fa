"""In-memory spans and counters for the traced run.

A span records name, start, end, parent and run id, and the CPU seconds
the process tree spent meanwhile (driver, JVM, Python workers); counters
record row counts and other work done at the same boundaries.  Nothing
leaves memory until :meth:`Tracer.dump` writes the run's spans as JSON when
the run ends.
The untraced run uses :class:`NullTracer`, whose hooks do nothing, so the
iteration code is the same in both modes.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from perfbench.procstat import tree_cpu_by_kind


class NullTracer:
    """Tracing off: spans are free, stages are not materialized."""

    traced = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def materialize(self, name: str, df, rows: str | None = None):
        return df

    def count(self, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    traced = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        cpu0 = tree_cpu_by_kind()
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["cpu"] = {k: v - cpu0[k] for k, v in tree_cpu_by_kind().items()}

    def materialize(self, name: str, df, rows: str | None = None):
        """Run ``df`` to completion inside span ``name`` (local checkpoint,
        so later stages start from its output) and count its rows."""
        with self.span(name):
            df = df.localCheckpoint(eager=True)
        self.count(rows or f"{name}.rows", df.count())
        return df

    def count(self, name: str, value: float) -> None:
        self.counters[name] += value

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover (children run one after another, so their durations add)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def cpu(self, name: str, kind: str) -> float:
        """CPU seconds of one process kind inside the spans called ``name``."""
        return sum(s["cpu"][kind] for s in self.spans if s["name"] == name)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": self.spans, "counters": self.counters},
                f,
                indent=1,
            )
