"""Spans for the traced benchmark run.

A :class:`Tracer` wraps the package's layer entry points (kNN edges,
accessibility index, compat classifier, TVP/RS embedding, majority
decode, the attacks, extraction) while a traced op runs. Each wrapped
call becomes one span: name, start, end, parent, op id. Spark is lazy,
so the wrapper forces the call's DataFrame output inside the span with
an eager local checkpoint and hands the checkpoint on, so downstream
code reuses it instead of recomputing. Every span sets its own Spark
job group, which is how jobs, stages and tasks are attributed to it.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

SETUP_OP = -1  # op id of the traced set-up step
EMBEDDERS = ("tvp_embed_with_ai", "rs_embed")


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    # rows of the forced output where a layer metric needs it; for an
    # embedder, the carriers it selected
    count: int | None = None


def _force(out, counted: bool):
    """Materialize a call's DataFrame output (the first tuple member for
    the embedders). Returns the new output and its row count if asked."""
    if isinstance(out, DataFrame):
        df = out.localCheckpoint(eager=True)
        return df, (df.count() if counted else None)
    if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
        df = out[0].localCheckpoint(eager=True)
        return (df, *out[1:]), None
    return out, None


class Tracer:
    # (module, attribute, span name, row count of the forced output)
    TARGETS = [
        ("vector_database_watermarking_spark.api", "load_data", "load_data", False),
        ("vector_database_watermarking_spark.watermark.tvp", "knn_edges", "knn_edges", True),
        ("vector_database_watermarking_spark.watermark.tvp", "accessibility_index", "accessibility_index", False),
        ("vector_database_watermarking_spark.watermark.tvp", "classify_compat", "classify_compat", False),
        ("vector_database_watermarking_spark.watermark.tvp", "tvp_embed_with_ai", "tvp_embed_with_ai", False),
        ("vector_database_watermarking_spark.watermark.tvp", "rs_embed", "rs_embed", False),
        ("vector_database_watermarking_spark.watermark.tvp", "tvp_extract", "tvp_extract", False),
        ("vector_database_watermarking_spark.operators.grouping", "majority_decode", "majority_decode", False),
        ("vector_database_watermarking_spark.operators.attacks", "random_delete", "random_delete", False),
        ("vector_database_watermarking_spark.operators.attacks", "random_modify", "random_modify", False),
        ("vector_database_watermarking_spark.operators.attacks", "gaussian_insertion", "gaussian_insertion", False),
    ]

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self.op = SETUP_OP

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.op}-{span.id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    def _wrap(self, fn, name: str, counted: bool):
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out, s.count = _force(fn(*args, **kwargs), counted)
            if name in EMBEDDERS:
                s.count = out[1].count()  # re-runs the selection, outside the span
            return out

        return traced

    @contextmanager
    def op_scope(self, op: int):
        """Patch the layer entry points for one traced op, under a root
        span named ``op``; restore them afterwards."""
        import importlib

        self.op = op
        for mod_name, attr, name, counted in self.TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name, counted))
        try:
            with self.span("op"):
                yield
        finally:
            while self._saved:
                mod, attr, fn = self._saved.pop()
                setattr(mod, attr, fn)

    def attach_jobs(self) -> None:
        """Fill each span's job ids from its job group, once the listener
        bus has caught up with the last op."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if not s.jobs:
                s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.op}-{s.id}"))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)

    # ---------------------------------------------------------- reductions

    def _descendants(self, s: Span) -> list[Span]:
        kids = [c for c in self.spans if c.parent == s.id]
        return kids + [d for c in kids for d in self._descendants(c)]

    def per_op(self, name: str, what: str, op: int | None = None) -> list[float]:
        """One value per traced op (or for op ``op`` only) for spans called
        ``name``: ``total`` (summed duration), ``self`` (duration minus
        direct children), ``jobs`` (jobs in the span and its descendants)
        or ``count``. The traced set-up step counts only when asked for."""
        ops = [op] if op is not None else sorted({s.op for s in self.spans if s.op >= 0})
        out = []
        for op in ops:
            v = 0.0
            for s in self.spans:
                if s.op != op or s.name != name:
                    continue
                if what == "total":
                    v += s.end - s.start
                elif what == "self":
                    kids = [c for c in self.spans if c.parent == s.id]
                    v += (s.end - s.start) - sum(c.end - c.start for c in kids)
                elif what == "jobs":
                    v += len(s.jobs) + sum(len(d.jobs) for d in self._descendants(s))
                elif what == "count":
                    v += s.count or 0
            out.append(v)
        return out
