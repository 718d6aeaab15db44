"""Span tracing of the live job from outside the program.

``Tracer.install()`` wraps the public calls the micro-batch handler makes
into each layer and records one span per call: name, start, end, parent and
trace id (the micro-batch id). The program itself is not modified; the
wrappers are removed again by ``uninstall()``. Spans stay in memory and are
summarised when the run ends.

Self time of a span is its duration minus the time covered by its child
spans. Calls here are strictly nested and sequential on the handler thread,
so the children's durations add up without overlap.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass

# The root span: one call of the foreachBatch handler, i.e. one micro-batch.
ROOT = "training_loop.handler"


def _targets():
    """(owner, attribute, span name) for each layer boundary the handler
    crosses. Names imported into training_loop are patched there, where
    the handler looks them up."""
    from pyspark.sql.readwriter import DataFrameWriter

    from omldm_spark.learners import trainer
    from omldm_spark.plans.catalog import PipelineCatalog
    from omldm_spark.streaming import training_loop

    return [
        (PipelineCatalog, "apply_requests_df", "plans.catalog.apply_requests"),
        (PipelineCatalog, "save", "plans.catalog.save"),
        (training_loop, "train_batch", "training_loop.train_batch"),
        (training_loop, "predict_batch", "training_loop.predict_batch"),
        (training_loop, "build_query_responses",
         "training_loop.build_query_responses"),
        (training_loop, "apply_chain", "functions.preprocess.apply_chain"),
        (training_loop, "protocol_round", "learners.protocols.round"),
        (trainer, "fit", "learners.trainer.fit"),
        (trainer, "fit_groups", "learners.trainer.fit_groups"),
        (trainer, "evaluate_linear", "learners.trainer.evaluate_linear"),
        (DataFrameWriter, "parquet", "job.sink_write"),
    ]


@dataclass
class Span:
    trace_id: int
    name: str
    start: float
    end: float
    parent: int | None      # index into Tracer.spans
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


class Tracer:
    def __init__(self, on_batch=None):
        """``on_batch(batch_id, phase)`` is called with phase 'start' and
        'end' around each micro-batch, for counters read at batch edges."""
        self.spans: list[Span] = []
        self._on_batch = on_batch
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _call(self, name, fn, trace_id, args, kwargs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None:
            trace_id = self.spans[parent].trace_id if parent is not None else -1
        idx = len(self.spans)
        self.spans.append(Span(trace_id, name, time.perf_counter(), 0.0, parent))
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span = self.spans[idx]
            span.end = time.perf_counter()
            if parent is not None:
                self.spans[parent].child_s += span.end - span.start

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self._call(name, fn, None, args, kwargs)

        return wrapper

    def _wrap_factory(self, factory):
        """Wrap make_batch_handler so each handler call is a root span whose
        trace id is the micro-batch id."""
        tracer = self

        @functools.wraps(factory)
        def make(*args, **kwargs):
            handle = factory(*args, **kwargs)

            def traced(batch_df, batch_id):
                if tracer._on_batch:
                    tracer._on_batch(batch_id, "start")
                try:
                    return tracer._call(ROOT, handle, int(batch_id),
                                        (batch_df, batch_id), {})
                finally:
                    if tracer._on_batch:
                        tracer._on_batch(batch_id, "end")

            return traced

        return make

    # -- install / uninstall -----------------------------------------------

    def _patch(self, owner, attr, new):
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        from omldm_spark import job

        for owner, attr, name in _targets():
            self._patch(owner, attr, self._wrap(name, getattr(owner, attr)))
        self._patch(job, "make_batch_handler",
                    self._wrap_factory(job.make_batch_handler))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- summaries ----------------------------------------------------------

    def per_batch(self, batch_ids) -> dict[str, float]:
        """Mean self seconds per micro-batch for each span name, over the
        given batches (names absent from a batch count as 0)."""
        wanted = set(batch_ids)
        tot: dict[str, float] = {}
        for s in self.spans:
            if s.trace_id in wanted:
                tot[s.name] = tot.get(s.name, 0.0) + s.self_s
        return {k: v / max(len(wanted), 1) for k, v in tot.items()}

    def roots(self, batch_ids) -> list[float]:
        wanted = set(batch_ids)
        return [s.end - s.start for s in self.spans
                if s.name == ROOT and s.trace_id in wanted]
