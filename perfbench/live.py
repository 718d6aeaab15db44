"""One run of the live job: ``job.run_job`` over a file replay, observed
from outside the program.

The replay is a closed loop with one client: the file source admits one
file per trigger (``maxFilesPerTrigger=1``), so the next micro-batch starts
only after the previous one has committed. Per-batch timings and state
metrics come from a ``StreamingQueryListener``; CPU from ``/proc``; with
tracing on, spans from ``spans.Tracer`` plus Spark job, task and codegen
counters read at each batch's edges.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from datetime import datetime

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import procstat
from spans import Tracer

# run_job's await timeout. A replay cut short by it leaves files
# uncommitted, which the output checks count as failures.
WAIT_S = 150.0


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _log_offset(off) -> int | None:
    """The file source's ``{"logOffset": n}``; PySpark renders the JVM's
    null start offset of the first batch as the string ``None``."""
    if off in (None, "None", "null", ""):
        return None
    return int(json.loads(off)["logOffset"])


class Progress(StreamingQueryListener):
    """Records each committed micro-batch and samples CPU at the edges of
    the timed window: after the batch that reads file ``first - 1`` and
    after the one that reads file ``last``."""

    def __init__(self, first_timed_file: int, last_timed_file: int):
        self.first, self.last = first_timed_file, last_timed_file
        self.batches: list[dict] = []
        self.samples: dict[str, tuple] = {}
        self.run_id: str | None = None
        self.error: str | None = None
        self.done = threading.Event()

    def onQueryStarted(self, event):
        self.run_id = str(event.runId)

    def onQueryProgress(self, event):
        p = event.progress
        src = p.sources[0]
        start, end = _log_offset(src.startOffset), _log_offset(src.endOffset)
        dur = dict(p.durationMs)
        rec = {
            "batch": p.batchId,
            "file": end if end is not None and end != start else None,
            "start": _epoch(p.timestamp),
            "wall_s": dur.get("triggerExecution", 0) / 1000.0,
            "dur_ms": dur,
            "state": [{"rows": s.numRowsTotal, "updated": s.numRowsUpdated,
                       "update_ms": s.allUpdatesTimeMs}
                      for s in p.stateOperators],
        }
        self.batches.append(rec)
        if rec["file"] in (self.first - 1, self.last):
            key = "start" if rec["file"] == self.first - 1 else "end"
            self.samples[key] = (procstat.tree_cpu(), procstat.host_ticks(),
                                 os.getloadavg()[0])

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.error = event.exception
        self.done.set()


class BatchCounters:
    """Spark job/task and codegen counters at batch edges (traced runs)."""

    def __init__(self, spark, listener: Progress):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._listener = listener
        self._open: dict[int, tuple] = {}
        self.per_batch: dict[int, dict] = {}

    def _codegen(self):
        cg = self._jvm.org.apache.spark
        return (cg.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
                .getCount(),
                cg.sql.catalyst.expressions.codegen.CodeGenerator.compileTime())

    def _jobs(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(
            self._listener.run_id))

    def __call__(self, batch_id: int, phase: str) -> None:
        snap = (self._jobs(), *self._codegen())
        if phase == "start":
            self._open[batch_id] = snap
            return
        jobs0, n0, ns0 = self._open.pop(batch_id)
        self.per_batch[batch_id] = {
            "jobs": sorted(snap[0] - jobs0),
            "compiles": snap[1] - n0,
            "compile_ms": (snap[2] - ns0) / 1e6,
        }

    def tasks(self, job_ids) -> int:
        st = self._sc.statusTracker()
        total = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    total += stage.numTasks
        return total


def run(spark_factory, replay, first_timed: int, last_timed: int,
        paths: dict, schema, dim: int, parallelism: int, dedup: bool,
        trace: bool) -> dict:
    """Start a session, run the job over the replay, return raw records.

    ``spark_factory()`` starts the session; set-up time runs from that call
    to the commit of the first micro-batch."""
    t_session = time.time()
    spark = spark_factory()
    t_ready = time.time()
    from omldm_spark.job import JobConfig, run_job

    listener = Progress(first_timed, last_timed)
    spark.streams.addListener(listener)
    tracer = counters = None
    if trace:
        counters = BatchCounters(spark, listener)
        tracer = Tracer(on_batch=counters)
        tracer.install()

    stats: list = []
    cfg = JobConfig(
        parallelism=parallelism,
        input_path=paths["input"],
        input_schema=schema,
        max_files_per_trigger=1,
        predictions_path=paths["predictions"],
        checkpoint_dir=paths["checkpoint"],
        dim=dim,
        timeout_ms=int(WAIT_S * 1000),
        stats_sink=stats,
        responses_sink=[],
        holdout_df=spark.read.schema("features array<double>, label double")
        .parquet(paths["holdout"]),
        # exact cross-batch dedup (no TTL): every re-sent id must drop
        dedup_key="id" if dedup else None,
    )
    t_job = time.time()
    try:
        catalog = run_job(spark, cfg)
    finally:
        if tracer is not None:
            tracer.uninstall()
    listener.done.wait(30)
    spark.streams.removeListener(listener)

    preds = {}
    if os.path.isdir(paths["predictions"]):
        col = pq.read_table(paths["predictions"], columns=["pipelineId"])
        preds = Counter(col.column("pipelineId").to_pylist())
    out = {
        "t_session": t_session,
        "t_ready": t_ready,
        "t_job": t_job,
        "batches": listener.batches,
        "samples": listener.samples,
        "error": listener.error,
        "catalog": {pid: spec.fitted for pid, spec in catalog.pipelines.items()},
        "responses": cfg.responses_sink,
        "predictions": preds,
        "stats": stats,
    }
    if trace:
        out["tracer"] = tracer
        out["counters"] = counters
        out["tasks"] = {b: counters.tasks(c["jobs"])
                        for b, c in counters.per_batch.items()}
    return out
