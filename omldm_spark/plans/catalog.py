"""Pipeline catalog — the control plane (M3, SURVEY.md §2.8/§3.2).

Reference: ``PipelineMap`` (src/main/scala/omldm/utils/parsers/
requestStream/PipelineMap.scala:14-71) is a single-subtask (keyBy(0))
registry of pipeline specs with whitelist validation (:66-69), CRUD routing
(:31-47), and a broadcast of every accepted request to all workers.

Spark design: the control stream is tiny (README.md:23-24 provisions ONE
Kafka partition for requests), so the registry lives on the driver and is
applied inside ``foreachBatch`` — the idiomatic replacement for a
parallelism-1 operator. "Broadcast to workers" dissolves: workers are
stateless; the spec/model table is broadcast-joined to data each round.
State persists as JSON (parquet-able) so a restarted query resumes, which is
the reference's MapState checkpoint (FlinkSpoke.scala:233-334) for free.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa

from ..schemas import SINGLE_LEARNER_ONLY, VALID_LEARNERS, VALID_PREPROCESSORS

VALID_REQUESTS = {"Create", "Update", "Query", "Delete"}
DEFAULT_PROTOCOL = "Asynchronous"  # reference default; BSP emulates as sync
VALID_PROTOCOLS = {
    "CentralizedTraining", "SingleLearner", "Asynchronous", "Synchronous",
    "SSP", "EASGD", "GM", "FGM",
}


@dataclass
class PipelineSpec:
    id: int
    learner: str
    hyper: dict[str, str] = field(default_factory=dict)
    preprocessors: list[dict[str, Any]] = field(default_factory=list)
    protocol: str = DEFAULT_PROTOCOL
    hub_parallelism: int = 1
    # mutable training state
    model: dict[str, Any] | None = None
    fitted: int = 0
    cum_loss: float = 0.0
    models_shipped: int = 0
    bytes_shipped: int = 0
    learning_curve: list[tuple[int, float]] = field(default_factory=list)
    rounds: int = 0
    worker_models: dict[str, Any] | None = None  # per-worker states (SSP/GM/FGM/EASGD)
    preproc_state: list | None = None  # running scaler moments, per chain slot
    hub_stats: dict[str, Any] | None = None  # per-hub-replica shipping stats
    last_batch_id: int = -1  # highest streaming batch trained (replay guard)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, default=list)


class PipelineCatalog:
    """Create/Update/Query/Delete over pipeline specs with the reference's
    validation + protocol-forcing rules."""

    def __init__(self, parallelism: int = 8, path: str | None = None):
        self.parallelism = parallelism
        self.path = path
        self.pipelines: dict[int, PipelineSpec] = {}
        self.responses: list[dict] = []
        if path and os.path.exists(path):
            self._load()

    # -- request handling ---------------------------------------------------

    def apply_request(self, req: dict) -> str | None:
        """Returns the action taken or None when silently dropped (the
        reference drops invalid requests without error,
        PipelineMap.scala:22-29)."""
        action = req.get("request")
        pid = req.get("id")
        if action not in VALID_REQUESTS or pid is None:
            return None
        pid = int(pid)
        if action == "Create":
            return self._create(pid, req)
        if pid not in self.pipelines:
            return None  # Update/Query/Delete of missing id: ignored (:35-47)
        if action == "Delete":
            del self.pipelines[pid]
            return "Delete"
        if action == "Update":
            return "Update"  # reference no-op (FlinkSpoke.scala:158)
        if action == "Query":
            self.responses.append(
                {"responseId": req.get("requestId"), "pipelineId": pid}
            )
            return "Query"
        return None

    def _create(self, pid: int, req: dict) -> str | None:
        if pid in self.pipelines:
            return None  # Create of existing id ignored (PipelineMap.scala:31)
        learner = ((req.get("learner") or {}).get("name")) or ""
        if learner not in VALID_LEARNERS:
            return None
        pres = req.get("preProcessors") or []
        for p in pres:
            if (p.get("name") or "") not in VALID_PREPROCESSORS:
                return None
        conf = req.get("trainingConfiguration") or {}
        protocol = conf.get("protocol", DEFAULT_PROTOCOL)
        if protocol not in VALID_PROTOCOLS:
            protocol = DEFAULT_PROTOCOL
        # forced protocols (FlinkSpoke.scala:203-215)
        if learner in SINGLE_LEARNER_ONLY:
            protocol = "SingleLearner"
        elif self.parallelism == 1:
            protocol = "CentralizedTraining"
        hub_par = int(conf.get("HubParallelism", "1"))
        self.pipelines[pid] = PipelineSpec(
            id=pid,
            learner=learner,
            hyper={k: str(v) for k, v in ((req.get("learner") or {}).get(
                "hyperParameters") or {}).items()},
            preprocessors=pres,
            protocol=protocol,
            hub_parallelism=hub_par,
        )
        return "Create"

    def apply_requests_df(self, requests_df) -> list[str]:
        """Batch entry point for foreachBatch: collect (tiny control topic)
        and :meth:`apply_requests`."""
        return self.apply_requests(arrow_rows(requests_df.toArrow()))

    def apply_requests(self, rows: list[dict]) -> list[str]:
        """Apply request rows in ARRIVAL order — requestId is the arrival
        key (the reference consumes the one-partition request topic in
        offset order, so e.g. Delete-then-reCreate of the same id within a
        batch must replay as Delete, Create). Rows without a requestId keep
        their collection order after all keyed rows (stable sort)."""
        rows = sorted(
            rows,
            key=lambda r: (
                r.get("requestId") is None,
                r.get("requestId") if r.get("requestId") is not None else 0,
            )
        )
        return [a for r in rows if (a := self.apply_request(r))]

    # -- persistence --------------------------------------------------------

    def save(self) -> None:
        """Write the catalog to ``path`` atomically: the full text goes to
        ``path + ".tmp"``, is flushed to disk, and replaces ``path`` in one
        rename, so a crash mid-save leaves the previous catalog whole."""
        if not self.path:
            return
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for spec in self.pipelines.values():
                f.write(spec.to_json() + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)

    def _load(self) -> None:
        with open(self.path) as f:
            for line in f:
                d = json.loads(line)
                d["learning_curve"] = [tuple(t) for t in d.get("learning_curve", [])]
                self.pipelines[int(d["id"])] = PipelineSpec(**d)

    def live(self) -> list[PipelineSpec]:
        return sorted(self.pipelines.values(), key=lambda s: s.id)


def arrow_rows(table: pa.Table) -> list[dict]:
    """The rows of ``table`` as Python dicts, each struct and each map a
    dict too (Arrow gives a map's (key, value) pairs): the form
    :meth:`PipelineCatalog.apply_requests` reads, and ``createDataFrame``
    takes back."""
    def py(v, t):
        if v is None or not pa.types.is_nested(t):
            return v
        if pa.types.is_map(t):
            return {k: py(x, t.item_type) for k, x in v}
        if pa.types.is_struct(t):
            return {f.name: py(v[f.name], f.type) for f in t}
        return [py(x, t.value_type) for x in v]

    row = pa.struct(list(table.schema))
    return [py(r, row) for r in table.to_pylist()]
