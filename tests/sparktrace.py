"""What a block of driver code ran on Spark, for tests that pin the shape
of its work: the task count of each stage of its jobs, and the physical
plan of each SQL execution behind those jobs."""

from __future__ import annotations

import re
import uuid

# physical operators that run Python worker tasks
PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython")


def flush(spark) -> None:
    """Wait until the listeners have seen every event posted so far: the
    status tracker and the SQL status store are fed asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_tasks(spark, job_ids) -> list[list[int]]:
    """For each of ``job_ids`` in ascending order, the tasks each of its
    stages ran. A stage whose output an earlier job left (a shuffle under
    a persisted frame) is skipped and left out."""
    flush(spark)
    st = spark.sparkContext.statusTracker()
    ran = []
    for j in sorted(job_ids):
        stages = [st.getStageInfo(s) for s in sorted(st.getJobInfo(j).stageIds)]
        ran.append([s.numCompletedTasks for s in stages
                    if s is not None and s.numCompletedTasks])
    return ran


def sql_plans(spark, job_ids) -> list[str]:
    """The physical plan text of each SQL execution that ran one of
    ``job_ids``."""
    flush(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        keys = e.jobs().keySet().toSeq()
        if any(int(keys.apply(k)) in job_ids for k in range(keys.size())):
            plans.append(e.physicalPlanDescription())
    return plans


def runs_python_or_shuffle(plans: list[str]) -> bool:
    return any(PYTHON_NODE.search(p) or "Exchange" in p for p in plans)


def traced(spark, fn):
    """(fn(), stage_tasks, sql_plans) of the jobs ``fn`` runs, in a job
    group of its own."""
    sc = spark.sparkContext
    group = f"trace-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "traced")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    flush(spark)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    return out, stage_tasks(spark, jobs), sql_plans(spark, jobs)
