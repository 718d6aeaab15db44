"""Single-query measurement probe for the optimization rounds.

Usage:
    python tools/probe.py [--sf=/root/testdata/sf0.1] [--repeats=3]
        [--explain=plans/r12/suffix] query [query ...]

Times each named query through the noop sink (bench.py methodology:
same session shape, sf0.001 codegen warmup, repeats with median+min),
prints the DataFrame build (the ``fn(spark, sf_dir)`` call, eager actions
included) with its py4j round trips next to the total, the classes
Spark's code generator compiled per repeat (the ``CodegenMetrics`` count
delta over build and run; 0 once the plan's generated code is cached), the
Spark jobs and tasks each repeat ran (build and run, through one job group
per repeat), and optionally
writes ``<explaindir>/<query>.txt`` with the
``explain("formatted")`` output so before/after plans can be committed.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def jvm_calls():
    """Count the py4j commands this process sends to the JVM inside the
    block. Deferred frees of garbage-collected proxies are left out: when
    they happen is up to Python's collector, not to the code being built."""
    from py4j import protocol as proto
    from py4j.clientserver import ClientServerConnection

    count = [0]
    send = ClientServerConnection.send_command
    free = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command, *args, **kwargs):
        count[0] += not command.startswith(free)
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def group_work(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran in job group ``group``: tasks summed over the
    distinct stages of those jobs that ran a task (a stage two jobs share
    counts once; a skipped stage, whose output an earlier stage left,
    not at all)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for s in
              {s for j in jobs for s in st.getJobInfo(j).stageIds}]
    return len(jobs), sum(s.numTasks for s in stages
                          if s is not None and s.numCompletedTasks)


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    repeats = 3
    explain_dir = None
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--repeats="):
            repeats = int(a.split("=", 1)[1])
        elif a.startswith("--explain="):
            explain_dir = a.split("=", 1)[1]
        else:
            names.append(a)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_GRAFT_WORKERS", str(cpus))

    from omldm_spark.queries import QUERIES
    from omldm_spark.session import get_spark

    spark = get_spark("omldm-probe", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        if os.path.isdir(warm_dir) and warm_dir != sf_dir:
            try:
                QUERIES[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite").save()
            except Exception:  # noqa: BLE001
                pass

    for name in names:
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = QUERIES[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(txt)
        runs, builds, calls, compiles, jobs, tasks = [], [], [], [], [], []
        sc = spark.sparkContext
        for i in range(repeats):
            spark.catalog.clearCache()
            sc.setJobGroup(f"probe:{name}:{i}", f"probe:{name}")
            c0 = codegen_compiles(spark)
            t0 = time.time()
            with jvm_calls() as n:
                df = QUERIES[name](spark, sf_dir)
            builds.append(time.time() - t0)
            calls.append(n[0])
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            compiles.append(codegen_compiles(spark) - c0)
            n_jobs, n_tasks = group_work(sc, f"probe:{name}:{i}")
            jobs.append(n_jobs)
            tasks.append(n_tasks)
        print(f"{name}: median={statistics.median(runs):.3f} "
              f"min={min(runs):.3f} runs={[round(r, 3) for r in runs]} "
              f"build_median={statistics.median(builds):.3f} "
              f"builds={[round(b, 3) for b in builds]} "
              f"build_py4j_calls={calls} codegen_compiles={compiles} "
              f"jobs={jobs} tasks={tasks}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
