"""Live-job benchmark: ``job.run_job`` over a seeded file replay.

Usage (from the repository root):

    python3 perfbench/run.py --workload many_pipelines --seed 1 \
        --seconds 20 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones from a
traced run. The line before it is a JSON report with the per-run details
(sample count, batch walls, load and steal, span coverage). The exit code
is 1 when an output check fails, 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PARALLELISM = 4   # training partitions; fixed so local[1] runs the same work


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] threads (default: min(4, nproc))")
    return ap.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Everything the run writes stays under ``work``; the Python workers
    Spark forks import the package from the checkout, not the cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session_factory(work: str, cores: int):
    def start():
        from omldm_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return start


def _stop_spark() -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait(30)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _by_file(raw) -> dict[int, dict]:
    """Committed data batches keyed by the replay file they read."""
    return {b["file"]: b for b in raw["batches"] if b["file"] is not None}


def check(replay, raw, n_files: int) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems). An operation is a micro-batch (one
    replay file) or a Query; run-level checks count once each."""
    problems: list[str] = []
    by_file = _by_file(raw)
    if raw["error"]:
        problems.append(f"query failed: {raw['error'][:500]}")

    # micro-batches: committed, and every pipeline trained on exactly the
    # unique training rows of that file
    fitted_by_batch: dict[int, dict[int, int]] = {}
    for s in raw["stats"]:
        fitted_by_batch.setdefault(s.batch_id, {})[s.pipeline] = s.fitted
    bad_files = 0
    for f in range(n_files):
        rec = by_file.get(f)
        if rec is None:
            problems.append(f"file {f} never committed")
            bad_files += 1
            continue
        if f < len(replay.train_rows):
            want = {pid: replay.train_rows[f] for pid in replay.fitted}
            got = fitted_by_batch.get(rec["batch"], {})
            if got != want:
                problems.append(f"file {f}: trained {got}, expected {want}")
                bad_files += 1

    # Queries: exactly one response each, with the expected dataFitted
    by_rid: dict[int, list] = {}
    for r in raw["responses"]:
        by_rid.setdefault(r["responseId"], []).append(r)
    bad_queries = 0
    for rid, (pid, fitted) in replay.queries.items():
        got = by_rid.get(rid, [])
        if (len(got) != 1 or not got[0]["mlpId"].endswith(f"-{pid}")
                or got[0]["dataFitted"] != fitted):
            problems.append(f"query {rid} (pipeline {pid}, fitted {fitted}): "
                            f"{[(g['mlpId'], g['dataFitted']) for g in got]}")
            bad_queries += 1
    if len(raw["responses"]) != len(replay.queries):
        problems.append(f"{len(raw['responses'])} responses for "
                        f"{len(replay.queries)} queries")
        bad_queries += 1

    # run level: fitted counts and prediction rows; with the per-file
    # training counts these show that dedup dropped exactly the re-sent ids
    run_checks = 0
    if raw["catalog"] != replay.fitted:
        problems.append(f"fitted {raw['catalog']} != {replay.fitted}")
        run_checks += 1
    want_preds = {pid: n for pid, n in replay.predictions.items() if n}
    if raw["predictions"] != want_preds:
        problems.append(f"predictions {raw['predictions']} != {want_preds}")
        run_checks += 1
    if raw["error"]:
        run_checks += 1
    attempted = n_files + len(replay.queries)
    failed = min(attempted, bad_files + bad_queries + run_checks)
    return attempted, failed, problems


def end_to_end(replay, raw, timed_files) -> tuple[dict, dict]:
    by_file = _by_file(raw)
    timed = [by_file[f] for f in timed_files if f in by_file]
    walls = [b["wall_s"] for b in timed]
    first = by_file.get(0)
    rows = sum(replay.data_rows[f] for f in timed_files)
    span = (timed[-1]["start"] + timed[-1]["wall_s"] - timed[0]["start"]) \
        if timed else math.nan
    s0, s1 = raw["samples"].get("start"), raw["samples"].get("end")
    cpu = (sum(s1[0].values()) - sum(s0[0].values())) if s0 and s1 else math.nan
    final = [r["score"] for r in raw["responses"]
             if r["responseId"] in set(replay.final_queries)]
    metrics = {
        "setup_s": (first["start"] + first["wall_s"] - raw["t_session"], "s")
        if first else (math.nan, "s"),
        "batch_s_p50": (statistics.median(walls) if walls else math.nan, "s"),
        "rows_per_s": (rows / span if span else math.nan, "rows/s"),
        "rows_per_cpu_s": (rows / cpu if cpu else math.nan, "rows/cpu-s"),
        "holdout_accuracy": (_mean(final) if final else math.nan, "ratio"),
    }
    steal = math.nan
    if s0 and s1:
        d_steal = s1[1][0] - s0[1][0]
        d_total = s1[1][1] - s0[1][1]
        steal = d_steal / d_total if d_total else 0.0
    report = {
        "setup_parts_s": {
            "session": raw["t_ready"] - raw["t_session"],
            "to_run_job": raw["t_job"] - raw["t_ready"],
            "to_first_trigger": first["start"] - raw["t_job"] if first else None,
            "first_batch": first["wall_s"] if first else None,
        },
        "holdout_accuracy": metrics["holdout_accuracy"][0],
        "all_batch_walls_s": [(b["file"], round(b["wall_s"], 3))
                              for b in raw["batches"]],
        "batch_samples": len(walls),
        "batch_walls_s": [round(w, 3) for w in walls],
        "timed_rows": rows,
        "cpu_s": {k: s1[0][k] - s0[0][k] for k in s1[0]} if s0 and s1 else {},
        "host_steal_share": steal,
        "loadavg_1m": [s0[2], s1[2]] if s0 and s1 else [],
    }
    return metrics, report


def per_layer(replay, raw, timed_files, e2e_report) -> tuple[dict, dict]:
    by_file = _by_file(raw)
    timed = [by_file[f] for f in timed_files if f in by_file]
    ids = [b["batch"] for b in timed]
    n = max(len(ids), 1)
    spans = raw["tracer"].per_batch(ids)
    counters = raw["counters"].per_batch
    rows = sum(replay.data_rows[f] for f in timed_files)
    stats = [s for s in raw["stats"] if s.batch_id in set(ids)]
    state = [b["state"][0] for b in timed if b["state"]]
    cpu = e2e_report["cpu_s"]

    def span_s(name):
        return spans.get(name, 0.0)

    m = {
        "learners.trainer.fit_s": (span_s("learners.trainer.fit"), "s"),
        "learners.trainer.fit_groups_s": (span_s("learners.trainer.fit_groups"), "s"),
        "learners.protocols.round_ms": (1000 * span_s("learners.protocols.round"), "ms"),
        "learners.protocols.models_shipped": (
            sum(s.models_shipped for s in stats) / n, "count"),
        "learners.protocols.bytes_shipped": (
            sum(s.bytes_shipped for s in stats) / n, "B"),
        "streaming.stateful.updates_per_row": (
            sum(s["updated"] for s in state) / rows if state else 0.0, "ratio"),
        "streaming.stateful.update_ms": (_mean(s["update_ms"] for s in state), "ms"),
        "streaming.stateful.state_rows": (state[-1]["rows"] if state else 0, "count"),
        "plans.catalog.apply_requests_s": (span_s("plans.catalog.apply_requests"), "s"),
        "job.sink_write_s": (span_s("job.sink_write"), "s"),
        "functions.preprocess.apply_chain_s": (
            span_s("functions.preprocess.apply_chain"), "s"),
        "learners.trainer.evaluate_linear_s": (
            span_s("learners.trainer.evaluate_linear"), "s"),
        "training_loop.build_query_responses_s": (
            span_s("training_loop.build_query_responses"), "s"),
        "training_loop.train_batch_s": (span_s("training_loop.train_batch"), "s"),
        "training_loop.predict_batch_s": (span_s("training_loop.predict_batch"), "s"),
        "training_loop.handler_self_s": (span_s("training_loop.handler"), "s"),
        "spark.jobs_per_batch": (
            sum(len(counters[i]["jobs"]) for i in ids) / n, "count"),
        "spark.tasks_per_batch": (sum(raw["tasks"][i] for i in ids) / n, "count"),
        "spark.codegen_compiles_per_batch": (
            sum(counters[i]["compiles"] for i in ids) / n, "count"),
        "spark.codegen_compile_ms": (
            sum(counters[i]["compile_ms"] for i in ids) / n, "ms"),
        "streaming.sources.latest_offset_ms": (
            _mean(b["dur_ms"].get("latestOffset", 0) for b in timed), "ms"),
        "streaming.sources.get_batch_ms": (
            _mean(b["dur_ms"].get("getBatch", 0) for b in timed), "ms"),
        "proc.driver_py_cpu_s": (cpu.get("driver_py", math.nan) / n, "s"),
        "proc.jvm_cpu_s": (cpu.get("jvm", math.nan) / n, "s"),
        "proc.py_worker_cpu_s": (cpu.get("py_worker", math.nan) / n, "s"),
        "host.steal_share": (e2e_report["host_steal_share"], "ratio"),
    }
    walls = e2e_report["batch_walls_s"]
    handler = raw["tracer"].roots(ids)
    report = {
        "span_self_s_per_batch": {k: round(v, 4) for k, v in sorted(spans.items())},
        "span_self_s_batch0": {k: round(v, 4) for k, v in
                               sorted(raw["tracer"].per_batch([0]).items())},
        "handler_s_mean": _mean(handler),
        "batch_s_mean": _mean(walls),
        "batch_s_p50_traced": statistics.median(walls) if walls else math.nan,
        # share of the batch wall (trigger to commit) inside the handler's
        # span tree, i.e. covered by the named spans' self times
        "span_coverage": _mean(handler) / _mean(walls) if walls else math.nan,
    }
    return m, report


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "omldm_spark", "job.py")):
        print(f"perfbench: no omldm_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    cores = args.cores or min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cores)
    import live

    timed = wl.timed_batches(args.seconds)
    first = 1 + wl.warmup_batches
    timed_files = list(range(first, first + timed))
    paths = {"input": os.path.join(work, "in"),
             "predictions": os.path.join(work, "predictions"),
             "checkpoint": os.path.join(work, "checkpoint"),
             "holdout": os.path.join(work, "holdout.parquet")}
    try:
        replay = W.generate(wl, args.seed, timed)
        n_files = W.write_replay(replay, paths["input"], paths["holdout"])
        t_start = time.time()
        raw = live.run(_session_factory(work, cores), replay, first,
                       timed_files[-1], paths, W.spark_schema(), W.DIM,
                       PARALLELISM, dedup=wl.resend_share > 0,
                       trace=bool(args.trace))
        attempted, failed, problems = check(replay, raw, n_files)
        metrics, report = end_to_end(replay, raw, timed_files)
        if args.trace:
            metrics, trace_report = per_layer(replay, raw, timed_files, report)
            report.update(trace_report)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):   # other runs may still use it
            os.rmdir(os.path.dirname(work))

    ok_share = (attempted - failed) / attempted
    if not args.trace:
        metrics["ok_share"] = (ok_share, "ratio")
    report.update(workload=wl.name, seed=args.seed, cores=cores,
                  trace=args.trace, timed_batches=timed, files=n_files,
                  ok_share=ok_share, run_wall_s=round(time.time() - t_start, 2),
                  problems=problems)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps(report, default=float))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
