#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload wp_job --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. Prints a report line with the workload's
own figures (by name and unit), then, as the LAST stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when an output check failed, 2 when the program is not there.
See perfbench/README.md for the workloads and the metric mapping.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("wp_job", "enrich_stream")
MASTER = "local[4]"
DRIVER_MEM = "2g"
# shuffle partitions: two per core
PARTITIONS = 8

E2E = {"setup_s": "s", "job_cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s", "rules.compile_s": "s",
    "sources.extract_s": "s", "sources.geoparse_s": "s",
    "sources.ways": "count", "sources.nodes": "count",
    "resolve.s": "s", "resolve.vertex_rows": "count", "resolve.kept_frac": "ratio",
    "checkpoint.stage_s": "s", "checkpoint.bucket_s": "s",
    "checkpoint.fingerprint_s": "s", "checkpoint.buckets": "count",
    "rules.s": "s", "rules.gated_ways": "count", "rules.flagged_per_way": "ratio",
    "sinks.write_s": "s", "sinks.bytes_per_row": "B", "stream.sink_s": "s",
    "tiles.counts_s": "s", "tiles.pyramid_s": "s", "tiles.base_reduction": "ratio",
    "knn.build_s": "s", "knn.index_cells": "count", "knn.max_cell_verts": "count",
    "knn.median_cell_verts": "count", "knn.cell_skew": "ratio",
    "pip.build_s": "s", "pip.bucket_rows": "count", "pip.hits_per_point": "ratio",
    "knn.jobs_per_call": "count", "pip.jobs_per_call": "count",
    "stream.knn_batch_s": "s", "stream.pip_batch_s": "s",
    "stream.cached_after_batch": "count",
    "trace.overhead_s": "s",
}


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(work: str) -> None:
    """Everything the JVM and the Python workers write stays in ``work``;
    the workers import the package from the repo root."""
    for d in ("spark-local", "tmp", "in", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, REPO)


def _bench(args, work: str):
    import harness
    import workloads
    from wayproblems_spark.rules import problems
    from wayproblems_spark.session import get_spark

    workloads.T0 = T_START
    trace = bool(args.trace)
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=MASTER,
        shuffle_partitions=PARTITIONS,
        extra_conf=harness.spark_conf(work, REPO, trace, DRIVER_MEM, PARTITIONS),
    )
    session_start_s = time.perf_counter() - t
    workloads.log(f"session up in {session_start_s:.2f}s")
    tracer = harness.Tracer(spark.sparkContext, trace)
    run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
    sampler = harness.RssSampler(spark.sparkContext._gateway.proc.pid)
    try:
        with sampler:
            rules_compile_s = 0.0
            if args.workload == "wp_job":
                # the ~230-site rule Column (its codegen is per plan, so
                # the job's first run compiles its own)
                t = time.perf_counter()
                one = spark.createDataFrame(
                    [(1, 1, 1, 1, "u", None, [1, 2], {"highway": "track"})],
                    "way_id long, version int, changeset long, uid long, "
                    "user string, ts timestamp, nodes array<long>, "
                    "tags map<string,string>",
                )
                problems(one)
                rules_compile_s = time.perf_counter() - t
                workloads.log(f"rules Column {rules_compile_s:.2f}s")
            # Python workers: one pandas-UDF job over four partitions, each
            # worker importing the program
            run.check(harness.warm_python_workers(spark, 4), "warm-up job result wrong")
            setup_s = time.perf_counter() - T_START
            workloads.log(f"setup {setup_s:.2f}s (session {session_start_s:.2f}s, "
                          f"rules {rules_compile_s:.2f}s)")
            try:
                getattr(workloads, args.workload)(run)
            except Exception:
                traceback.print_exc()
                run.check(False, f"{args.workload} raised")
    finally:
        harness.stop_spark(spark)

    run.e2e.update(setup_s=setup_s, peak_rss_mb=sampler.peak_mb)
    run.report.update({
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": sampler.peak_mb, "unit": "MB"},
        "failed_frac": {"value": run.failed / max(run.attempted, 1), "unit": "ratio"},
    })
    if not trace:
        metrics = {k: {"value": run.e2e.get(k, 0.0), "unit": u} for k, u in E2E.items()}
        return run, metrics

    layer = dict(run.layer)
    layer.update({"session.start_s": session_start_s, "rules.compile_s": rules_compile_s})
    stats = harness.group_stats(os.path.join(work, "eventlog"), workloads.relabel)
    reps = max(run.traced_reps, 1)
    exec_s = stats.pop("_exec_s")
    if args.workload == "wp_job":
        ck = exec_s.get("checkpoint", {})
        layer["checkpoint.fingerprint_s"] = sum(
            ck.get(a, 0.0) for a in workloads.FINGERPRINT_ACTIONS) / reps
    layer["sinks.write_s"] = sum(exec_s.get("sinks", {}).values()) / reps
    metrics = {k: {"value": float(layer.get(k) or 0.0), "unit": u}
               for k, u in PER_LAYER.items()}
    for g in harness.GROUP_LAYERS:
        per = 1 if g == "session" else reps
        for stat, unit in harness.GROUP_STATS.items():
            v = stats[g][stat] if stat == "task_skew" else stats[g][stat] / per
            metrics[f"{g}.{stat}"] = {"value": float(v), "unit": unit}
    return run, metrics


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(REPO, "wayproblems_spark")):
        print(f"perfbench: no wayproblems_spark package under {REPO}", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        import wayproblems_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    try:
        run, metrics = _bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "report": run.report,
                      "problems": run.problems}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
