"""Trace every registered query once at sf0.1 and write the evidence that
places it in one of the benchmark's classes to ``classes.json``.

    python3 perfbench/classify.py

Run it from the root of a checkout.  It uses the benchmark's own timing
and tracing (``measure.py``) on one local[nproc] session, in registry
order, after a short warm-up.  The classes, checked in this order:

- ``streaming``: starts a StreamingQuery;
- ``python_arrow``: a Python exec node in the final plan;
- ``eager``: runs a Spark job inside ``Query.spark``;
- ``relational``: none of these.

``pick_workloads.py`` draws the workloads from this file.  Membership is fixed
once a workload is committed, so rerun this only to define new ones.
"""

from __future__ import annotations

import json
import os
import sys
import time

import measure
from run import HERE, ROOT, WORK, child_env

sys.path.insert(0, ROOT)

OUT = os.path.join(HERE, "classes.json")
WARMUP_QUERIES = 8
FIELDS = (
    "latency_s", "construct_s", "plan_s", "collect_s", "construct_jobs",
    "construct_job_s", "jobs", "tasks", "task_s", "task_cpu_s",
    "shuffle_write_bytes", "python_nodes", "python_init_s", "python_run_s",
    "stream_runs", "stream_batches", "output_bytes",
)


def query_class(rec: dict) -> str:
    if rec["stream_runs"]:
        return "streaming"
    if rec["python_nodes"]:
        return "python_arrow"
    if rec["construct_jobs"]:
        return "eager"
    return "relational"


def main() -> int:
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(WORK, "cwd"), exist_ok=True)
    os.chdir(os.path.join(WORK, "cwd"))
    scratch = os.path.join(WORK, "scratch", "classify")
    os.environ.update(child_env(cores, scratch))

    table_timer = measure.install_table_timer()
    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark
    from big_data_lab_three_spark.sources import readers

    registry = load_all()
    spark = get_spark(
        "perfbench-classify", master=f"local[{cores}]",
        extra_confs={"spark.ui.showConsoleProgress": "false",
                     **measure.TRACE_CONFS})
    spark.sparkContext.setLogLevel("ERROR")
    tracer = measure.Tracer(spark, table_timer)
    # The first read of a table runs a schema job; resolve every table
    # first, as the benchmark's warm-up does, so that the job is not
    # taken for a construction job of whichever query reads it first.
    for table_name in readers.TABLE_NAMES:
        for spread_ok in (True, False):
            readers.table(spark, measure.SF_DIR, table_name, spread_ok)
    warm = list(registry)[:WARMUP_QUERIES]
    for name in warm:
        spark.sparkContext.setJobGroup(name, "warmup")
        registry[name].spark(spark, measure.SF_DIR).collect()
        spark.catalog.clearCache()
    tracer.reset(warm)

    out, executions = {}, []
    t_all = time.perf_counter()
    for k, (name, q) in enumerate(registry.items()):
        try:
            ex = measure.run_once(spark, q, measure.SF_DIR, k, tracer)
        except Exception as exc:  # noqa: BLE001 - recorded
            spark.catalog.clearCache()
            tracer.end(None, None)
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            continue
        df = ex.pop("df")
        ex["name"], ex["k"] = name, k
        spark.catalog.clearCache()
        tracer.end(ex, df)
        executions.append(ex)
        print(f"{name} {ex['latency_s']:.2f}s", file=sys.stderr)
    pass_s = time.perf_counter() - t_all
    tracer.finish(list(registry))
    spark.stop()

    for ex in executions:
        rec = {
            k: round(v, 4) if isinstance(v, float) else v
            for k, v in ex.items() if k in FIELDS
        }
        rec["class"] = query_class(rec)
        module = registry[ex["name"]].spark.__module__
        rec["module"] = module.rsplit(".", 1)[-1]
        out[ex["name"]] = rec

    doc = {
        "about": (
            "One traced execution of every registered query at sf0.1 on "
            f"local[{cores}], in registry order, after a warm-up of "
            f"{WARMUP_QUERIES} queries; written by classify.py.  Times in "
            "seconds, bytes in bytes; construct_jobs are Spark jobs run "
            "inside Query.spark, python_nodes the Python exec nodes of the "
            "final plan, stream_runs the StreamingQuery runs started."),
        "cores": cores,
        "sf": measure.SF,
        "pass_s": round(pass_s, 1),
        "queries": out,
    }
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
