"""One benchmark run in a fresh process: set up, time a closed loop over
one workload's queries, then check every result against its DuckDB
oracle.

``run.py`` starts this process.  It owns the environment (the checkout
on ``PYTHONPATH`` so Python workers can import the engine, scratch
directories inside the checkout) and the process lifetime.  This file
prints one JSON record as the last line of its standard output.

All timing sits here, around calls into the engine's public functions:
``Query.spark`` (construction), ``queryExecution().executedPlan()``
(planning, traced runs only), ``DataFrame.collect`` (execution) and
``sources.table`` (table resolution, traced runs only).  Per-layer
counts come from Spark's own stores: the status store, the SQL status
store and a ``StreamingQueryListener``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA, "sf0.1")
SF = 0.1
# The tail is the highest latency percentile with at least this many
# samples beyond it.
TAIL_BEYOND = 10

PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_SQL_METRIC_RE = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, PYTHON_METRICS))
    + r"),(\d+),"
)
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_EXCHANGE_RE = re.compile(r"^[\s:|+\-]*(Exchange|BroadcastExchange)\b")
_PYTHON_NODE_RE = re.compile(
    r"^[\s:|+\-]*(?:\*\(\d+\) )?(MapInPandas|MapInArrow|ArrowEvalPython"
    r"|BatchEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|AggregateInPandas|WindowInPandas|ArrowWindowPython)\b")

# per_layer metric name -> per-execution field.  Every value is summed
# over the timed executions and divided by the number of passes, so it
# reads "per pass over the workload"; the fields after the table are
# derived in layer_metrics().
LAYER_FIELDS = {
    "queries.construct_s": "construct_s",
    "queries.construct_jobs": "construct_jobs",
    "queries.construct_job_s": "construct_job_s",
    "sources.table_calls": "table_calls",
    "sources.table_s": "table_s",
    "sources.input_bytes": "input_bytes",
    "plans.plan_s": "plan_s",
    "plans.exchanges": "exchanges",
    "operators.collect_s": "collect_s",
    "operators.jobs": "jobs",
    "operators.stages": "stages",
    "operators.tasks": "tasks",
    "operators.task_s": "task_s",
    "operators.task_cpu_s": "task_cpu_s",
    "operators.gc_s": "gc_s",
    "operators.deserialize_s": "deserialize_s",
    "operators.shuffle_write_bytes": "shuffle_write_bytes",
    "operators.shuffle_read_bytes": "shuffle_read_bytes",
    "operators.spill_bytes": "spill_bytes",
    "functions.python_start_s": "python_start_s",
    "functions.python_init_s": "python_init_s",
    "functions.python_run_s": "python_run_s",
    "functions.python_bytes_sent": "python_bytes_sent",
    "functions.python_bytes_returned": "python_bytes_returned",
    "streaming.runs": "stream_runs",
    "streaming.batches": "stream_batches",
    "streaming.input_rows": "stream_input_rows",
    "streaming.batch_s": "stream_batch_s",
    "sinks.output_bytes": "output_bytes",
}


# Traced runs keep every job, stage and SQL execution in Spark's stores,
# so none is evicted before it is read, and a query's executions are a
# contiguous range of the SQL store.
TRACE_CONFS = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument(
        "--t0", type=float, required=True,
        help="epoch seconds at which the launcher started this process",
    )
    return p.parse_args(argv)


def load_workload(name: str) -> tuple[list[str], int]:
    """The workload's query names and its least number of timed passes."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if name not in workloads:
        raise SystemExit(
            f"unknown workload {name!r}; known: {sorted(workloads)}"
        )
    return list(workloads[name]["queries"]), workloads[name]["passes"]


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest sample that still has TAIL_BEYOND samples beyond it,
    and its percentile; (None, None) when there are too few samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None, None
    return sorted(samples)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


class TableTimer:
    """Counts calls into ``sources.table`` and the time spent there."""

    def __init__(self, fn):
        self.fn = fn
        self.calls = 0
        self.seconds = 0.0

    def __call__(self, *args, **kwargs):
        t = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.seconds += time.perf_counter() - t
            self.calls += 1


def install_table_timer() -> TableTimer:
    """Wrap ``sources.table`` before any query module is imported:
    query modules bind ``table`` by name at import time."""
    from big_data_lab_three_spark import sources
    from big_data_lab_three_spark.sources import readers

    timer = TableTimer(readers.table)
    sources.table = readers.table = timer
    return timer


def _stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamLog(StreamingQueryListener):
        """Maps each streaming run to the query and phase that started
        it.  Start events arrive synchronously with ``start()``; the
        others arrive later on the listener bus."""

        def __init__(self):
            self.lock = threading.Lock()
            self.owner: tuple[str, str] | None = None
            self.runs: dict[str, dict] = {}

        def onQueryStarted(self, event):
            with self.lock:
                self.runs[str(event.runId)] = {
                    "owner": self.owner, "batches": 0, "input_rows": 0,
                    "batch_ms": 0, "done": False,
                }

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                run = self.runs.get(str(p.runId))
                if run is not None:
                    run["batches"] += 1
                    run["input_rows"] += p.numInputRows
                    run["batch_ms"] += p.durationMs.get("triggerExecution", 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                run = self.runs.get(str(event.runId))
                if run is not None:
                    run["done"] = True

    return StreamLog


def _parse_metric_value(text: str) -> float:
    """``'2.7 s'`` or ``'51.9 MiB'`` or ``'1,024'`` -> seconds / bytes."""
    num, _, unit = text.strip().partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def find_nodes(plan: str, node_re: re.Pattern) -> list[str]:
    """Names of the nodes matching ``node_re`` in a physical plan
    string, skipping the ``== Initial Plan ==`` subtrees that adaptive
    plans print beside their final plan."""
    found = []
    skip_from: int | None = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :|+-"))
        if skip_from is not None:
            if indent > skip_from:
                continue
            skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = indent
        else:
            m = node_re.match(line)
            if m:
                found.append(m.group(1))
    return found


class Tracer:
    """Layer counts per timed execution, read from Spark's stores.

    Reading the stores costs tens of milliseconds per query, so the
    timed loop only notes each execution (``end``) and ``finish`` reads
    the stores once the loop is over.  Each job's description carries
    its phase and the index of its execution; the micro-batch jobs of a
    stream carry the stream's runId as job group instead, and the
    listener maps the runId to the execution that started it."""

    def __init__(self, spark, tables: TableTimer):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.status = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.bus = jsc.listenerBus()
        self.tables = tables
        self.streams = _stream_listener_class()()
        spark.streams.addListener(self.streams)
        self.pending: list[tuple[dict, object]] = []
        self.reset(())

    def reset(self, groups) -> None:
        """Forget everything seen so far (called after warm-up); the
        jobs that ``groups`` ran until now are not counted later."""
        self.drain()
        tracker = self.sc.statusTracker()
        self.seen_jobs: set[int] = {
            jid for g in groups for jid in tracker.getJobIdsForGroup(g)}
        self.exec_start = self.sql.executionsCount()
        self.tables.calls, self.tables.seconds = 0, 0.0
        self.pending.clear()
        with self.streams.lock:
            self.streams.runs.clear()

    def drain(self) -> None:
        # The status stores are fed asynchronously by the listener bus.
        self.bus.waitUntilEmpty()

    def set_phase(self, name: str, phase: str, k: int) -> None:
        self.streams.owner = (name, phase, k)

    def end(self, ex: dict | None, df) -> None:
        """Note the execution that just ended, after its
        ``clearCache()``; ``ex`` is None for one that failed."""
        self.streams.owner = None
        calls, seconds = self.tables.calls, self.tables.seconds
        self.tables.calls, self.tables.seconds = 0, 0.0
        if ex is None:
            return
        ex["table_calls"], ex["table_s"] = calls, seconds
        ex["persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        self.pending.append((ex, df))

    @staticmethod
    def _ints(seq) -> list[int]:
        # one round trip; iterating a Scala collection through py4j
        # costs one per element plus a converted exception at its end
        text = seq.mkString(",")
        return [int(x) for x in text.split(",")] if text else []

    def _wait_streams(self, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.streams.lock:
                if all(r["done"] for r in self.streams.runs.values()):
                    return
            time.sleep(0.01)

    def finish(self, names: list[str]) -> None:
        """Add its layer counts to every execution noted by ``end``."""
        self._wait_streams()
        self.drain()
        by_k: dict[int, dict] = {}
        spans: dict[int, list] = {}
        for ex, df in self.pending:
            ex.update(dict.fromkeys(
                ("construct_jobs", "jobs", "stages", "tasks",
                 "stream_runs", "stream_batches", "stream_input_rows"), 0))
            ex.update(dict.fromkeys(
                ("construct_job_s", "task_s", "task_cpu_s", "gc_s",
                 "deserialize_s", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "input_bytes",
                 "output_bytes", "stream_batch_s",
                 *PYTHON_METRICS.values()), 0.0))
            plan = _final_plan(df)
            ex["exchanges"] = len(find_nodes(plan, _EXCHANGE_RE))
            ex["python_nodes"] = find_nodes(plan, _PYTHON_NODE_RE)
            by_k[ex["k"]] = ex
            spans[ex["k"]] = []
        self.pending.clear()

        # job group -> (phase, execution) where the group says it
        groups: dict[str, tuple[str, int] | None] = dict.fromkeys(names)
        with self.streams.lock:
            runs = dict(self.streams.runs)
        for run_id, run in runs.items():
            if run["owner"] is None or run["owner"][2] not in by_k:
                continue
            _, phase, k = run["owner"]
            ex = by_k[k]
            ex["stream_runs"] += 1
            ex["stream_batches"] += run["batches"]
            ex["stream_input_rows"] += run["input_rows"]
            ex["stream_batch_s"] += run["batch_ms"] / 1000.0
            groups[run_id] = (phase, k)

        tracker = self.sc.statusTracker()
        job_owner: dict[int, dict] = {}
        stage_owner: dict[int, dict] = {}
        for group, where in groups.items():
            for jid in tracker.getJobIdsForGroup(group):
                if jid in self.seen_jobs:
                    continue
                job = self.status.job(jid)
                if where is None:
                    desc = job.description()
                    phase, _, k = (
                        desc.get() if desc.isDefined() else "").partition("#")
                    phase, k = phase, int(k) if k.isdigit() else -1
                else:
                    phase, k = where
                if k not in by_k:
                    continue
                ex = by_k[k]
                job_owner[jid] = ex
                ex["jobs"] += 1
                if phase == "construct":
                    ex["construct_jobs"] += 1
                    start, end = job.submissionTime(), job.completionTime()
                    if start.isDefined() and end.isDefined():
                        spans[k].append(
                            (start.get().getTime(), end.get().getTime()))
                for sid in self._ints(job.stageIds()):
                    stage_owner.setdefault(sid, ex)
        for k, ex in by_k.items():
            ex["construct_job_s"] = _covered_ms(spans[k]) / 1000.0

        for sid, ex in sorted(stage_owner.items()):
            st = self.status.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            ex["stages"] += 1
            ex["tasks"] += st.numTasks()
            ex["task_s"] += st.executorRunTime() / 1e3
            ex["task_cpu_s"] += st.executorCpuTime() / 1e9
            ex["gc_s"] += st.jvmGcTime() / 1e3
            ex["deserialize_s"] += st.executorDeserializeTime() / 1e3
            ex["shuffle_write_bytes"] += st.shuffleWriteBytes()
            ex["shuffle_read_bytes"] += st.shuffleReadBytes()
            ex["spill_bytes"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled())
            ex["input_bytes"] += st.inputBytes()
            ex["output_bytes"] += st.outputBytes()

        count = self.sql.executionsCount()
        new = self.sql.executionsList(self.exec_start, count - self.exec_start)
        for sx in (new.apply(i) for i in range(new.length())):
            found = _SQL_METRIC_RE.findall(sx.metrics().toString())
            if not found:
                continue
            owners = [job_owner[j] for j in self._ints(sx.jobs().keys())
                      if j in job_owner]
            if not owners:
                continue
            values = self.sql.executionMetrics(sx.executionId()).toString()
            # adaptive re-planning repeats metrics; each counts once
            for metric, acc in set(found):
                m = re.search(
                    rf"[(,] ?{acc} -> (?:total \([^\n]*\n)?([0-9.,]+ \w+)",
                    values,
                )
                if m:
                    owners[0][PYTHON_METRICS[metric]] += _parse_metric_value(
                        m.group(1))


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def _covered_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Collected:
    """The parts of a DataFrame that ``oracle_compare.compare`` reads,
    over rows collected during the timed loop."""

    def __init__(self, columns, schema, rows):
        self.columns = columns
        self.schema = schema
        self._rows = rows

    def collect(self):
        return self._rows


def run_once(spark, q, sf_dir: str, k: int, tracer: Tracer | None) -> dict:
    """Build, (plan,) and collect one query as execution ``k`` of the
    run; return its spans.  Its jobs run in job group ``q.name``, with
    ``<phase>#<k>`` as description."""
    sc = spark.sparkContext
    name = q.name
    sc.setJobGroup(name, f"construct#{k}")
    if tracer:
        tracer.set_phase(name, "construct", k)
    t0 = time.perf_counter()
    df = q.spark(spark, sf_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(name, f"collect#{k}")
    t2 = t3 = time.perf_counter()
    if tracer:
        tracer.set_phase(name, "collect", k)
        t2 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
    rows = df.collect()
    t4 = time.perf_counter()
    return {
        "df": df, "rows": rows, "latency_s": t4 - t0,
        "construct_s": t1 - t0, "plan_s": t3 - t2, "collect_s": t4 - t3,
    }


def check_oracles(registry, names, first, executions) -> dict[str, str]:
    """Compare each query's first timed result with its DuckDB twin at
    the same scale factor, and every later result with the first.
    Marks mismatching executions; returns the problems by query."""
    import duckdb

    from big_data_lab_three_spark.oracle_compare import (
        canon_rows,
        compare,
        register_oracle_views,
    )

    problems: dict[str, str] = {}
    con = duckdb.connect()
    try:
        register_oracle_views(con, SF_DIR)
        for name, got in first.items():
            oracle = registry[name].oracle
            if oracle is None:
                problems[name] = "no oracle"
                continue
            try:
                found, _ = compare(got, con.execute(oracle))
            except Exception as exc:  # noqa: BLE001 - reported as mismatch
                found = [f"compare error: {type(exc).__name__}: {exc}"]
            if found:
                problems[name] = "; ".join(found)[:500]
    finally:
        con.close()

    canon = {
        name: canon_rows([c.lower() for c in got.columns], got.collect())
        for name, got in first.items()
    }
    for ex in executions:
        rows = ex.pop("rows", None)
        if rows is None:
            continue
        name = ex["name"]
        cols = [c.lower() for c in first[name].columns]
        if name in problems:
            ex["mismatch"] = True
        elif canon_rows(cols, rows) != canon[name]:
            ex["mismatch"] = True
            problems[name] = "result differs between timed executions"
    return problems


def metric_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_frac") or name.endswith("_min"):
        return "ratio"
    return "count"


def layer_metrics(ok: list[dict], pass_s: list[float], cores: int) -> dict:
    """Per-layer metrics of a traced run, per pass over the workload."""
    passes = len(pass_s)
    per_pass = {
        f: sum(e[f] for e in ok) / passes for f in set(LAYER_FIELDS.values())
    }
    values = {name: per_pass[f] for name, f in LAYER_FIELDS.items()}
    values["queries.construct_self_s"] = (
        per_pass["construct_s"] - per_pass["construct_job_s"])
    values["operators.busy_frac"] = per_pass["task_s"] * passes / (
        sum(pass_s) * cores)
    values["trace.pass_s"] = statistics.median(pass_s)
    values["trace.span_coverage_min"] = min(span_coverage(e) for e in ok)
    return values


def spans_s(ex: dict) -> float:
    return ex["construct_s"] + ex["plan_s"] + ex["collect_s"]


def span_coverage(ex: dict) -> float:
    """Share of a query's slot in the pass, from its start to the next
    query's start, that its construct, plan and collect spans cover.
    The rest is the loop's own work: ``clearCache()`` and, in traced
    runs, reading Spark's stores."""
    return spans_s(ex) / ex["slot_s"]


def per_query(ok: list[dict]) -> dict[str, dict]:
    """Median of every traced field, per query name."""
    by_name: dict[str, list[dict]] = {}
    for ex in ok:
        by_name.setdefault(ex["name"], []).append(ex)
    out = {}
    for name, exs in sorted(by_name.items()):
        fields = [k for k, v in exs[0].items()
                  if isinstance(v, (int, float)) and k != "k"]
        row = {k: statistics.median(e[k] for e in exs) for k in fields}
        row["span_coverage"] = statistics.median(span_coverage(e) for e in exs)
        row["executions"] = len(exs)
        out[name] = row
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    names, min_passes = load_workload(args.workload)
    trace = bool(args.trace)

    table_timer = install_table_timer() if trace else None
    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark

    setup_parts = {"imports_s": time.time() - args.t0}
    registry = load_all()
    setup_parts["load_all_s"] = time.time() - args.t0 - sum(setup_parts.values())
    missing = [n for n in names if n not in registry]
    if missing:
        # load_all() skips modules that fail to import, so a workload
        # could shrink without notice; refuse to measure a smaller one.
        raise SystemExit(f"workload queries missing from load_all(): {missing}")

    master = f"local[{args.cores}]"
    confs = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        confs.update(TRACE_CONFS)
    spark = get_spark("perfbench", master=master, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, table_timer) if trace else None

    setup_parts["session_s"] = time.time() - args.t0 - sum(setup_parts.values())
    warmup_errors = {}
    warmup_query_s = {}
    # One warm-up pass at the timed scale factor: it resolves the tables
    # (the session caches them) and generates the code the timed passes
    # run.  After a warm-up at a smaller scale factor the first timed
    # pass still ran about 40% slower than the next ones.
    for name in names:
        t = time.perf_counter()
        try:
            spark.sparkContext.setJobGroup(name, "warmup")
            registry[name].spark(spark, SF_DIR).collect()
        except Exception as exc:  # noqa: BLE001 - recorded, timed loop decides
            warmup_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            spark.catalog.clearCache()
        warmup_query_s[name] = time.perf_counter() - t
    if tracer:
        tracer.reset(names)
    setup_s = time.time() - args.t0
    setup_parts["warmup_s"] = setup_s - sum(setup_parts.values())

    rng = random.Random(args.seed)
    executions: list[dict] = []
    first: dict[str, Collected] = {}
    errors: dict[str, str] = {}
    pass_s: list[float] = []
    start = time.perf_counter()
    while len(pass_s) < min_passes or time.perf_counter() - start < args.seconds:
        order = rng.sample(names, len(names))
        t_pass = t_next = time.perf_counter()
        for name in order:
            t_slot = t_next
            q = registry[name]
            k = len(executions)
            try:
                ex = run_once(spark, q, SF_DIR, k, tracer)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
                executions.append({"name": name, "k": k, "error": True})
                spark.catalog.clearCache()
                if tracer:
                    tracer.end(None, None)
                t_next = time.perf_counter()
                continue
            df = ex.pop("df")
            ex["name"], ex["k"] = name, k
            if name not in first:
                first[name] = Collected(df.columns, df.schema, ex["rows"])
            t = time.perf_counter()
            spark.catalog.clearCache()
            ex["clear_cache_s"] = time.perf_counter() - t
            if tracer:
                t = time.perf_counter()
                tracer.end(ex, df)
                ex["trace_s"] = time.perf_counter() - t
            executions.append(ex)
            t_next = time.perf_counter()
            ex["slot_s"] = t_next - t_slot
        pass_s.append(t_next - t_pass)
    measured_s = time.perf_counter() - start
    if tracer:
        tracer.finish(names)

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    versions = {
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
    }
    mismatches = check_oracles(registry, names, first, executions)
    spark.stop()

    ok = [e for e in executions if not e.get("error")]
    failed = sum(1 for e in executions if e.get("error") or e.get("mismatch"))
    lat = [e["latency_s"] for e in ok]
    tail_s, tail_pct = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_s), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MiB"),
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": args.cores,
        "master": master,
        "sf": SF,
        "versions": versions,
        "queries": names,
        "passes": len(pass_s),
        "pass_s_all": pass_s,
        "measured_s": measured_s,
        "attempted": len(executions),
        "failed": failed,
        "failed_frac": failed / len(executions),
        "errors": errors,
        "warmup_errors": warmup_errors,
        "setup_parts": setup_parts,
        "warmup_query_s": warmup_query_s,
        "oracle_mismatches": mismatches,
        "query_tail_pct": tail_pct,
        "query_samples": len(lat),
        "pass_span_coverage": sum(spans_s(e) for e in ok) / sum(pass_s),
        "latency_s_by_query": {
            name: [e["latency_s"] for e in ok if e["name"] == name]
            for name in names
        },
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if tracer:
        layers = layer_metrics(ok, pass_s, args.cores)
        layers["queries.persisted_rdds_left"] = max(
            e["persisted_rdds"] for e in ok)
        record["layers"] = {
            k: {"value": v, "unit": metric_unit(k)}
            for k, v in sorted(layers.items())
        }
        record["per_query"] = per_query(ok)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
