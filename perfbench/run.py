"""Query-mix benchmark for the engine: one client runs a workload's
queries in a closed loop, one query at a time, on one local[nproc]
session, at sf0.1.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout.  It starts ``measure.py`` in a
fresh process with the checkout on ``PYTHONPATH`` (Python workers
import the engine from there), temporary files in a per-run directory
under ``.perfbench/`` (removed after the run), and a hard deadline.
Every process it starts has ended when it exits.  It writes the full run record under
``.perfbench/records/`` and prints, as its last line, one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from compare import mismatch

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A run must end within 180 s; leave room to stop the session's
# processes and report.
DEADLINE_S = 165.0
# The rest stays in the record only.  peak_rss_mb: the JVM heap grows
# differently from run to run, which spreads it too widely to gate on.
# query_tail_s: a run has too few samples (a few passes over a short
# list) for the tail to lie clearly above the median.
END_TO_END = ("setup_s", "pass_s", "query_p50_s")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run anywhere but a full checkout of the engine."""
    needed = [
        os.path.join(ROOT, "big_data_lab_three_spark", "queries", "__init__.py"),
        os.path.join(HERE, "workloads.json"),
        os.path.join(HERE, "data", "sf0.1", "lineitem.parquet"),
    ]
    absent = [p for p in needed if not os.path.exists(p)]
    if absent:
        raise SystemExit(f"not a checkout of the engine; missing: {absent}")


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``.  The measured process
    leads its own session, and the JVM and Python workers it starts
    stay in it even where they change process group."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, pgrp, session, ...
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait for the session's processes to exit on their own, then kill
    what is left and wait until it is gone."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid):
        time.sleep(0.05)


def git_commit() -> str | None:
    """HEAD of the checkout, or None where it is not a git repository."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout.strip()


def source_digest() -> str:
    """SHA-256 over the engine's and the benchmark's sources, which names
    the code measured where no git commit is at hand."""
    h = hashlib.sha256()
    files = glob.glob(
        os.path.join(ROOT, "big_data_lab_three_spark", "**", "*.py"),
        recursive=True,
    ) + glob.glob(os.path.join(HERE, "*.py")) + [
        os.path.join(HERE, "workloads.json")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def child_env(cores: int, scratch: str) -> dict[str, str]:
    """Environment of the measured process: the checkout importable by
    Python workers, and every temporary file under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata files outside the checkout; JVM temp files inside it
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def add_trace_overhead(record: dict, records: str) -> None:
    """Traced minus untraced ``pass_s``, against the untraced record of
    the same workload and seed when one of the same code exists."""
    path = os.path.join(
        records, f"{record['workload']}-trace0-seed{record['seed']}.json")
    try:
        with open(path) as f:
            base = json.load(f)
    except FileNotFoundError:
        return
    if mismatch(base, record) or base["source_digest"] != record["source_digest"]:
        return
    record["trace_overhead_s"] = (
        record["layers"]["trace.pass_s"]["value"]
        - base["metrics"]["pass_s"]["value"])


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # turn SIGTERM into SystemExit so the session is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    check_checkout()
    cores = len(os.sched_getaffinity(0))
    cwd = os.path.join(WORK, "cwd")
    records = os.path.join(WORK, "records")
    logs = os.path.join(WORK, "logs")
    for d in (cwd, records, logs):
        os.makedirs(d, exist_ok=True)
    tag = f"{args.workload}-trace{args.trace}-seed{args.seed}"
    log_path = os.path.join(logs, f"{tag}.log")
    # per run, removed once the run's processes have ended
    scratch = os.path.join(WORK, "scratch", tag)

    t0 = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--t0", repr(t0),
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=cwd, env=child_env(cores, scratch), stdout=subprocess.PIPE,
            stderr=log, start_new_session=True, text=True,
        )
        out = None
        try:
            out, _ = proc.communicate(
                timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                # timed out or interrupted; the JVM holds the output pipe
                # open too, so stop the whole session before reaping
                stop_session(proc.pid, grace_s=0.0)
                proc.communicate()
            t_child = time.time()
            stop_session(proc.pid)
            shutil.rmtree(scratch, ignore_errors=True)

    if out is None or proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        why = "timed out" if out is None else f"exit code {proc.returncode}"
        sys.stderr.write(f"\nmeasure.py {why}; log: {log_path}\n")
        return 1
    record = json.loads(out.strip().splitlines()[-1])
    record["run_parts"] = {
        "child_s": t_child - t0, "stop_s": time.time() - t_child}
    record["commit"] = git_commit()
    record["source_digest"] = source_digest()
    if args.trace:
        add_trace_overhead(record, records)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    if args.trace:
        metrics = record["layers"]
    else:
        metrics = {k: record["metrics"][k] for k in END_TO_END}
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
