"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

Session startup is amortized across all queries (one SparkSession, one
warm-up action) so the numbers measure query execution, not JVM boot —
SURVEY.md §6's note that fixed overhead, not data volume, is the local
risk.  Each query is executed via ``df.foreach(noop)``-free
``count()``-less ``collect()`` on its (small) result — the work is in the
scan/shuffle, results are aggregate-sized.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _bench_rounds(repo_dir: str) -> list[tuple[int, str]]:
    """``(round, path)`` of every driver ``BENCH_r<N>.json`` record,
    oldest round first.  Rounds compare as PARSED numbers (``r9`` <
    ``r10``), and ``BENCH_r<N>_c<M>.json`` companions (records taken on
    a different core count) are skipped, like with like."""
    return sorted(
        (int(m.group(1)), path)
        for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", path))
    )


def load_prior_timings(repo_dir: str) -> tuple[dict[str, float], str | None]:
    """Per-query timings from the newest ``BENCH_r*.json`` the driver
    recorded, for round-over-round regression diffing.

    The driver file holds the bench's stdout TAIL (possibly truncated
    mid-line) plus a ``parsed`` field that may be null — so recovery is
    best-effort: prefer ``parsed.queries``, else regex-harvest
    ``"name": seconds`` pairs from the tail.  Returns ({}, None) when
    nothing is recoverable; the bench must never fail because history
    is missing."""
    for _rnd, path in reversed(_bench_rounds(repo_dir)):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = rec.get("parsed") or {}
        queries = parsed.get("queries")
        if isinstance(queries, dict) and queries:
            return (
                {k: float(v) for k, v in queries.items()},
                os.path.basename(path),
            )
        tail = rec.get("tail") or ""
        pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', tail)
        # drop harness fields that match the pattern (value/sf live
        # outside the queries map but share its shape)
        timings = {
            k: float(v)
            for k, v in pairs
            if k not in ("value", "sf")
        }
        if timings:
            return timings, os.path.basename(path)
    return {}, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark

    registry = load_all()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up, not counted: JVM JIT + parquet footers, the broadcast
    # machinery, and the Python worker pool (first mapInPandas pays
    # worker fork + Arrow init — a per-process cost, not a per-query one).
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.count()
    from pyspark.sql import functions as F

    small = li.limit(100)
    small.join(F.broadcast(small.select("l_orderkey")), "l_orderkey").count()
    small.select("l_quantity").mapInPandas(
        lambda it: it, schema="l_quantity double"
    ).count()

    # Warm-up iteration (not counted): run every query once at a tiny
    # scale factor so whole-stage-codegen compilation (janino), plan
    # caches, and per-query Python/Arrow paths are paid before timing —
    # the timed run then measures steady-state data processing, which is
    # what extrapolates to a long-lived 100 TB cluster.  Standard
    # warm-up-iteration practice (JMH-style).  Disable with
    # SPARK_GRAFT_WARMUP=0; point elsewhere with SPARK_GRAFT_WARMUP=<dir>.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP", "/root/testdata/sf0.001")
    if warm_dir not in ("0", ""):
        for name, q in sorted(registry.items()):
            try:
                q.spark(spark, warm_dir).collect()
            except Exception:
                pass  # a warmup failure must never sink the bench
        # warmup queries persist intermediates too — release them so the
        # first timed query starts with a clean storage-memory budget
        spark.catalog.clearCache()

    # min-of-N timing: single-shot numbers on a shared machine carry
    # ±15% scheduler/GC noise; the minimum over a couple of passes is
    # the standard steady-state estimator (what the work costs when the
    # machine isn't preempting you).  SPARK_GRAFT_REPEATS=1 restores
    # single-shot.
    try:
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "2")))
    except ValueError:
        repeats = 2  # a malformed env var must never sink the bench
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _ in range(repeats):
        for name, q in sorted(registry.items()):
            t0 = time.perf_counter()
            try:
                q.spark(spark, sf_dir).collect()
                t = round(time.perf_counter() - t0, 4)
                timings[name] = min(timings.get(name, t), t)
            except Exception as exc:  # fault-isolate: one broken query
                # must never zero out the whole round's perf signal —
                # note the error and keep timing the rest.  Every repeat
                # attempts every query (a transient in ANY repeat must
                # not decide whether a query is timed), and a query
                # reports as an error only if NO repeat succeeded.
                errors.setdefault(
                    name, f"{type(exc).__name__}: {exc}"[:500]
                )
            finally:
                # Queries that persist intermediates (dedup signature
                # tables, scalar-subquery caches) must not leak storage
                # memory into the next query's execution-memory budget —
                # each bench entry is timed standalone, as a cluster job
                # would run.
                spark.catalog.clearCache()

    # a query that succeeded in any repeat is a timing, not an error
    errors = {n: e for n, e in errors.items() if n not in timings}
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "query_corpus_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # Round-over-round regression diff, DRIFT-NORMALIZED: absolute
    # timings shift 18-30% between rounds with machine state, uniformly
    # across queries — so the raw >20% rule once flagged 23 "regressions"
    # that were all the same slower-machine constant.  The median
    # now/prev ratio across shared queries IS that constant (a plan
    # regression moves one query, not the median); a query regresses
    # when it is >20% slower than drift-adjusted expectation AND >0.15s
    # absolute (20% of a 50ms query is noise).
    prior, prior_src = load_prior_timings(
        os.path.dirname(os.path.abspath(__file__))
    )
    shared = {
        name: t / prior[name]
        for name, t in timings.items()
        if name in prior and prior[name] > 0
    }
    if shared:
        drift = sorted(shared.values())[len(shared) // 2]
        regressions = {
            name: {
                "prev": prior[name],
                "now": timings[name],
                "ratio_vs_drift": round(r / drift, 3),
            }
            for name, r in shared.items()
            if r > drift * 1.2
            and timings[name] - prior[name] * drift > 0.15
        }
        out["machine_drift"] = round(drift, 3)
        # The median CANNOT distinguish machine state from a regression
        # that slows EVERY query (a session-conf or engine-level change)
        # — both raise all ratios uniformly.  Surface the ambiguity
        # instead of absorbing it: a large drift value demands the
        # same-day A/B (tools/ab_bench.py vs the prior commit), which
        # is immune to machine state by construction.
        if drift > 1.2:
            out["drift_note"] = (
                f"median ratio {drift:.2f} vs {prior_src} — machine "
                "state OR a global regression; confirm with "
                "tools/ab_bench.py before trusting either reading"
            )
        out["regressions"] = regressions
        out["regressions_vs"] = prior_src

    # Persist the FULL record in-repo: the driver's BENCH_r{N}.json keeps
    # only a 2,000-char stdout tail, which truncates the per-query head —
    # cross-round judging then depends on tail reconstruction.  The round
    # number is inferred as newest-recorded + 1: the driver records
    # BENCH_r{N} at round CLOSE, so any run before that belongs to round
    # N, and a run after it is round-N+1 work by definition (re-running
    # in the same session after the driver recorded simply pre-writes
    # the next round's file — overwritten by that round's own pre-flight).
    # Override with SPARK_GRAFT_ROUND.  Best-effort: a read-only
    # checkout must not sink the bench.
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        rounds = [rnd for rnd, _path in _bench_rounds(repo)]
        n_round = int(
            os.environ.get("SPARK_GRAFT_ROUND", max(rounds, default=0) + 1)
        )
        with open(
            os.path.join(repo, f"bench_full_r{n_round:02d}.json"), "w"
        ) as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except (OSError, ValueError):
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
