"""Plan fingerprint: a refactor's plan-identity check, one JSON line per
query.

For each query it prints the sha256 of the optimized and the executed
plan strings, the number of jobs that ran in the query's job group while
the frame was being built (construction jobs: checkpoints, staging
writes; a stream's micro-batches run under the stream's own group and
are not counted), the sha256 of the sorted result rows and the sha256
of the registered oracle string.  Two trees whose lines agree build the
same plans, run the same eager jobs and return the same rows.

Plan strings are normalized before hashing, because these parts differ
from session to session on identical plans:

- expression ids (``#N``) and ``plan_id=N`` tags;
- the attribute lists of ``ExistingRDD`` / ``LogicalRDD`` scans (the
  checkpointed relations a construction job leaves behind).

Every table is resolved before the first query, so the schema job of a
table's first read is not counted against whichever query reads it first.

Usage: python tools/plan_fingerprint.py sf_dir [query ...]
(no query names: every registered query, in name order)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD_ATTRS = re.compile(r"(ExistingRDD|LogicalRDD) ?\[[^\]]*\]")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def normalize_plan(plan: str) -> str:
    """``plan`` without the per-session parts listed in the module
    docstring."""
    plan = _RDD_ATTRS.sub(r"\1", plan)
    return _PLAN_ID.sub("plan_id", _EXPR_ID.sub("#", plan))


def resolve_tables(spark, sf_dir: str) -> None:
    """Run every table's first-read schema job now, outside any query."""
    from big_data_lab_three_spark.sources import readers

    for name in readers.TABLE_NAMES:
        for spread_ok in (True, False):
            readers.table(spark, sf_dir, name, spread_ok)


def fingerprint(spark, query, sf_dir: str) -> dict:
    """Build, plan and collect one registered query; return its line."""
    group = f"plan_fingerprint:{query.name}"
    sc = spark.sparkContext
    sc.setJobGroup(group, query.name)
    try:
        df = query.spark(spark, sf_dir)
        construct_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        qe = df._jdf.queryExecution()
        optimized = normalize_plan(qe.optimizedPlan().toString())
        executed = normalize_plan(qe.executedPlan().toString())
        rows = sorted(repr(tuple(r)) for r in df.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {
        "query": query.name,
        "optimized_plan": _sha(optimized),
        "executed_plan": _sha(executed),
        "construct_jobs": construct_jobs,
        "rows": len(rows),
        "result": _sha("\n".join(rows)),
        "oracle": None if query.oracle is None else _sha(query.oracle),
    }


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[-2], file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]

    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark

    registry = load_all()
    unknown = sorted(set(names) - set(registry))
    if unknown:
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        return 1
    # Python workers (mapInPandas, pandas UDFs) import this tree too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("plan_fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    resolve_tables(spark, sf_dir)
    for name in names or sorted(registry):
        print(json.dumps(fingerprint(spark, registry[name], sf_dir)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
