"""Draw the benchmark's workloads from the traced classes and write them,
with the evidence for each name, to ``workloads.json``.

    python3 perfbench/pick_workloads.py

Each workload is made of parts; each part is a sample of one class (see
``classify.py``).  A part takes its fixed names, then draws the rest from
distinct modules, with at most the part's latency budget (in the class
pass's seconds) so that a run fits its time.  Of many seeded draws it
keeps the one whose shape is nearest to its class's: share of time in
construction and in planning, Spark jobs run in construction per query,
and executor busy fraction.  The figures of sample and class are written
beside the names, so the match can be checked.

Membership is fixed once committed: rerunning this after the engine
changes would move the benchmark, so do it only to define new workloads.
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DRAWS = 20000
SEED = 42
# Iterative graph, clustering and tokenizer loops that run Spark jobs
# while building the plan: the main users of eager materialization.
ITERATIVE = re.compile(r"^(bpe|cc|kcore|kmeans|pagerank|unigram)_")
# What a part must hold at least one query of.
NEEDS = {
    "iterative": lambda name, rec: bool(ITERATIVE.search(name)),
    # writes files, so that sinks.* has work
    "writes": lambda name, rec: rec["output_bytes"] > 0,
}

# passes: a run makes at least this many timed passes; with a short
# --seconds exactly this many, so every run stops at the same point of
# the JIT's warming, which goes on for several passes after the warm-up.
# In mixed the first timed pass still varies widely, and the median of
# three leaves it out; relational keeps two so that runs fit their time.
WORKLOADS = {
    "relational": {
        "passes": 2,
        "why": ("No construction job, no Python node, no stream: most of "
                "the registry. Exercises plans, operators and sources; the "
                "no-change control for work on eager materialization and "
                "on Python."),
        "parts": [
            {"class": "relational", "size": 6, "budget_s": 8.0},
        ],
    },
    "mixed": {
        "passes": 3,
        "why": ("Construction-time jobs (an iterative loop and a staging "
                "write among them), an availableNow drain, and the "
                "Python/Arrow boundary with similarity_lsh_recall and "
                "media_ingest_stats; the only workload where functions.*, "
                "streaming.* and sinks.* do work."),
        "parts": [
            {"class": "eager", "size": 2, "budget_s": 3.5,
             "needs": ["iterative", "writes"]},
            {"class": "python_arrow", "size": 2, "budget_s": 8.0,
             "fixed": ["similarity_lsh_recall", "media_ingest_stats"]},
            {"class": "streaming", "size": 1, "budget_s": 1.5},
        ],
    },
}


def shape(rows: list[dict], cores: int) -> dict[str, float]:
    """Figures of a set of queries run one after another."""
    wall = sum(r["latency_s"] for r in rows)
    return {
        "queries": len(rows),
        "latency_s": wall,
        "construct_share": sum(r["construct_s"] for r in rows) / wall,
        "plan_share": sum(r["plan_s"] for r in rows) / wall,
        "construct_jobs_per_query":
            sum(r["construct_jobs"] for r in rows) / len(rows),
        "busy_frac": sum(r["task_s"] for r in rows) / (wall * cores),
    }


MATCHED = ("construct_share", "plan_share", "construct_jobs_per_query",
           "busy_frac")


def distance(a: dict, b: dict) -> float:
    """Sum of the relative differences of the matched figures; absolute
    where the class figure is zero."""
    return sum(abs(a[k] - b[k]) / (b[k] if b[k] else 1.0) for k in MATCHED)


def draw_part(part: dict, queries: dict, cores: int) -> tuple[list, dict]:
    members = {
        n: r for n, r in queries.items() if r.get("class") == part["class"]}
    target = shape(list(members.values()), cores)
    fixed = part.get("fixed", [])
    needs = [NEEDS[k] for k in part.get("needs", ())]
    rng = random.Random(SEED)
    best, best_d = None, float("inf")
    pool = sorted(n for n in members if n not in fixed)
    for _ in range(DRAWS):
        names = list(fixed)
        modules = {members[n]["module"] for n in names}
        for n in rng.sample(pool, len(pool)):
            if len(names) == part["size"]:
                break
            if members[n]["module"] not in modules:
                names.append(n)
                modules.add(members[n]["module"])
        if not all(any(need(n, members[n]) for n in names) for need in needs):
            continue
        rows = [members[n] for n in names]
        if sum(r["latency_s"] for r in rows) > part["budget_s"]:
            continue
        d = distance(shape(rows, cores), target)
        if d < best_d:
            best, best_d = sorted(names), d
    if best is None:
        raise SystemExit(f"no draw fits part {part}")
    sample = shape([members[n] for n in best], cores)
    rounded = {k: round(v, 3) for k, v in sample.items()}
    return best, {
        "class": part["class"],
        "class_figures": {k: round(v, 3) for k, v in target.items()},
        "sample_figures": rounded,
        "distance": round(best_d, 3),
    }


def main() -> int:
    with open(os.path.join(HERE, "classes.json")) as f:
        classes = json.load(f)
    queries, cores = classes["queries"], classes["cores"]
    out = {
        "evidence": (
            "Per query, from the traced class pass in classes.json: class, "
            "module, construct_jobs (Spark jobs run inside Query.spark), "
            "python_nodes (Python exec nodes in the final plan), stream_runs "
            "(StreamingQuery runs started) and latency_s. Per part, the "
            "figures of the sample beside those of its class. Written by "
            "pick_workloads.py; membership is fixed."),
        "workloads": {},
    }
    for wname, spec in WORKLOADS.items():
        chosen, parts = {}, []
        for part in spec["parts"]:
            names, figures = draw_part(part, queries, cores)
            parts.append(figures)
            for n in names:
                r = queries[n]
                chosen[n] = {k: r[k] for k in (
                    "class", "module", "construct_jobs", "python_nodes",
                    "stream_runs", "latency_s")}
        out["workloads"][wname] = {
            "why": spec["why"], "passes": spec["passes"], "parts": parts,
            "queries": chosen}
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
