"""``tools/plan_fingerprint.py``: the plan-identity check a refactor is
held to must itself be stable — two runs of one tree print one line."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "plan_fingerprint.py")


def _tool():
    spec = importlib.util.spec_from_file_location("plan_fingerprint", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalize_plan_strips_session_ids():
    norm = _tool().normalize_plan
    a = "Project [w#12, cnt#13L]\n+- LogicalRDD [w#12, cnt#13L], false"
    b = "Project [w#40, cnt#41L]\n+- LogicalRDD [w#40, cnt#41L], false"
    assert norm(a) == norm(b) == "Project [w#, cnt#]\n+- LogicalRDD, false"
    assert norm("Scan ExistingRDD[p#3] plan_id=7") == "Scan ExistingRDD plan_id"
    # a renamed alias is NOT normalized away
    assert norm("cnt#1 AS n#2") != norm("cnt#1 AS m#2")


def test_two_runs_print_the_same_line(sf_dir):
    """A query with construction-time jobs (localCheckpoint'ed vocab,
    piece and DP frames), fingerprinted in two fresh processes."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    lines = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, TOOL, sf_dir, "unigram_lm_viterbi_census"],
            cwd=ROOT,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
            check=True,
        ).stdout.splitlines()
        assert len(out) == 1
        lines.append(out[0])
    assert lines[0] == lines[1]
    rec = json.loads(lines[0])
    assert rec["query"] == "unigram_lm_viterbi_census"
    assert rec["construct_jobs"] > 0
    assert rec["rows"] > 0
