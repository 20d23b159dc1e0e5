"""``bench.py`` bookkeeping: the regression diff compares like with like."""

from __future__ import annotations

import json

import bench


def test_prior_timings_use_newest_parsed_round_not_companion(tmp_path):
    """``BENCH_r10_c8.json`` (another core count) sorts after
    ``BENCH_r10.json`` by name, and ``BENCH_r9.json`` after both: the
    prior record must be the numerically newest plain round."""

    def write(name, timings):
        (tmp_path / name).write_text(
            json.dumps({"parsed": {"queries": timings}})
        )

    write("BENCH_r9.json", {"q": 9.0})
    write("BENCH_r10.json", {"q": 10.0})
    write("BENCH_r10_c8.json", {"q": 80.0})
    assert bench.load_prior_timings(str(tmp_path)) == (
        {"q": 10.0},
        "BENCH_r10.json",
    )
