"""Counters that must repeat exactly at a fixed seed.

Two traced runs of ``point_lookup`` on the same seed must agree on every
op's Spark job count, input and shuffle bytes (read from outside the
program) and row count, and on the per-layer counts: jobs, calls, files
selected, cache hits.

    python3 -m pytest perfbench/test_repeat.py -q

Takes about four minutes (two runs with Spark start-up and set-up).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

EXACT = [
    "locate.jobs",
    "locate.calls",
    "locate.files_selected_frac",
    "locate.precision",
    "locate.bloom_skips",
    "index.locate_memo_hit_frac",
    "index.update_jobs",
    "sql.rewrite_jobs",
    "sql.swap_cache_hit_frac",
    "storage.manifest_lists",
    "storage.append_calls",
    "storage.compact_calls",
    "storage.segments_end",
    "batching.analyze_jobs",
    "batching.batches",
    "build.rows_jobs",
    "join.temporal_calls",
    "exec.jobs",
    "exec.input_mb",
    "trace.ops",
]


def _run(seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "point_lookup",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def test_counts_repeat_at_fixed_seed():
    detail_a, result_a = _run(5)
    detail_b, result_b = _run(5)
    assert result_a["correct"] and result_b["correct"]
    ops_a = {op["i"]: op for op in detail_a["ops"]}
    ops_b = {op["i"]: op for op in detail_b["ops"]}
    assert ops_a.keys() == ops_b.keys()
    for i, op in ops_a.items():
        for key in ("kind", "jobs", "input_b", "shuffle_b", "rows"):
            assert op[key] == ops_b[i][key], (i, key, op[key], ops_b[i][key])
    # the first (cold) build shares the job-id range with the oracle
    assert detail_a["setup_jobs"][1:] == detail_b["setup_jobs"][1:]
    for name in EXACT:
        a, b = result_a["metrics"][name]["value"], result_b["metrics"][name]["value"]
        assert a == b, (name, a, b)
