"""Round-10 optimization profiler: per-query timings + formatted plans.

Runs on bench.py's session (``bench.spark_session``,
local[$SPARK_GRAFT_CPUS]), warms every queried plan once
(``bench.warm_up``), then for each requested query
records N timed runs (same .count() action as bench.py) and writes
``plans/r10/<name>_<label>.txt`` with the ``explain('formatted')``
output of the returned frame.

Usage:
    python tools/profile_queries.py <label> [query ...]

With no query list, profiles every BENCH_QUERIES entry. Prints a
sorted per-query median table and writes a JSON sidecar
``/tmp/profile_<label>.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "before"
    want = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    runs = int(os.environ.get("PROFILE_RUNS", "3"))
    import bench

    spark = bench.spark_session(cpus, app_name="ariadne-profile")

    import __spark_entry__ as entry

    entry._prepare(spark, sf_dir)
    qs = entry.queries()
    names = want or bench.BENCH_QUERIES
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PROFILE_ROUND", "r11"),
    )
    os.makedirs(plans_dir, exist_ok=True)

    bench.warm_up(spark, qs, names, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        ts = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{label}:{name}:{i}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.count()
            ts.append(time.time() - t0)
        # capture the formatted plan of the last returned frame
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        with open(os.path.join(plans_dir, f"{name}_{label}.txt"), "w") as f:
            f.write(plan)
        out[name] = {
            "median": round(statistics.median(ts), 3),
            "min": round(min(ts), 3),
            "runs": [round(t, 3) for t in ts],
        }
        print(f"{out[name]['median']:8.3f} {out[name]['min']:8.3f}  {name}", flush=True)

    with open(f"/tmp/profile_{label}.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    total = sum(v["median"] for v in out.values())
    print(f"TOTAL median {total:.2f}s over {len(out)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
