"""Per-query Spark JOB COUNT profiler (round-11).

Job counts are host-noise-immune (a co-tenant burst cannot change how
many jobs a plan schedules), so they are the primary per-operator
evidence when wall-clock is contaminated — the r10 lesson. Counts are
read as the delta of the DAGScheduler's job-id counter around one
warmed execution of each query.

Usage: python tools/job_profile.py [query ...]   (default: all)
Writes /tmp/job_profile-<checkout tag>.json (the tag hashes this
checkout's path, as ``__spark_entry__.WORK`` does, so two checkouts can
profile side by side) and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    want = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    import bench

    spark = bench.spark_session(cpus, app_name="ariadne-jobprofile")

    import __spark_entry__ as entry

    entry._prepare(spark, sf_dir)
    qs = entry.queries()
    names = want or bench.BENCH_QUERIES

    def job_id() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    # warm every plan first so codegen/worker spin-up and one-time
    # fixture builds do not count as query-path jobs
    bench.warm_up(spark, qs, names, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        j0, t0 = job_id(), time.time()
        qs[name](spark, sf_dir).count()
        out[name] = {
            "jobs": job_id() - j0,
            "sec": round(time.time() - t0, 3),
        }

    with open(f"/tmp/job_profile-{entry.CHECKOUT_TAG}.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for name in sorted(out, key=lambda n: -out[n]["jobs"]):
        print(f"{out[name]['jobs']:4d} jobs {out[name]['sec']:8.3f}s  {name}")
    print(f"TOTAL {sum(v['jobs'] for v in out.values())} jobs "
          f"{sum(v['sec'] for v in out.values()):.2f}s over {len(out)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
