"""Measure the two locate planners on either side of their byte bounds.

``ariadne_spark.index._locate`` plans on the driver (pyarrow) while the
index tables a query reads stay under ``LOCAL_INDEX_MAX_BYTES`` and a
DataFrame's distinct keys under ``LOCAL_KEYS_MAX_BYTES``; above either
bound the Spark planner runs. This tool measures both planners so the
bounds rest on numbers:

* index sweep: ``--files`` parquet files of random int64 keys (every row
  a distinct key) under a regular index, growing to ``--values``
  million keys in all. Per size it times a 10-value literal locate on
  each planner, and on the driver-side one the growth of the Python
  process's peak RSS. The driver-side planner runs in a fresh Python
  process with no SparkSession (the Data Source's path), so its RSS
  peak is its own.
* key sweep: the last index built, DataFrame key sets (parquet-backed,
  drawn from its data) of growing size. Per size it times both planners
  and reports the Arrow bytes the key collect holds on the driver.

Keep ``--values`` / ``--files`` under ``largeIndexLimit`` (500,000) keys
per file: past it every array spills and the sweep measures the spill
path instead.

Usage: python tools/locate_crossover.py [--values 1,4,16] [--keys 0.01,0.1,1,4]
       [--files 64] [--cpus 4] [--work DIR]
Prints one JSON line per case.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_LOCAL_PROBE = r"""
import json, resource, statistics, sys, time
sys.path.insert(0, sys.argv[1])
from ariadne_spark.index import _locate
from ariadne_spark.storage.metadata import load_metadata
from ariadne_spark.storage.paths import IndexPaths
paths = IndexPaths(sys.argv[2], sys.argv[3])
meta = load_metadata(paths.metadata, sys.argv[3])
query = {"k": json.loads(sys.argv[4])}
base = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
secs = []
for _ in range(3):
    t0 = time.perf_counter()
    files, stats = _locate(None, meta, None, None, query, paths=paths)
    secs.append(time.perf_counter() - t0)
peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print(json.dumps({"s": statistics.median(secs), "files": len(files),
                  "rss_growth_mb": (peak - base) / 1024}))
"""


def _median_s(fn, n=3):
    out, secs = None, []
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        secs.append(time.perf_counter() - t0)
    return out, statistics.median(secs)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--values", default="1,4,16")
    ap.add_argument("--keys", default="0.01,0.1,1,4")
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--work", default=None)
    a = ap.parse_args()

    import bench
    from pyspark.sql import functions as F

    from ariadne_spark import Index
    from ariadne_spark.index import _locate
    from ariadne_spark.plans import locate as spark_planner

    work = a.work or tempfile.mkdtemp(prefix="ariadne_crossover-")
    spark = bench.spark_session(a.cpus, driver_memory="2g", app_name="ariadne-crossover")
    spark.conf.set("spark.ariadne.storagePath", f"{work}/store")
    sc = spark.sparkContext

    def job_id() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    def build(millions: float) -> tuple[Index, str]:
        n = int(millions * 1_000_000)
        data = f"{work}/data-{millions}"
        spark.range(0, n, 1, a.files).select(F.xxhash64("id").alias("k")).write.mode(
            "overwrite").parquet(data)
        files = sorted(
            f"{data}/{p}" for p in os.listdir(data) if p.endswith(".parquet")
        )
        df = spark.read.parquet(data)
        idx = Index.for_name(f"x{str(millions).replace('.', '_')}",
                             schema=df.schema, format="parquet", spark=spark)
        idx.add_index("k").add_files(files).update()
        return idx, data

    def spark_locate(idx, query, columns=None):
        cap = spark_planner.LOCAL_INDEX_MAX_BYTES
        spark_planner.LOCAL_INDEX_MAX_BYTES = -1
        try:
            j0 = job_id()
            (files, stats), s = _median_s(lambda: _locate(
                spark, idx.meta, lambda: idx.index_df, idx._large_tables,
                query, columns, paths=idx.paths, totals=idx._index_totals,
            ))
            assert stats.planner == "spark"
            return len(files), s, (job_id() - j0) // 3
        finally:
            spark_planner.LOCAL_INDEX_MAX_BYTES = cap

    try:
        for millions in [float(v) for v in a.values.split(",")]:
            idx, data = build(millions)
            nbytes = sum(
                os.path.getsize(os.path.join(d, f))
                for t in (idx.paths.index, idx.paths.large_index("k"))
                for d, _, fs in os.walk(t) for f in fs
                if f.endswith(".parquet")
            )
            sample = [r[0] for r in spark.read.parquet(data).limit(10).collect()]
            local = json.loads(subprocess.run(
                [sys.executable, "-c", _LOCAL_PROBE, ROOT, f"{work}/store",
                 idx.name, json.dumps(sample)],
                check=True, capture_output=True, text=True,
            ).stdout.strip().splitlines()[-1])
            n_files, s, jobs = spark_locate(idx, {"k": sample})
            assert n_files == local["files"]
            print(json.dumps({
                "sweep": "index", "values_m": millions,
                "index_mb": round(nbytes / 2**20, 1),
                "local_s": round(local["s"], 3),
                "local_rss_growth_mb": round(local["rss_growth_mb"], 1),
                "spark_s": round(s, 3), "spark_jobs": jobs,
            }), flush=True)

        import pyarrow as pa

        from ariadne_spark.index import _collect_keys

        for millions in [float(v) for v in a.keys.split(",")]:
            n = int(millions * 1_000_000)
            kpath = f"{work}/keys-{millions}"
            spark.read.parquet(data).limit(n).write.mode("overwrite").parquet(kpath)
            keys = spark.read.parquet(kpath)
            caps = spark_planner.LOCAL_INDEX_MAX_BYTES, spark_planner.LOCAL_KEYS_MAX_BYTES
            spark_planner.LOCAL_INDEX_MAX_BYTES = spark_planner.LOCAL_KEYS_MAX_BYTES = 1 << 33
            try:
                a0 = pa.total_allocated_bytes()
                got, _ = _collect_keys(keys, ["k"])
                held = pa.total_allocated_bytes() - a0
                del got
                (files, stats), local_s = _median_s(lambda: _locate(
                    spark, idx.meta, lambda: idx.index_df, idx._large_tables,
                    keys, ["k"], paths=idx.paths, totals=idx._index_totals,
                ))
                assert stats.planner == "local", stats.planner_reason
            finally:
                spark_planner.LOCAL_INDEX_MAX_BYTES, spark_planner.LOCAL_KEYS_MAX_BYTES = caps
            n_files, s, jobs = spark_locate(idx, keys, ["k"])
            assert n_files == len(files)
            print(json.dumps({
                "sweep": "keys", "keys_m": millions,
                "key_arrow_mb": round(held / 2**20, 1),
                "local_s": round(local_s, 3), "spark_s": round(s, 3),
                "spark_jobs": jobs,
            }), flush=True)
    finally:
        spark.stop()
        if a.work is None:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
