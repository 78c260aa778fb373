"""File-count soak: does the planner hold up at realistic lake file
counts (10k+ index files), where the file-proportional pieces —
FileList, FFD batch packing, locate's file-list collect, the
AND-intersection join, prune metrics — actually get exercised?

Usage: python tools/soak_files.py [n_files] [sf_dir]
Writes under /tmp/ariadne_soak_files; prints a summary block for NOTES.
"""

from __future__ import annotations

import glob
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import spark_session


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    work = "/tmp/ariadne_soak_files"
    shutil.rmtree(work, ignore_errors=True)

    spark = spark_session(
        32,
        driver_memory="24g",
        app_name="ariadne-soak-files",
        shuffle_partitions=64,
        conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.conf.set("spark.ariadne.storagePath", f"{work}/store")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t0 = time.time()
    # range-cluster on l_orderkey so the range index has prunable files
    li.repartitionByRange(n_files, "l_orderkey").write.parquet(f"{work}/li")
    files = sorted(glob.glob(f"{work}/li/part-*.parquet"))
    t_split = time.time() - t0
    print(f"split: {len(files)} files in {t_split:.1f}s (rss {rss_mb():.0f} MB)")

    from ariadne_spark import Index

    idx = Index.for_name("soak_li", schema=li.schema, format="parquet")
    idx.add_range_index("l_orderkey")
    idx.add_index("l_suppkey")
    t0 = time.time()
    idx.add_files(files)
    t_addf = time.time() - t0
    t0 = time.time()
    idx.update()
    t_build = time.time() - t0
    print(
        f"add_files: {t_addf:.1f}s; build: {t_build:.1f}s "
        f"(rss {rss_mb():.0f} MB)"
    )

    # point-band locate on the range index
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    mid = (lo + hi) // 2
    from ariadne_spark.plans.locate import Band

    t0 = time.time()
    located = idx.locate_files({"l_orderkey": Band(mid, mid + 50)})
    t_locate = time.time() - t0
    print(
        f"range locate: {len(located)}/{len(files)} files in {t_locate:.2f}s "
        f"(rss {rss_mb():.0f} MB)"
    )

    # value-set locate on the regular index (capped literal list)
    t0 = time.time()
    keys = [r[0] for r in li.select("l_suppkey").distinct().limit(20).collect()]
    located2 = idx.locate_files({"l_suppkey": keys})
    t_locate2 = time.time() - t0
    print(
        f"value locate (20 keys): {len(located2)}/{len(files)} files in "
        f"{t_locate2:.2f}s"
    )

    # AND-intersection locate across both types
    t0 = time.time()
    located3 = idx.locate_files(
        {"l_orderkey": Band(mid, mid + 500), "l_suppkey": keys}
    )
    t_locate3 = time.time() - t0
    print(
        f"AND locate: {len(located3)}/{len(files)} files in {t_locate3:.2f}s"
    )

    # pruned join end-to-end + parity
    probe = (
        li.where((F.col("l_orderkey") >= mid) & (F.col("l_orderkey") <= mid + 50))
        .select("l_orderkey")
        .distinct()
    )
    t0 = time.time()
    got = idx.join(probe, on=["l_orderkey"]).count()
    t_join = time.time() - t0
    exp = li.join(probe, "l_orderkey").count()
    print(
        f"pruned join: {got} rows in {t_join:.2f}s (parity {got == exp}; "
        f"metrics {idx._last_metrics.get('selected_files')}/"
        f"{idx._last_metrics.get('total_files')} files, "
        f"{idx._last_metrics.get('pruned_pct', 0):.1f}% pruned)"
    )
    print(f"final driver maxrss: {rss_mb():.0f} MB")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
