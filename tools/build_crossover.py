"""Measure the index build on either side of its driver-build bound.

``Index.update`` builds a batch of plain-column indexes over local
parquet on the driver with pyarrow while the batch's indexed column
chunks sum, uncompressed in the footers, to at most
``operators.build.DRIVER_BUILD_MAX_BYTES``; above it the batch builds
through Spark. Per lake size this tool builds point_lookup's two indexes
both ways on fresh stores over the same files, alternating which side
runs first, and times ``update()``: the build plus its commit.

The lake has perfbench's shape: orders (a regular index on
``o_custkey`` and ``o_orderdate``, a range index on ``o_orderkey``, a
bloom on ``o_shipref``) and events (a temporal index on ``user_id`` by
``ts``), 32 files each. Scale 1 is perfbench's lake (150,000 orders and
200,000 events).

Usage: python tools/build_crossover.py [--scales 1,4,16,32] [--repeats 2]
       [--cpus 4] [--work DIR]
Prints one JSON line per run, then one summary line per scale.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FILES = 32
ORDERS = 150_000
EVENTS = 200_000
CUSTOMERS = 15_000
USERS = 5_000


def _write_lake(out: str, scale: int, rng) -> dict[str, list[str]]:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_orders, n_events = ORDERS * scale, EVENTS * scale
    orders = pa.table(
        {
            "o_orderkey": 4 * np.arange(n_orders, dtype=np.int64) + 1,
            "o_custkey": rng.integers(1, CUSTOMERS * scale + 1, n_orders),
            "o_shipref": rng.choice(1 << 40, n_orders, replace=False).astype(np.int64),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": pa.array(
                np.sort(8035 + rng.integers(0, 2400, n_orders)).astype(np.int32), pa.date32()
            ),
        }
    )
    ts = np.sort(rng.choice(n_events * 4, n_events, replace=False)).astype(np.int64)
    events = pa.table(
        {
            "user_id": rng.integers(1, USERS * scale + 1, n_events),
            "ts": pa.array((1_600_000_000 + ts * 37) * 1_000_000, pa.timestamp("us", tz="UTC")),
            "amount": np.round(rng.uniform(1.0, 500.0, n_events), 2),
        }
    )
    paths: dict[str, list[str]] = {}
    for name, table in (("orders", orders), ("events", events)):
        os.makedirs(os.path.join(out, name))
        bounds = np.linspace(0, table.num_rows, FILES + 1).astype(int)
        paths[name] = []
        for i in range(FILES):
            p = os.path.join(out, name, f"part-{i:04d}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
            paths[name].append(p)
    return paths


def _indexed_bytes(paths: list[str], columns: set[str]) -> int:
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        md = pq.read_metadata(p)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                if rg.column(c).path_in_schema in columns:
                    total += rg.column(c).total_uncompressed_size
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16,32")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--work", default=None)
    args = ap.parse_args()

    import numpy as np

    import bench
    from ariadne_spark import Index
    from ariadne_spark.operators import build

    work = tempfile.mkdtemp(prefix="build-crossover-", dir=args.work)
    spark = bench.spark_session(args.cpus, driver_memory="4g", app_name="ariadne-build-crossover")
    sc = spark.sparkContext
    rng = np.random.default_rng(7)
    try:

        def trial(scale: int, lake: dict, mode: str) -> dict:
            run = tempfile.mkdtemp(dir=work)
            spark.conf.set("spark.ariadne.storagePath", run)
            build.DRIVER_BUILD_MAX_BYTES = 1 << 62 if mode == "driver" else -1
            schemas = {t: spark.read.parquet(lake[t][0]).schema for t in lake}
            orders = Index.for_name("orders", schema=schemas["orders"], format="parquet", spark=spark)
            orders.add_index("o_custkey")
            orders.add_index("o_orderdate")
            orders.add_range_index("o_orderkey")
            orders.add_bloom_index("o_shipref", fpr=0.001)
            orders.add_files(lake["orders"])
            events = Index.for_name("events", schema=schemas["events"], format="parquet", spark=spark)
            events.add_temporal_index("user_id", "ts")
            events.add_files(lake["events"])
            group = uuid.uuid4().hex
            sc.setJobGroup(group, "build crossover")
            t0 = time.perf_counter()
            orders.update()
            events.update()
            elapsed = time.perf_counter() - t0
            sc.setJobGroup("idle", "idle")
            assert orders.unindexed_files() == [] and events.unindexed_files() == []
            shutil.rmtree(run)
            return {
                "scale": scale,
                "mode": mode,
                "update_s": round(elapsed, 3),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            }

        runs: dict = {}
        sizes: dict = {}
        for i, scale in enumerate(int(x) for x in args.scales.split(",")):
            lake = _write_lake(os.path.join(work, f"lake-{scale}"), scale, rng)
            sizes[scale] = _indexed_bytes(
                lake["orders"], {"o_custkey", "o_orderdate", "o_orderkey", "o_shipref"}
            ) + _indexed_bytes(lake["events"], {"user_id", "ts"})
            if i == 0:  # warm the JVM and the UDF workers; not reported
                trial(scale, lake, "driver")
                trial(scale, lake, "spark")
            for rep in range(args.repeats):
                order = ("driver", "spark") if rep % 2 == 0 else ("spark", "driver")
                for mode in order:
                    rec = trial(scale, lake, mode)
                    rec["indexed_mb"] = round(sizes[scale] / 2**20, 1)
                    print(json.dumps(rec), flush=True)
                    runs.setdefault((scale, mode), []).append(rec["update_s"])
            shutil.rmtree(os.path.join(work, f"lake-{scale}"))
        for scale, nbytes in sizes.items():
            driver_s = statistics.median(runs[(scale, "driver")])
            spark_s = statistics.median(runs[(scale, "spark")])
            print(
                json.dumps(
                    {
                        "scale": scale,
                        "indexed_mb": round(nbytes / 2**20, 1),
                        "driver_update_s": round(driver_s, 3),
                        "spark_update_s": round(spark_s, 3),
                        "driver_minus_spark_s": round(driver_s - spark_s, 3),
                    }
                ),
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
