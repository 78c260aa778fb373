"""Index-engine benchmark for ariadne-spark.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
and cached under ``perfbench/_work/data``; every run starts from a fresh
index store. One client thread issues ops in a closed loop (each op is
forced before the next is sent) on ``local[<nproc>]``.

The timed loop is a fixed number of rounds, ``--seconds`` divided by
the workload's ``ROUND_S`` (what a round takes on the reference box), so
the op count depends on ``--seconds`` only, never on the host's speed.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` wraps each
layer's entry points (see ``layers.py``) and reports per-layer totals
over the last set-up and ``TRACE_ROUNDS`` traced rounds, plus the
tracing overhead against as many untraced rounds run between them.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it carries the host context
(load and a pure-Python canary, before and after) and per-op counters.
Any op that raises or disagrees with the oracle counts as failed, and a
run with a failure exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

SCALE = 1.0  # 1.0 = sf0.1 cardinalities
# Each run builds every index twice, each time into a fresh store: the
# first build is the JVM's cold one and only warms it (the oracle is
# computed alongside it); setup_s is the second.
SETUP_BUILDS = 2
# Seconds a timed round takes on the reference box (4 vCPUs): a
# point_lookup round is one op of each type, a crawl_dedup round one
# batch. Sets the number of timed rounds from --seconds.
ROUND_S = {"point_lookup": 10.0, "crawl_dedup": 9.0}
# The traced run interleaves this many untraced and as many traced rounds
# (a point_lookup round is one op of each type; a crawl_dedup round is
# one batch). Even, for the ABBA order.
TRACE_ROUNDS = 2
# The traced run's untimed rounds before the ABBA rounds. A point_lookup
# warm-up round takes its requests from the end of the request lists; a
# crawl_dedup run needs none, because the oracle's no-index calls have
# already run the band join.
WARMUP_ROUNDS = {"point_lookup": 1, "crawl_dedup": 0}
# Every index update consolidates the index table, so each crawl batch's
# store-index refresh pays one consolidation in every kind of run.
CONSOLIDATION_THRESHOLD = 1
MB = 1024.0 * 1024.0


def host_context() -> dict:
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return {"load1": os.getloadavg()[0], "canary_s": time.perf_counter() - t0}


def session(run_dir: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    tmp = os.path.join(run_dir, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ariadne-perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ariadne.stagingConsolidationThreshold", str(CONSOLIDATION_THRESHOLD))
        # The generated lake is below the default 32 MiB cost floor, under
        # which DataFrame-keyed bloom probes are skipped; 0 keeps the
        # probes the workloads are named for.
        .config("spark.ariadne.minBloomPruneBytes", "0")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(spark) -> float:
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak used sizes (context for
    ``peak_rss_mb``)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
    ) / MB


def segments(store: str) -> int:
    """Live segments across every table under ``store``."""
    total = 0
    for d, _, _ in os.walk(store):
        if os.path.basename(d) == "_manifest":
            names = sorted(n for n in os.listdir(d) if n.startswith("v") and n.endswith(".json"))
            if names:
                with open(os.path.join(d, names[-1])) as f:
                    total += len(json.load(f)["segments"])
    return total


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[-1] if len(values) > 1 else values[0]


class Runner:
    def __init__(self, spark, wl, counters, run_dir: str):
        from workloads import fingerprint

        self.spark = spark
        self.wl = wl
        self.counters = counters
        self.run_dir = run_dir
        self.fingerprint = fingerprint
        self.records: list[dict] = []
        self.tracer = None

    def set_store(self, k: int) -> str:
        store = os.path.join(self.run_dir, f"store-{k}")
        self.spark.conf.set("spark.ariadne.storagePath", store)
        return store

    def run_op(self, i: int, timed: bool = True) -> dict:
        op = self.wl.op(i)
        rec = {"i": i, "kind": op.kind, "key": op.key, "timed": timed, "repeat": op.repeat, "error": None}
        tr = self.tracer
        if tr is not None:
            tr.op, tr.truth = i, op.truth
            tr.totals.update(self.wl.index_totals())
            span = tr.open("op")
        j0 = self.counters.next_job_id()
        t0 = time.perf_counter()
        try:
            df = op.run()
            if tr is not None:
                ex = tr.open("exec")
            try:
                rec["fp"] = self.fingerprint(df)
            finally:
                if tr is not None:
                    tr.close(ex)
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
            rec["fp"] = None
        rec["s"] = time.perf_counter() - t0
        rec["j0"], rec["j1"] = j0, self.counters.next_job_id()
        if tr is not None:
            tr.close(span)
        self.records.append(rec)
        return rec

    def loop(self, n_ops: int) -> list[dict]:
        """Closed loop over ops 0 .. ``n_ops`` - 1."""
        return [self.run_op(i) for i in range(n_ops)]

    def verify(self) -> list[str]:
        """Oracle check of every op run (warm-up included), outside timing."""
        expected = self.wl.expected([r["key"] for r in self.records if r["error"] is None])
        problems = []
        for r in self.records:
            if r["error"] is not None:
                problems.append(f"op {r['i']} {r['kind']} raised: {r['error']}")
            elif tuple(r["fp"]) != tuple(expected[r["key"]]):
                problems.append(f"op {r['i']} {r['kind']} {r['key']}: got {r['fp']}, expected {expected[r['key']]}")
            else:
                continue
            r["failed"] = True
        return problems


def run(args, spark, data_dir: str, run_dir: str) -> tuple[dict, dict]:
    import gen
    import layers
    import workloads
    from spans import SparkCounters, Tracer
    from workloads import tree_bytes, bytes_written

    inputs = gen.load(data_dir)
    counters = SparkCounters(spark)
    wl = workloads.make(args.workload, spark, inputs, data_dir, run_dir)
    runner = Runner(spark, wl, counters, run_dir)
    round_len = len(gen.POINT_TYPES) if args.workload == "point_lookup" else 1
    rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
    if args.trace:
        # warm-up rounds (negative ids), then the ABBA rounds
        op_ids = list(range(-WARMUP_ROUNDS[args.workload] * round_len, 2 * TRACE_ROUNDS * round_len))
    else:
        op_ids = list(range(rounds * round_len))

    phases = {"start": time.perf_counter()}
    setup_s, setup_jobs = [], []
    tracer = Tracer(counters) if args.trace else None
    for k in range(SETUP_BUILDS):
        store = runner.set_store(k)
        traced_setup = tracer is not None and k == SETUP_BUILDS - 1
        if traced_setup:
            layers.install(tracer)
            tracer.totals.update(wl.index_totals())
        with ThreadPoolExecutor(1) as pool:
            # the oracle's answers for every op, alongside the cold build
            oracle = pool.submit(wl.expected, [wl.op(i).key for i in op_ids]) if k == 0 else None
            j0, t0 = counters.next_job_id(), time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
            setup_jobs.append(counters.next_job_id() - j0)
            if oracle is not None:
                oracle.result()
        if traced_setup:
            tracer.uninstall()
    setup_written = sum(tree_bytes(store).values())

    phases["setup"] = time.perf_counter()
    if args.trace:
        # warm the op paths, so the untraced and traced rounds below
        # compare like with like
        for i in op_ids:
            if i < 0:
                runner.run_op(i, timed=False)
    phases["warmup"] = time.perf_counter()

    extra: dict = {}
    if args.trace:
        # untraced and traced rounds in ABBA order, so a steady warm-up
        # trend cancels out of the overhead estimate; the traced rounds
        # feed the per-layer totals. The overhead leaves out ops that
        # repeat the one before them (point_lookup's p = 2 round, which
        # is traced): they hit the program's caches, and no untraced
        # round does.
        before = tree_bytes(store)
        untraced, traced, cand = [], [], 0
        order = [False, True, True, False] * (TRACE_ROUNDS // 2)
        for j, is_traced in enumerate(order):
            ops = range(j * round_len, (j + 1) * round_len)
            if not is_traced:
                untraced += [runner.run_op(i) for i in ops]
                continue
            for i in ops:
                hist = wl.store_files() if args.workload == "crawl_dedup" else []
                layers.install(tracer)
                runner.tracer = tracer
                traced.append(runner.run_op(i))
                runner.tracer = None
                tracer.uninstall()
                if args.workload == "crawl_dedup":
                    cand += wl.candidate_pairs(i, hist)
        counters.drain()
        for s in tracer.spans:
            s.attrs["stages"] = counters.jobs(s.job0, s.job1)
        extra = {
            "segments_end": segments(store),
            "bytes_written": bytes_written(before, tree_bytes(store)) + setup_written,
            "candidate_pairs": cand,
            "kept_pairs": sum(r["fp"][0] for r in traced if r["fp"]) if args.workload == "crawl_dedup" else 0,
            "temporal_ops": {r["i"] for r in traced if r["kind"] == "temporal_join"},
            "dedup_ops": {r["i"] for r in traced if r["kind"] == "batch"},
            "traced_ops": len(traced),
            "untraced_latencies": [r["s"] for r in untraced if not r["repeat"]],
            "traced_latencies": [r["s"] for r in traced if not r["repeat"]],
        }
        timed = traced
    else:
        stores = [store, *wl.pipeline_stores()]
        before = {d: tree_bytes(d) for d in stores}
        timed = runner.loop(len(op_ids))
        loop_written = sum(bytes_written(before[d], tree_bytes(d)) for d in stores)
        counters.drain()

    for r in runner.records:
        t = counters.jobs(r["j0"], r["j1"])
        r.update(jobs=r["j1"] - r["j0"], input_b=t.input_b, shuffle_b=t.shuffle_b)

    phases["loop"] = time.perf_counter()
    problems = runner.verify()
    problems += wl.finish_checks()
    phases["verify"] = time.perf_counter()
    failed = sum(1 for r in runner.records if r.get("failed"))
    for p in problems:
        print(p, file=sys.stderr)

    lat = [r["s"] for r in timed]
    op_time = sum(lat)
    if args.trace:
        metrics = layers.summarize(tracer, extra)
        units = layers.METRICS
    else:
        if args.workload == "crawl_dedup":
            docs = len(timed) * gen.DOCS_PER_BATCH
            added = sum(wl.doc_bytes(r["key"][1]) for r in timed)
            write_amp = loop_written / added
        else:
            docs = sum(r["fp"][0] for r in timed if r["fp"])
            write_amp = setup_written / wl.source_bytes()
        index_bytes = sum(tree_bytes(store).values())
        metrics = {
            "setup_s": setup_s[-1],
            "op_p50_s": statistics.median(lat),
            "op_p90_s": p90(lat),
            "queries_per_s": len(lat) / op_time,
            "docs_per_s": docs / op_time,
            "scan_mb_per_op": sum(r["input_b"] for r in timed) / MB / len(timed),
            "index_to_data_ratio": index_bytes / wl.source_bytes(),
            "write_amp": write_amp,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        units = END_TO_END
    result = {
        "correct": not problems,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": setup_s,
        "setup_jobs": setup_jobs,
        "jvm_heap_peak_mb": jvm_heap_peak_mb(spark),
        "phase_s": {k: phases[k] - prev for prev, k in zip(phases.values(), list(phases)[1:])},
        "raised_in_layers": sorted(
            {f"{s.name}: {s.attrs['raised']}" for s in tracer.spans if "raised" in s.attrs}
        ) if tracer else [],
        "ops": [
            {k: r[k] for k in ("i", "kind", "s", "jobs", "input_b", "shuffle_b", "timed")} | {"rows": r["fp"][0] if r["fp"] else None}
            for r in runner.records
        ],
    }
    return result, detail


WORKLOAD_NAMES = ["point_lookup", "crawl_dedup"]
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "queries_per_s": "1/s",
    "docs_per_s": "1/s",
    "scan_mb_per_op": "MB",
    "index_to_data_ratio": "ratio",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ariadne_spark")):
        print(f"ariadne_spark not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):  # left behind by runs that were killed
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep every temporary file (package zip, Spark scratch) in the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    sys.path[:0] = [ROOT, HERE]
    import gen

    host_before = host_context()
    spark = None
    try:
        with ThreadPoolExecutor(1) as pool:
            data = pool.submit(gen.ensure, WORK, args.seed, SCALE)
            spark = session(run_dir)
            data_dir = data.result()
        result, detail = run(args, spark, data_dir, run_dir)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["host"] = {"before": host_before, "after": host_context()}
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
