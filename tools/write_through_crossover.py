"""Measure the crawl store append on either side of its write-through bound.

``operators.dedup._append_indexed`` writes a crawl batch's signature
append as ONE part file and commits its bloom row driver-side
(``Index.write_through``) while the batch has at most
``WRITE_THROUGH_MAX_KEYS`` distinct band keys. Above the bound the
append writes in parallel and the next ``signature_store_index``
refresh builds the new files' rows through Spark. Per batch size this
tool runs one crawl batch both ways, each on a fresh copy of the same
signature store with a freshly built index, and times:

* ``near_dup_s``: ``incremental_near_dup(update_store=True)`` (the
  band-key collect, the store locate and the append);
* ``action_s``: counting its result;
* ``refresh_s``: ``signature_store_index(handle=...)``;
* ``total_s``: the three together — what a crawl loop pays per batch;
* ``bloom_s``: on the write-through side, the driver-side bloom build
  over as many random keys as the batch has (the part of
  ``write_through`` that grows with the batch).

Usage: python tools/write_through_crossover.py [--docs 1000,16000,64000]
       [--repeats 2] [--cpus 4] [--work DIR]
Prints one JSON line per run, then one summary line per size.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HISTORY_BATCHES = 12
HISTORY_DOCS = 1_000
DOC_WORDS = 40
VOCAB = 4_000
BANDS = 8


def _write_docs(path: str, n: int, first_id: int, rng, vocab, weights) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = rng.choice(len(vocab), (n, DOC_WORDS), p=weights)
    pq.write_table(
        pa.table(
            {
                "doc_id": (first_id + np.arange(n)).astype(np.int64),
                "text": [" ".join(vocab[row]) for row in words],
            }
        ),
        path,
    )


def _bloom_s(n_keys: int, fpr: float) -> float:
    import numpy as np
    import pyarrow as pa

    from ariadne_spark.functions import bloom

    keys = pa.array(np.random.default_rng(n_keys).integers(-(2**62), 2**62, n_keys))
    t0 = time.perf_counter()
    bloom.build(keys.to_pylist(), fpr)
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="1000,16000,64000")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--work", default=None)
    args = ap.parse_args()

    import numpy as np

    import bench
    from ariadne_spark.operators import dedup

    work = tempfile.mkdtemp(prefix="wt-crossover-", dir=args.work)
    spark = bench.spark_session(args.cpus, driver_memory="4g", app_name="ariadne-wt-crossover")
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, k)) for k in rng.integers(3, 10, VOCAB)])
    weights = 1.0 / np.arange(1, VOCAB + 1)
    weights /= weights.sum()
    try:
        template = os.path.join(work, "history")
        for b in range(HISTORY_BATCHES):
            path = os.path.join(work, f"history-{b}.parquet")
            _write_docs(path, HISTORY_DOCS, b * 10**7, rng, vocab, weights)
            dedup.signature_store_write(
                dedup.minhash_signatures_fast(spark.read.parquet(path), "text", "doc_id"),
                template,
                mode="append",
            )
        sizes = [int(x) for x in args.docs.split(",")]

        def trial(n: int, docs: str, mode: str) -> dict:
            run = tempfile.mkdtemp(dir=work)
            store = os.path.join(run, "sigs")
            shutil.copytree(template, store)
            spark.conf.set("spark.ariadne.storagePath", os.path.join(run, "ariadne"))
            idx = dedup.signature_store_index(spark, store, "sigs")
            dedup.WRITE_THROUGH_MAX_KEYS = 1 << 62 if mode == "through" else 0
            before = set(os.listdir(store))
            t0 = time.perf_counter()
            out = dedup.incremental_near_dup(
                spark.read.parquet(docs), store, update_store=True, store_index=idx
            )
            t1 = time.perf_counter()
            out.count()
            t2 = time.perf_counter()
            idx = dedup.signature_store_index(spark, store, "sigs", handle=idx)
            t3 = time.perf_counter()
            assert idx.unindexed_files() == []
            rec = {
                "docs": n,
                "keys": n * BANDS,
                "mode": mode,
                "new_files": sum(f.endswith(".parquet") for f in set(os.listdir(store)) - before),
                "near_dup_s": round(t1 - t0, 3),
                "action_s": round(t2 - t1, 3),
                "refresh_s": round(t3 - t2, 3),
                "total_s": round(t3 - t0, 3),
            }
            if mode == "through":
                rec["bloom_s"] = round(_bloom_s(n * BANDS, 1e-6), 3)
            shutil.rmtree(run)
            return rec

        runs: dict = {}
        for i, n in enumerate(sizes):
            docs = os.path.join(work, f"batch-{n}.parquet")
            _write_docs(docs, n, 10**9, rng, vocab, weights)
            if i == 0:  # warm the JVM and the UDF workers; not reported
                trial(n, docs, "through")
                trial(n, docs, "spark")
            for rep in range(args.repeats):
                order = ("through", "spark") if rep % 2 == 0 else ("spark", "through")
                for mode in order:
                    rec = trial(n, docs, mode)
                    print(json.dumps(rec), flush=True)
                    runs.setdefault((n, mode), []).append(rec["total_s"])
        for n in sizes:
            through = statistics.median(runs[(n, "through")])
            spark_side = statistics.median(runs[(n, "spark")])
            print(
                json.dumps(
                    {
                        "docs": n,
                        "keys": n * BANDS,
                        "through_total_s": round(through, 3),
                        "spark_total_s": round(spark_side, 3),
                        "through_minus_spark_s": round(through - spark_side, 3),
                    }
                ),
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
