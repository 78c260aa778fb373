"""Seeded, cached inputs for the index-engine benchmark.

Everything a run needs is derived from ``(seed, scale)`` and written
once under ``perfbench/_work/data/v<version>_s<seed>_x<scale>/``:

* the lake: a synthetic TPC-H-shaped replica at sf0.1 cardinalities
  (``scale`` 1.0 = sf0.1) with a seed-derived key offset, written as
  range-clustered parquet files: orders by ``o_orderkey``, events by
  ``ts``. One customer file is a join side and is never indexed;
* crawl documents: history batches, whose MinHash signatures form the
  signature store the crawl starts from (``write_signature_history``,
  which needs Spark and runs in every crawl run, outside timing), and
  crawl batches of exact copies of history documents, planted
  near-duplicates, and novel text;
* the request list of ``point_lookup``;
* ``truth.npz``: per-file key sets, the ground truth that
  ``locate.precision`` is scored against.

Generation is never part of a timed metric.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_KINDS = ["view", "cart", "buy", "return"]
EPOCH_1992 = 8035  # 1992-01-01 in days since 1970-01-01

# Shapes at scale 1.0 (TPC-H sf0.1 cardinalities for customer/orders).
N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_USERS = 5_000
N_EVENTS = 200_000
ORDER_FILES = 32
EVENT_FILES = 32
SHIPREF_DOMAIN = 1 << 40

# crawl_dedup. The history is HISTORY_BATCHES appends of DOCS_PER_BATCH
# documents to the signature store. A crawl batch re-crawls
# COPY_SOURCES history batches (its copies and near-duplicates come from
# those only), so a band-key probe has most of the store to skip.
HISTORY_BATCHES = 12
CRAWL_BATCHES = 4  # the traced run checks 4; a timed run, one per round
DOCS_PER_BATCH = 1_000
COPY_SOURCES = 2
CRAWL_MIX = [0.2, 0.2, 0.6]  # exact copy, near-duplicate, novel
NEAR_DUP_EDITS = 2  # words replaced in a near-duplicate
DOC_WORDS = 40
VOCAB = 4_000
# incremental_near_dup's defaults, which the signature history must match
NUM_HASHES = 64
SHINGLE_LEN = 5

# point_lookup: request types issued round-robin, one request list per
# type. Every REPEAT_EVERY-th request of a type (position p with
# p % REPEAT_EVERY == 2) repeats the one before it, so the repeat share
# is 1/REPEAT_EVERY over a list and the same in every seed. The lists
# hold more distinct requests than the locate memo (128 entries) or the
# SQL swap cache (256) can keep.
POINT_TYPES = ["in_list", "band", "bloom_join", "temporal_join", "sql_join", "sql_custkey"]
POINT_REQUESTS = 400
REPEAT_EVERY = 4
# sql_custkey asks for customers whose orders sit in exactly this many
# of the ORDER_FILES files, so every request touches as many files.
CUSTKEY_FILES = 8


# Bump when generation changes, so stale caches are not reused.
VERSION = 8


def data_dir(root: str, seed: int, scale: float) -> str:
    return os.path.join(root, "data", f"v{VERSION}_s{seed}_x{scale:g}")


def ensure(root: str, seed: int, scale: float) -> str:
    """Generate the inputs for ``(seed, scale)`` unless cached; return
    their directory. A crash mid-generation leaves only a ``.tmp``
    directory, which the next call discards."""
    out = data_dir(root, seed, scale)
    if os.path.exists(os.path.join(out, "inputs.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(tmp, seed, scale)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def load(directory: str) -> dict:
    """The inputs manifest, with absolute paths."""
    with open(os.path.join(directory, "inputs.json")) as f:
        meta = json.load(f)
    for k, v in meta["files"].items():
        meta["files"][k] = [os.path.join(directory, p) for p in v]
    meta["customer"] = os.path.join(directory, meta["customer"])
    return meta


def _slices(n_rows: int, n_files: int) -> list[tuple[int, int]]:
    b = np.linspace(0, n_rows, n_files + 1).astype(int)
    return [(int(b[i]), int(b[i + 1])) for i in range(n_files)]


def _write_split(table: pa.Table, out: str, name: str, n_files: int) -> list[str]:
    os.makedirs(os.path.join(out, name))
    paths = []
    for i, (a, b) in enumerate(_slices(table.num_rows, n_files)):
        rel = os.path.join(name, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(a, b - a), os.path.join(out, rel))
        paths.append(rel)
    return paths


def _generate(out: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    n_cust = int(N_CUSTOMERS * scale)
    n_orders = int(N_ORDERS * scale)
    n_users = int(N_USERS * scale)
    n_events = int(N_EVENTS * scale)
    key_offset = (seed % 1000) * 10_000_000

    # ---- customer (join side, not indexed)
    custkeys = np.arange(1, n_cust + 1, dtype=np.int64)
    names = np.array([f"Customer#{k:09d}" for k in custkeys])
    customer = pa.table(
        {
            "c_custkey": custkeys,
            "c_name": names,
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        }
    )
    pq.write_table(customer, os.path.join(out, "customer.parquet"))

    # ---- orders, range-clustered by o_orderkey (sparse keys, as TPC-H);
    # a third of customers place no orders, as in TPC-H
    cust_pool = custkeys[custkeys % 3 != 0]
    okeys = key_offset + 4 * np.arange(n_orders, dtype=np.int64) + 1
    shipref = rng.choice(SHIPREF_DOMAIN, n_orders, replace=False).astype(np.int64)
    orders = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.choice(cust_pool, n_orders),
            "o_shipref": shipref,
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            # keys are assigned in date order, as in a lake loaded by day
            "o_orderdate": pa.array(
                np.sort(EPOCH_1992 + rng.integers(0, 2400, n_orders)).astype(np.int32),
                pa.date32(),
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    order_paths = _write_split(orders, out, "orders", ORDER_FILES)

    # ---- events: unique timestamps, clustered by time (temporal index)
    ts = np.sort(rng.choice(n_events * 4, n_events, replace=False)).astype(np.int64)
    users = rng.integers(1, n_users + 1, n_events)
    events = pa.table(
        {
            "user_id": users,
            "ts": pa.array(
                (1_600_000_000 + ts * 37) * 1_000_000, pa.timestamp("us", tz="UTC")
            ),
            "amount": np.round(rng.uniform(1.0, 500.0, n_events), 2),
            "kind": rng.choice(EVENT_KINDS, n_events),
        }
    )
    event_paths = _write_split(events, out, "events", EVENT_FILES)

    # ---- crawl documents: history batches, then crawl batches that
    # mix copies and near-duplicates of COPY_SOURCES history batches
    # with novel documents
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(rng.choice(letters, k)) for k in rng.integers(3, 10, VOCAB)]
    )
    weights = 1.0 / np.arange(1, VOCAB + 1)
    weights /= weights.sum()

    def words(n: int) -> np.ndarray:
        return rng.choice(VOCAB, (n, DOC_WORDS), p=weights)

    def write_docs(name: str, b: int, batch: np.ndarray) -> str:
        rel = os.path.join(name, f"batch-{b:04d}.parquet")
        table = pa.table(
            {
                "doc_id": (b * 10_000 + np.arange(len(batch))).astype(np.int64),
                "text": [" ".join(vocab[row]) for row in batch],
            }
        )
        pq.write_table(table, os.path.join(out, rel))
        return rel

    os.makedirs(os.path.join(out, "history"))
    os.makedirs(os.path.join(out, "docs"))
    history = words(HISTORY_BATCHES * DOCS_PER_BATCH).reshape(HISTORY_BATCHES, DOCS_PER_BATCH, DOC_WORDS)
    history_paths = [write_docs("history", b, history[b]) for b in range(HISTORY_BATCHES)]
    doc_paths = []
    for b in range(CRAWL_BATCHES):
        batch = words(DOCS_PER_BATCH)
        kind = rng.choice(3, DOCS_PER_BATCH, p=CRAWL_MIX)
        copied = np.flatnonzero(kind < 2)
        sources = rng.choice(HISTORY_BATCHES, COPY_SOURCES, replace=False)
        batch[copied] = history[
            sources[rng.integers(COPY_SOURCES, size=len(copied))],
            rng.integers(DOCS_PER_BATCH, size=len(copied)),
        ]
        for i in np.flatnonzero(kind == 1):
            batch[i, rng.choice(DOC_WORDS, NEAR_DUP_EDITS, replace=False)] = rng.integers(VOCAB, size=NEAR_DUP_EDITS)
        doc_paths.append(write_docs("docs", HISTORY_BATCHES + b, batch))

    # ---- ground truth for locate.precision
    truth: dict[str, np.ndarray] = {}
    for col in ("o_orderkey", "o_custkey", "o_orderdate", "o_shipref"):
        arr = orders.column(col).to_numpy()
        for i, (a, b) in enumerate(_slices(n_orders, ORDER_FILES)):
            truth[f"orders.{col}.{i}"] = np.unique(arr[a:b])
    latest = np.full(n_users + 1, -1, dtype=np.int64)
    for i, (a, b) in enumerate(_slices(n_events, EVENT_FILES)):
        latest[users[a:b]] = i  # files ascend in ts: the last write wins
    truth["events.latest_file"] = latest
    np.savez_compressed(os.path.join(out, "truth.npz"), **truth)

    # ---- point_lookup request lists. Each request touches a fixed
    # number of files (its keys are drawn from distinct files), so runs
    # on different seeds do the same amount of work.
    order_slices = _slices(n_orders, ORDER_FILES)
    dates = orders.column("o_orderdate").to_numpy().astype(np.int64)
    # dates whose orders all sit in one file, per file
    own_dates = []
    for a, b in order_slices:
        shared = {dates[a - 1] if a else None, dates[b] if b < n_orders else None}
        own_dates.append([d for d in np.unique(dates[a:b]) if d not in shared])
    ev_slices = _slices(n_events, EVENT_FILES)
    latest_users = [np.flatnonzero(latest == i) for i in range(EVENT_FILES)]

    def files(k: int, pool: int) -> np.ndarray:
        return rng.choice(pool, k, replace=False)

    def in_list() -> list[int]:
        return sorted(int(rng.choice(own_dates[f])) for f in files(3, ORDER_FILES))

    def band() -> list[int]:
        a, b = order_slices[int(rng.integers(ORDER_FILES))]
        lo_f, hi_f = int(okeys[a]), int(okeys[b - 1])
        width = (hi_f - lo_f) // 2
        lo = int(rng.integers(lo_f, hi_f - width))
        return [lo, lo + width]

    def bloom_join() -> list[int]:
        return sorted(int(shipref[rng.integers(*order_slices[f])]) for f in files(5, ORDER_FILES))

    def temporal_join() -> list[int]:
        pools = [f for f in range(EVENT_FILES) if len(latest_users[f])]
        return sorted(int(rng.choice(latest_users[pools[f]])) for f in files(3, len(pools)))

    def sql_join() -> list:
        f = int(rng.integers(ORDER_FILES))
        return [int(rng.choice(own_dates[f])), SEGMENTS[int(rng.integers(len(SEGMENTS)))]]

    # customers with orders in exactly CUSTKEY_FILES files, drawn without
    # replacement so the only repeats are the declared ones
    cust = orders.column("o_custkey").to_numpy()
    file_of = np.repeat(np.arange(ORDER_FILES), [b - a for a, b in order_slices])
    pairs = np.unique(np.stack([cust, file_of]), axis=1)
    keys, n_files = np.unique(pairs[0], return_counts=True)
    custkey_pool = iter(rng.permutation(keys[n_files == CUSTKEY_FILES]).tolist())

    def sql_custkey() -> int:
        return int(next(custkey_pool))

    makers = {
        "in_list": in_list,
        "band": band,
        "bloom_join": bloom_join,
        "temporal_join": temporal_join,
        "sql_join": sql_join,
        "sql_custkey": sql_custkey,
    }
    point = {}
    for t in POINT_TYPES:
        reqs: list = []
        for p in range(POINT_REQUESTS):
            reqs.append(reqs[-1] if p % REPEAT_EVERY == 2 else makers[t]())
        point[t] = reqs

    meta = {
        "seed": seed,
        "scale": scale,
        "files": {
            "orders": order_paths,
            "events": event_paths,
            "history": history_paths,
            "docs": doc_paths,
        },
        "customer": "customer.parquet",
        "point": point,
    }
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(meta, f)


def write_signature_history(spark, inputs: dict, out: str) -> None:
    """Write the signature store of the history batches to ``out`` with
    the program's own ``minhash_signatures_fast`` and
    ``signature_store_write``. One write of the union of the batches'
    signatures keeps each batch's partitions apart, so the store holds
    the files one append per batch would (all stamped with one
    ``__seq``).

    Every crawl run writes it rather than caching it per seed: the Spark
    work warms the JVM, and runs that found it cached timed set-up about
    a quarter slower and the batch about an eighth slower."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from ariadne_spark.operators import dedup

    batches = [
        dedup.minhash_signatures_fast(spark.read.parquet(p), "text", "doc_id", NUM_HASHES, SHINGLE_LEN)
        for p in inputs["files"]["history"]
    ]
    dedup.signature_store_write(reduce(DataFrame.unionByName, batches), out)
