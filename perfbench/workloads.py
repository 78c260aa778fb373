"""The benchmark's workloads: set-up, ops, and the per-op oracle.

An op returns a lazy DataFrame; the loop forces it with one aggregate
action (row count plus an order-independent row hash), and the oracle
computes the same pair with plain Spark over every file, unindexed.
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import ariadne_spark
from ariadne_spark import Band, Index
from ariadne_spark.operators import dedup

import gen

HASH_MOD = 2**31 - 1
SQL_COLUMNS = ["o_orderkey", "o_totalprice", "o_orderdate", "c_name"]
SQL_JOIN = f"SELECT {', '.join(SQL_COLUMNS)} FROM orders JOIN customer ON o_custkey = c_custkey "


def _date(days: int) -> datetime.date:
    return datetime.date(1970, 1, 1) + datetime.timedelta(days=int(days))


def _days(days: list[int]) -> np.ndarray:
    return np.asarray(days, dtype="datetime64[D]")


def fingerprint(df: DataFrame) -> tuple[int, int | None]:
    """(rows, row hash): the one forcing action of an op."""
    return _as_pair(df.agg(*_fingerprint_cols(df.columns)).collect()[0])


def _row_hash(columns: list[str]):
    """Per-row hash; summed over rows it does not depend on row order."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in sorted(columns)]), F.lit(HASH_MOD))


def _fingerprint_cols(columns: list[str]):
    return [F.count(F.lit(1)).alias("n"), F.sum(_row_hash(columns)).alias("h")]


def _as_pair(row) -> tuple[int, int | None]:
    return int(row["n"]), None if row["h"] is None else int(row["h"])


def tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed between two snapshots."""
    return sum(s for p, s in after.items() if before.get(p) != s)


class Op:
    def __init__(self, kind: str, key, run, truth: dict | None = None, repeat: bool = False):
        self.kind = kind
        self.key = key  # identifies the expected answer
        self.run = run  # () -> DataFrame
        self.truth = truth or {}  # (index, column) -> file -> holds a match
        self.repeat = repeat  # repeats the op of its kind before it


class PointLookup:
    """Selective reads: IN-lists on a regular index, Band ranges on a
    range index, a bloom join with a small key frame, a temporal join
    for a few users and two SQL pruned joins (a DATE literal and a
    customer-key literal), issued round-robin."""

    name = "point_lookup"

    def __init__(self, spark, inputs: dict, data_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.files = inputs["files"]
        self.truth = np.load(os.path.join(data_dir, "truth.npz"))
        self._expected: dict = {}
        self.file_no = {
            p: (t, i) for t in ("orders", "events") for i, p in enumerate(self.files[t])
        }
        spark.read.parquet(inputs["customer"]).createOrReplaceTempView("customer")
        self.schemas = {t: spark.read.parquet(self.files[t][0]).schema for t in ("orders", "events")}

    # ---- set-up
    def source_bytes(self) -> int:
        return sum(os.path.getsize(p) for t in ("orders", "events") for p in self.files[t])

    def index_totals(self) -> dict[str, int]:
        return {"orders": len(self.files["orders"]), "events": len(self.files["events"])}

    def pipeline_stores(self) -> list[str]:
        return []

    def setup(self) -> None:
        spark = self.spark
        orders = Index.for_name("orders", schema=self.schemas["orders"], format="parquet", spark=spark)
        orders.add_index("o_custkey")
        orders.add_index("o_orderdate")
        orders.add_range_index("o_orderkey")
        orders.add_bloom_index("o_shipref", fpr=0.001)
        orders.add_files(self.files["orders"])
        orders.update()
        events = Index.for_name("events", schema=self.schemas["events"], format="parquet", spark=spark)
        events.add_temporal_index("user_id", "ts")
        events.add_files(self.files["events"])
        events.update()
        self.orders, self.events = orders, events

    # ---- ops
    def op(self, i: int) -> Op:
        """Op ``i`` of the run; negative ``i`` (the traced run's warm-up)
        are taken from the end of the request lists."""
        kinds = gen.POINT_TYPES
        kind = kinds[i % len(kinds)]
        p = i // len(kinds) if i >= 0 else gen.POINT_REQUESTS + i // len(kinds)
        req = self.inputs["point"][kind][p]
        key, repeat = (kind, p), i >= 0 and p % gen.REPEAT_EVERY == 2
        spark = self.spark
        if kind == "in_list":
            days = [_date(d) for d in req]
            return Op(kind, key, lambda: self.orders.read_matching({"o_orderdate": days}),
                      {("orders", "o_orderdate"): self._holds("o_orderdate", _days(req))}, repeat)
        if kind == "band":
            lo, hi = req
            return Op(kind, key, lambda: self.orders.read_matching({"o_orderkey": Band(lo, hi)}),
                      {("orders", "o_orderkey"): self._holds_range(lo, hi)}, repeat)
        if kind == "bloom_join":
            def run():
                keys = spark.createDataFrame([(k,) for k in req], "o_shipref long")
                return self.orders.join(keys, on=["o_shipref"])
            return Op(kind, key, run, {("orders", "o_shipref"): self._holds("o_shipref", req)}, repeat)
        if kind == "temporal_join":
            def run():
                keys = spark.createDataFrame([(k,) for k in req], "user_id long")
                return self.events.join(keys, on=["user_id"])
            latest = {int(self.truth["events.latest_file"][u]) for u in req}
            return Op(kind, key, run,
                      {("events", "user_id"): lambda f: self.file_no.get(f, (None, -1))[1] in latest}, repeat)
        if kind == "sql_join":
            day, segment = req
            query = SQL_JOIN + f"WHERE o_orderdate = DATE '{_date(day)}' AND c_mktsegment = '{segment}'"
            truth = {("orders", "o_orderdate"): self._holds("o_orderdate", _days([day]))}
        else:
            query = SQL_JOIN + f"WHERE o_custkey = {req}"
            truth = {("orders", "o_custkey"): self._holds("o_custkey", [req])}
        return Op(kind, key, lambda: ariadne_spark.sql(query, spark), truth, repeat)

    def _holds(self, col: str, keys):
        keys = np.asarray(keys)

        def match(f: str) -> bool:
            t, i = self.file_no.get(f, (None, -1))
            return t == "orders" and bool(np.isin(keys, self.truth[f"orders.{col}.{i}"]).any())

        return match

    def _holds_range(self, lo: int, hi: int):
        def match(f: str) -> bool:
            t, i = self.file_no.get(f, (None, -1))
            if t != "orders":
                return False
            k = self.truth[f"orders.o_orderkey.{i}"]
            return bool(((k >= lo) & (k <= hi)).any())

        return match

    # ---- oracle
    def expected(self, keys: list) -> dict:
        """Expected (rows, hash) per op key, from an unindexed plain-Spark
        read of every file. Computed in every run, not kept on disk: the
        oracle's Spark work warms the op paths, and a run that skipped it
        would time its ops about 30% slower."""
        missing = sorted({k for k in keys if k not in self._expected})
        if missing:
            self._expected.update(self._compute_expected(missing))
        return self._expected

    def _compute_expected(self, keys: list) -> dict:
        """All keys in one aggregate action: each op type contributes its
        matching rows tagged (kind, rid) with the row hash of the
        columns that op returns."""
        spark = self.spark
        orders = spark.read.parquet(*self.files["orders"])
        events = spark.read.parquet(*self.files["events"])
        point = self.inputs["point"]
        by_kind: dict[str, list[int]] = {}
        for kind, p in keys:
            by_kind.setdefault(kind, []).append(p)
        parts = []
        for kind, ps in by_kind.items():
            if kind in ("in_list", "bloom_join", "temporal_join"):
                col, typ = {
                    "in_list": ("o_orderdate", "date"),
                    "bloom_join": ("o_shipref", "long"),
                    "temporal_join": ("user_id", "long"),
                }[kind]
                conv = _date if typ == "date" else int
                frame = spark.createDataFrame(
                    [(p, conv(k)) for p in ps for k in point[kind][p]], f"rid long, {col} {typ}"
                )
                if kind == "temporal_join":
                    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
                    base = events.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
                else:
                    base = orders
                rows, cols = base.join(frame, col), base.columns
            elif kind == "band":
                frame = spark.createDataFrame(
                    [(p, *point[kind][p]) for p in ps], "rid long, lo long, hi long"
                )
                cond = (F.col("o_orderkey") >= F.col("lo")) & (F.col("o_orderkey") <= F.col("hi"))
                rows, cols = orders.join(F.broadcast(frame), cond), orders.columns
            else:
                if kind == "sql_join":
                    frame = spark.createDataFrame(
                        [(p, _date(point[kind][p][0]), point[kind][p][1]) for p in ps],
                        "rid long, o_orderdate date, c_mktsegment string",
                    )
                    on = ["o_orderdate", "c_mktsegment"]
                else:
                    frame = spark.createDataFrame([(p, point[kind][p]) for p in ps], "rid long, o_custkey long")
                    on = ["o_custkey"]
                cols = SQL_COLUMNS
                customer = spark.table("customer")
                rows = orders.join(customer, F.col("o_custkey") == F.col("c_custkey")).join(frame, on)
            parts.append(rows.select(F.lit(kind).alias("kind"), "rid", _row_hash(cols).alias("h")))
        tagged = parts[0]
        for part in parts[1:]:
            tagged = tagged.unionByName(part)
        got = {
            (r["kind"], int(r["rid"])): (int(r["n"]), int(r["h"]))
            for r in tagged.groupBy("kind", "rid").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect()
        }
        return {k: got.get(k, (0, None)) for k in keys}

    def finish_checks(self) -> list[str]:
        return []


class CrawlDedup:
    """Crawl batches through ``incremental_near_dup`` with a bloom
    file-index over the signature store, refreshed after every batch.
    The store and the oracle's store start as the seed's signature
    history."""

    name = "crawl_dedup"

    def __init__(self, spark, inputs: dict, run_dir: str):
        self.spark = spark
        self.docs = inputs["files"]["docs"]
        self.sig_path = os.path.join(run_dir, "signatures")
        self.oracle_path = os.path.join(run_dir, "signatures_oracle")
        self.handle = None
        self._expected: dict = {}
        gen.write_signature_history(spark, inputs, self.sig_path)
        shutil.copytree(self.sig_path, self.oracle_path)

    def _batch(self, b: int) -> DataFrame:
        return self.spark.read.parquet(self.docs[b])

    def store_files(self) -> list[str]:
        return sorted(
            os.path.join(self.sig_path, f) for f in os.listdir(self.sig_path) if f.endswith(".parquet")
        )

    def source_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.store_files())

    def index_totals(self) -> dict[str, int]:
        return {"sigs": len(self.store_files())}

    def pipeline_stores(self) -> list[str]:
        return [self.sig_path]

    def setup(self) -> None:
        self.handle = dedup.signature_store_index(self.spark, self.sig_path, "sigs")

    def op(self, b: int) -> Op:
        """Op ``b`` checks crawl batch ``b``."""

        def run():
            out = dedup.incremental_near_dup(
                self._batch(b), self.sig_path, update_store=True, store_index=self.handle
            )
            # keep the index fresh for the next batch: fold in this
            # batch's store append (the result is pinned to the store as
            # it was before the append, so refreshing first is safe)
            self.handle = dedup.signature_store_index(self.spark, self.sig_path, "sigs", handle=self.handle)
            return out

        return Op("batch", ("batch", b), run)

    def doc_bytes(self, b: int) -> int:
        return os.path.getsize(self.docs[b])

    def expected(self, keys: list) -> dict:
        """The same calls with ``store_index=None``, in the order the ops
        run, on a second store that holds the same history; each batch
        is checked once. The run asks for every op's answer while the
        untimed cold build runs, which also warms the band join before
        the timed batches."""
        for key in dict.fromkeys(keys):
            if key not in self._expected:
                res = dedup.incremental_near_dup(
                    self._batch(key[1]), self.oracle_path, update_store=True, store_index=None
                )
                self._expected[key] = fingerprint(res)
        return self._expected

    def finish_checks(self) -> list[str]:
        """Every store file must be indexed once the run ends."""
        registered = set(self.handle.filelist.filenames())
        missing = [f for f in self.store_files() if f not in registered]
        missing += self.handle.unindexed_files()
        return [f"unindexed store file {f}" for f in missing]

    def candidate_pairs(self, b: int, hist_files: list[str]) -> int:
        """Distinct (new, any) pairs sharing a band: the band join's
        candidates for batch ``b`` against ``hist_files``."""
        new = dedup.minhash_signatures_fast(self._batch(b), "text", "doc_id")
        old = self.spark.read.parquet(*hist_files).drop("__seq") if hist_files else None
        every = new if old is None else old.join(new.select("__id"), "__id", "left_anti").unionByName(new)
        ln = dedup.band_projection(new).alias("l")
        ra = dedup.band_projection(every).alias("r")
        cond = (F.col("l.band") == F.col("r.band")) & (F.col("l.sig") == F.col("r.sig")) & (F.col("l.__id") != F.col("r.__id"))
        pairs = ln.join(ra, cond).select(
            F.least("l.__id", "r.__id").alias("a"), F.greatest("l.__id", "r.__id").alias("b")
        )
        return pairs.distinct().count()


def make(name: str, spark, inputs: dict, data_dir: str, run_dir: str):
    if name == PointLookup.name:
        return PointLookup(spark, inputs, data_dir)
    if name == CrawlDedup.name:
        return CrawlDedup(spark, inputs, run_dir)
    raise ValueError(f"unknown workload {name!r}")


