"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry through Spark and its
``oracle_sql()`` twin through DuckDB on the same scale factor, then
compares row count, column names, and an order-insensitive canonical
multiset of values. Strict: floats must agree exactly (queries are
designed to emit rounded/decimal/integer values where engines could
drift).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import sys
import time

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, datetime.datetime):
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, int):
        return ("i", v)
    return ("s", str(v)) if v is not None else ("n",)


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(canon(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ".")
    import bench

    spark = bench.spark_session(8, driver_memory="6g", app_name="ariadne-correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = df.collect()
        except Exception as e:
            results[name] = f"ERROR spark: {type(e).__name__}: {e}"
            print(f"[{name}] ERROR spark: {e}")
            continue
        el = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            results[name] = f"rows-only ({len(rows)} rows, {el:.1f}s)"
            print(f"[{name}] rows-only: {len(rows)} rows in {el:.1f}s")
            continue
        try:
            # Fetch through Arrow, matching the driver's hash path: DuckDB
            # HUGEINT surfaces as decimal128 (not Python int) this way, so
            # an oracle twin missing a CAST(... AS BIGINT) fails here just
            # as it fails in the driver gate (r02 corpus_pack lesson).
            cur = con.execute(sql)
            tbl = cur.fetch_arrow_table()
            ocols = tbl.column_names
            orows = [
                tuple(col[i] for col in cols_py)
                for cols_py in [[c.to_pylist() for c in tbl.columns]]
                for i in range(tbl.num_rows)
            ]
        except Exception as e:
            results[name] = f"ERROR oracle: {e}"
            print(f"[{name}] ERROR oracle: {e}")
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"columns {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"count {len(rows)} != {len(orows)}")
        if not problems:
            ms, oms = rows_multiset(cols, [tuple(r) for r in rows]), rows_multiset(ocols, orows)
            if ms != oms:
                diff_a = {k: c for k, c in ms.items() if oms.get(k) != c}
                diff_b = {k: c for k, c in oms.items() if ms.get(k) != c}
                problems.append(
                    f"values differ: {len(diff_a)}/{len(ms)} spark-side, sample spark={list(diff_a)[:2]} oracle={list(diff_b)[:2]}"
                )
        if problems:
            results[name] = "FAIL: " + "; ".join(problems)
            print(f"[{name}] FAIL ({el:.1f}s): " + "; ".join(p[:400] for p in problems))
        else:
            results[name] = f"PASS ({len(rows)} rows, {el:.1f}s)"
            print(f"[{name}] PASS: {len(rows)} rows in {el:.1f}s")

    fails = [n for n, r in results.items() if r.startswith(("FAIL", "ERROR"))]
    print(f"\n== {len(results) - len(fails)}/{len(results)} ok; failures: {fails}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
