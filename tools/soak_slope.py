"""Slope probe for the three history-proportional incrementals
(r08 verdict #4): incremental near-dup, incremental substring dedup,
and the bloom-file-indexed URL ledger. Runs ONLY those probes (the
full matrix lives in tools/soak.py) across a ladder of replication
factors and prints one JSON line per factor, separating

  * one-time HISTORY costs (signature store build, window-count
    ingest, ledger index build) — these legitimately grow with N and
    are paid once per corpus, and
  * per-BATCH costs (the steady-state crawl-loop path) — the claim
    under test is O(batch + colliding history): with a constant-size
    batch, `*_batch_sec` must stay near-flat as N doubles. A
    superlinear batch slope is the earliest warning the 100 TB story
    has.

Batch semantics match tools/soak.py: the near-dup/substring batch is
one replica (constant dn docs, maximally colliding with history);
the URL batch is a fixed 400-key mix (200 seen / 200 novel), so its
probe cost is the purest flatness signal.

Usage: python tools/soak_slope.py [factor ...]   (default: 8 16 32 64)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

WORK = "/tmp/ariadne_slope"


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [8, 16, 32, 64]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )

    from pyspark.sql import functions as F

    from bench import spark_session

    spark = spark_session(16, app_name="ariadne-slope")
    # the 32 MiB bloom cost floor is a production heuristic (probing
    # costs more than scanning a tiny ledger); disable it so the toy
    # ledgers exercise the prune path itself (same as tools/soak.py)
    spark.conf.set("spark.ariadne.minBloomPruneBytes", "0")

    from ariadne_spark.operators.dedup import (
        _prune_snapshot_with_index,
        _snapshot_files,
        band_projection,
        incremental_near_dup,
        incremental_substring_dedup,
        minhash_signatures_fast,
        signature_store_compact,
        signature_store_index,
        signature_store_write,
    )
    from ariadne_spark.streaming.maintenance import (
        url_ledger_compact,
        url_ledger_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dn = docs.count()
    dspan = docs.agg(F.max("doc_id")).collect()[0][0] + 1

    for n_rep in factors:
        shutil.rmtree(WORK, ignore_errors=True)
        spark.conf.set("spark.ariadne.storagePath", f"{WORK}/store")
        row: dict = {"factor": n_rep, "history_docs": (n_rep - 1) * dn,
                     "batch_docs": dn}

        drep = None
        for i in range(n_rep):
            part = docs.select(
                (F.col("doc_id") + i * dspan).alias("doc_id"), "text"
            )
            drep = part if drep is None else drep.unionByName(part)
        # materialize the replicated corpus (same as tools/soak.py):
        # without the cache every probe re-evaluates the N-way union,
        # and the measured "batch" cost would grow with N for harness
        # reasons, hiding the operator's own slope
        drep = drep.repartition(16).cache()
        drep.count()
        hist = drep.where(F.col("doc_id") < (n_rep - 1) * dspan)
        newb = drep.where(F.col("doc_id") >= (n_rep - 1) * dspan)

        # near-dup: history store build vs batch probe
        store = f"{WORK}/sigstore"
        t0 = time.time()
        signature_store_write(
            minhash_signatures_fast(hist, "text", "doc_id"),
            store,
            mode="overwrite",
        )
        row["neardup_history_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        row["neardup_pairs"] = incremental_near_dup(
            newb, store, threshold=0.8, update_store=False
        ).count()
        row["neardup_batch_sec"] = round(time.time() - t0, 2)
        # the replica batch collides with EVERY replica (worst case:
        # colliding history == all history), so its cost legitimately
        # grows with N. The contract is O(batch + COLLIDING history):
        # a novel batch (unique hex-word docs, zero shingle overlap
        # with the corpus) against the same history must stay flat.
        novel = spark.range(dn).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.md5(F.concat(F.col("id").cast("string"), F.lit(f"-{j}")))
                    for j in range(30)
                ],
            ).alias("text"),
        )
        t0 = time.time()
        row["neardup_novel_pairs"] = incremental_near_dup(
            novel, store, threshold=0.8, update_store=False
        ).count()
        row["neardup_novel_batch_sec"] = round(time.time() - t0, 2)
        # r09: band-key bloom file-index over the signature store —
        # the novel batch's history read must prune to ~0 files (flat
        # regardless of N), and the colliding batch must return the
        # exact same pair count as the unindexed path
        t0 = time.time()
        sidx = signature_store_index(spark, store, f"slope_sig_idx_{n_rep}")
        row["sigidx_build_sec"] = round(time.time() - t0, 2)
        sfiles = _snapshot_files(spark, store, "signature")
        nprobe = (
            band_projection(minhash_signatures_fast(novel, "text", "doc_id"))
            .select(F.col("sig").alias("band_key"))
            .distinct()
        )
        row["sigidx_novel_files_read"] = len(
            _prune_snapshot_with_index(
                spark, sfiles, sidx, nprobe, column="band_key"
            )
        )
        row["sigidx_store_files"] = len(sfiles)
        t0 = time.time()
        row["sigidx_novel_pairs"] = incremental_near_dup(
            novel, store, threshold=0.8, update_store=False, store_index=sidx
        ).count()
        row["sigidx_novel_batch_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        ipairs = incremental_near_dup(
            newb, store, threshold=0.8, update_store=False, store_index=sidx
        ).count()
        row["sigidx_collide_batch_sec"] = round(time.time() - t0, 2)
        row["sigidx_collide_parity"] = ipairs == row["neardup_pairs"]

        # substring: window-count ingest vs batch probe
        wstore = f"{WORK}/winstore"
        t0 = time.time()
        incremental_substring_dedup(hist, wstore, k=8)
        row["substring_history_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        isd = incremental_substring_dedup(
            newb, wstore, k=8, update_store=False
        )
        uncov = isd.where(
            (F.col("n_tokens") >= 8)
            & (F.col("n_dup_tokens") != F.col("n_tokens"))
        ).count()
        row["substring_batch_sec"] = round(time.time() - t0, 2)
        row["substring_full_coverage"] = uncov == 0

        # URL ledger: index build (once per corpus) vs fixed-batch probe
        led_dir = f"{WORK}/url_ledger"
        keys_nx = drep.select(
            F.concat(
                F.lit("http://ledger"),
                F.expr("doc_id div 1000").cast("string"),
                F.lit(".com/k/"),
                F.col("doc_id").cast("string"),
            ).alias("url_key"),
            F.expr(f"doc_id div {dspan}").alias("__rep"),
        )
        for i in range(n_rep):
            keys_nx.where(F.col("__rep") == i).select("url_key").coalesce(
                1
            ).write.mode("append").parquet(led_dir)
        t0 = time.time()
        lidx = url_ledger_index(spark, led_dir, "slope_url_ledger")
        row["ledger_index_sec"] = round(time.time() - t0, 2)
        files = _snapshot_files(spark, led_dir, "url ledger")
        batch = spark.range(400).select(
            F.when(
                F.col("id") < 200,
                F.concat(
                    F.lit("http://ledger0.com/k/"), F.col("id").cast("string")
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://novel.com/k/"), F.col("id").cast("string")
                )
            )
            .alias("url_key")
        )
        t0 = time.time()
        pruned = _prune_snapshot_with_index(
            spark,
            files,
            lidx,
            batch.select("url_key").distinct(),
            column="url_key",
        )
        seen = spark.read.parquet(*pruned)
        survivors = batch.join(seen, "url_key", "left_anti").count()
        row["ledger_probe_sec"] = round(time.time() - t0, 2)
        row["ledger_files"] = len(files)
        row["ledger_files_read"] = len(pruned)
        row["ledger_survivors_exact"] = survivors == 200

        # r10 (r09 verdict #4): compact BOTH stores mid-ladder, refresh
        # their indexes (the r09 dead-file cleanup must drop every
        # replaced file), and verify files-read counts and answers stay
        # exact POST-compaction. rows_per_file is sized to leave ~4
        # files so pruning still has something to prune.
        hist_rows = (n_rep - 1) * dn
        t0 = time.time()
        signature_store_compact(
            spark, store, rows_per_file=max(1, hist_rows // 4)
        )
        row["sig_compact_sec"] = round(time.time() - t0, 2)
        sidx = signature_store_index(spark, store, f"slope_sig_idx_{n_rep}")
        sfiles = _snapshot_files(spark, store, "signature")
        row["sigidx_files_post_compact"] = len(sfiles)
        row["sigidx_indexed_post_compact"] = len(sidx.filelist.filenames())
        row["sigidx_novel_files_read_post_compact"] = len(
            _prune_snapshot_with_index(
                spark, sfiles, sidx, nprobe, column="band_key"
            )
        )
        row["sigidx_novel_pairs_post_compact"] = incremental_near_dup(
            novel, store, threshold=0.8, update_store=False, store_index=sidx
        ).count()
        row["sigidx_collide_parity_post_compact"] = (
            incremental_near_dup(
                newb, store, threshold=0.8, update_store=False,
                store_index=sidx,
            ).count()
            == row["neardup_pairs"]
        )

        t0 = time.time()
        url_ledger_compact(
            spark, led_dir, rows_per_file=max(1, (n_rep * dn) // 4)
        )
        row["ledger_compact_sec"] = round(time.time() - t0, 2)
        lidx = url_ledger_index(spark, led_dir, "slope_url_ledger")
        files = _snapshot_files(spark, led_dir, "url ledger")
        row["ledger_files_post_compact"] = len(files)
        pruned = _prune_snapshot_with_index(
            spark,
            files,
            lidx,
            batch.select("url_key").distinct(),
            column="url_key",
        )
        row["ledger_files_read_post_compact"] = len(pruned)
        seen = spark.read.parquet(*pruned)
        row["ledger_survivors_exact_post_compact"] = (
            batch.join(seen, "url_key", "left_anti").count() == 200
        )

        print(json.dumps(row), flush=True)
        drep.unpersist()

    spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
