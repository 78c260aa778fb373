"""Scale soak: replicate sf0.1 NX with disjoint key spaces, then
exercise the scale-critical paths and print one JSON line per probe.

Scenarios
  1. range-clustered lineitem index build + point-band locate
     (bytes-pruned %, row parity vs the unpruned filter)
  2. bloom join driven by a DataFrame key source ABOVE the 32 MiB
     cost floor — asserts the probe actually ran (no skip recorded)
     and pruned nothing incorrectly
  3. connected-components dedup clustering over the replicated corpus
     (texts duplicate across replicas, so components must merge
     transitively back to the 1X count)
  4. incremental near-dup against NX history (directed band join)
  4b. engine x pipeline: band-key bloom file-index over the signature
     store — a novel batch prunes the history read to ~0 files; the
     replica batch returns the exact unindexed pair count
  5. line dedup + one-pass profile over the NX corpus
  6. OR-amplified embedding near-dup on the NX mass-duplicated
     vector corpus (complete clone/planted family recall required)
  7. corpus-bigram LM scoring over the NX corpus (the bigram-key
     join's corpus-count side grows with vocab coverage, not rows)
  8. exact substring dedup over the NX corpus (100% duplicated text:
     every >=k-token doc must come back fully covered) + SemDeDup
     keep-set exactness on the scenario-6 vector corpus (6b)
  8b. incremental substring dedup: the last replica as a crawl batch
     against the first N-1 replicas' persisted window counts —
     complete coverage required, batch cost vs full-corpus cost
  8c. engine x pipeline: bloom file-index over the window store; a
     novel-content batch must prune the indexed history read entirely
     and still come back clean
  15. engine x pipeline: URL seen-key ledger behind a bloom
     file-index at NX — a small mixed batch must read ~1 ledger file
     with the exact survivor count (fpr sized to batch cardinality)

Usage: python tools/soak.py [N] (default 8; local[16])
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

WORK = "/tmp/ariadne_soak"


def main() -> None:
    n_rep = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bench import spark_session

    shutil.rmtree(WORK, ignore_errors=True)
    spark = spark_session(16, app_name="ariadne-soak")
    spark.conf.set("spark.ariadne.storagePath", f"{WORK}/store")

    from ariadne_spark.index import Index
    from ariadne_spark.operators.layout import cluster_files

    def emit(**kv):
        print(json.dumps(kv), flush=True)

    # ---- replicate lineitem with disjoint l_orderkey spaces --------
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    span = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    rep = None
    for i in range(n_rep):
        part = li.select(
            (F.col("l_orderkey") + i * span).alias("l_orderkey"),
            (F.col("l_suppkey") + i * 100000).alias("l_suppkey"),
            "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate",
        )
        rep = part if rep is None else rep.unionByName(part)

    t0 = time.time()
    files = cluster_files(
        rep, f"{WORK}/lineitem", "l_orderkey", n_files=8 * n_rep
    )
    emit(stage="write_clustered", sec=round(time.time() - t0, 2),
         files=len(files), rows=n_rep * li.count())

    # ---- scenario 1+2: two-type index over the clustered files ----
    df_schema = spark.read.parquet(files[0]).schema
    idx = Index.for_name(
        "soak_li", schema=df_schema, format="parquet", spark=spark
    )
    idx.add_range_index("l_orderkey")
    idx.add_bloom_index("l_suppkey", fpr=0.01)
    idx.add_files(files)
    t0 = time.time()
    idx.update()
    emit(stage="index_build", sec=round(time.time() - t0, 2),
         indexed_bytes=idx._index_totals()[1])

    # range point-band locate
    t0 = time.time()
    band = idx.locate_files({"l_orderkey": list(range(1000, 1200))})
    total_bytes = sum(os.path.getsize(f) for f in files)
    band_bytes = sum(os.path.getsize(f) for f in band)
    full = spark.read.parquet(*files).where(
        F.col("l_orderkey").between(1000, 1199)
    )
    pruned = idx.join(
        spark.range(1000, 1200).select(F.col("id").alias("l_orderkey")),
        on=["l_orderkey"],
    )
    parity = pruned.count() == full.count()
    emit(stage="range_locate", sec=round(time.time() - t0, 2),
         files=len(band), of=len(files),
         bytes_pruned_pct=round(100 * (1 - band_bytes / total_bytes), 1),
         row_parity=parity)

    # bloom join above the floor: 200k-key DataFrame source
    keys = spark.range(0, 200_000).select(
        (F.col("id") % (100000 * n_rep)).alias("l_suppkey")
    ).distinct()
    t0 = time.time()
    got = idx.join(keys, on=["l_suppkey"]).count()
    stats = idx._last_locate_stats.per_column
    skipped = any(v.get("skipped") for v in stats.values())
    emit(stage="bloom_join_200k_keys", sec=round(time.time() - t0, 2),
         rows=got, probe_skipped=skipped,
         above_floor=idx._index_totals()[1] > 32 * 1024 * 1024)

    # ---- scenario 3: CC dedup clustering at NX corpus -------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dspan = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    dn = docs.count()
    drep = None
    for i in range(n_rep):
        p = docs.select(
            (F.col("doc_id") + i * dspan).alias("doc_id"), "text"
        )
        drep = p if drep is None else drep.unionByName(p)
    drep = drep.repartition(16).cache()
    drep.count()

    from ariadne_spark.operators.dedup import _gram_set_key_udf
    from ariadne_spark.operators.graph import connected_components

    t0 = time.time()
    tkey = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    gkey = _gram_set_key_udf(3)(F.col("text"))
    keyed = drep.select("doc_id", tkey.alias("__tk"), gkey.alias("__gk"))
    mins = keyed.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("__tk")).alias("__tm"),
        F.min("doc_id").over(Window.partitionBy("__gk")).alias("__gm"),
    )
    pairs = mins.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array("__tm", "__gm")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    comp = connected_components(
        pairs, nodes=drep.select("doc_id"), node_col="doc_id"
    )
    n_nodes = comp.count()
    n_comp = comp.select("component").distinct().count()
    cc_sec = round(time.time() - t0, 2)
    # replicas duplicate the TEXTS (ids shift, content doesn't), so
    # every replica of a text group must merge transitively into ONE
    # component: the clustered count at NX must equal the 1X count —
    # the strongest end-to-end check of cross-relation merging.
    base_comp = None
    one = docs.select("doc_id", "text")
    keyed1 = one.select("doc_id", tkey.alias("__tk"), gkey.alias("__gk"))
    mins1 = keyed1.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("__tk")).alias("__tm"),
        F.min("doc_id").over(Window.partitionBy("__gk")).alias("__gm"),
    )
    pairs1 = mins1.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array("__tm", "__gm")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    base_comp = (
        connected_components(pairs1, nodes=one.select("doc_id"), node_col="doc_id")
        .select("component").distinct().count()
    )
    emit(stage="cc_cluster", sec=cc_sec, docs=n_nodes,
         components=n_comp, expected=base_comp,
         cross_replica_merge_exact=n_comp == base_comp)

    # ---- scenario 3b: footer-stats vs scan RANGE build ------------
    t0 = time.time()
    rs = Index.for_name("soak_r_scan", schema=df_schema, format="parquet", spark=spark)
    rs.add_range_index("l_orderkey").add_files(files).update()
    scan_sec = round(time.time() - t0, 2)
    t0 = time.time()
    rf = Index.for_name("soak_r_foot", schema=df_schema, format="parquet", spark=spark)
    rf.add_range_index("l_orderkey").add_files(files).update(footer_stats=True)
    foot_sec = round(time.time() - t0, 2)
    same = sorted(
        rs.locate_files({"l_orderkey": list(range(1000, 1200))})
    ) == sorted(rf.locate_files({"l_orderkey": list(range(1000, 1200))}))
    emit(stage="footer_stats_build", scan_sec=scan_sec, footer_sec=foot_sec,
         files=len(files), locate_parity=same)

    # ---- scenario 4: incremental near-dup against NX history ------
    from ariadne_spark.operators.dedup import (
        incremental_near_dup,
        minhash_signatures_fast,
        signature_store_write,
    )

    store = f"{WORK}/sigstore"
    hist = drep.where(F.col("doc_id") < (n_rep - 1) * dspan)
    newb = drep.where(F.col("doc_id") >= (n_rep - 1) * dspan)
    t0 = time.time()
    signature_store_write(
        minhash_signatures_fast(hist, "text", "doc_id"), store, mode="overwrite"
    )
    hist_sec = round(time.time() - t0, 2)
    t0 = time.time()
    inc = incremental_near_dup(newb, store, threshold=0.8, update_store=False)
    # force execution BEFORE stamping batch_sec — kwargs evaluate in
    # order, so `pairs=inc.count()` inside emit() ran the job AFTER
    # batch_sec was computed; the old number timed only lazy plan
    # construction (found by tools/soak_slope.py disagreeing 1.5 vs
    # 9.8 s at 32x)
    n_pairs = inc.count()
    emit(stage="incremental_near_dup", history_docs=(n_rep - 1) * dn,
         batch_docs=dn, store_build_sec=hist_sec,
         batch_sec=round(time.time() - t0, 2), pairs=n_pairs)

    # ---- scenario 4b: signature store behind the band-key file index
    # (r09): a fully NOVEL batch must prune the history read to ~0
    # files while the replica batch returns the exact same pair count
    from ariadne_spark.operators.dedup import (
        _prune_snapshot_with_index,
        _snapshot_files,
        band_projection,
        signature_store_index,
    )

    # the 32 MiB probe-cost floor correctly skips frame probes on toy
    # stores (scanning a handful of files is cheaper than probing);
    # the engine x pipeline scenarios (4b, 8c, 15) exist to exercise
    # the prune path end-to-end, so disable it from here on (scenario
    # 2 above keeps the REAL floor to prove the probe fires over it)
    spark.conf.set("spark.ariadne.minBloomPruneBytes", "0")
    t0 = time.time()
    sidx = signature_store_index(spark, store, "soak_sig_idx")
    sidx_sec = round(time.time() - t0, 2)
    sfiles = _snapshot_files(spark, store, "signature")
    novel = spark.range(dn).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(f"-{j}")))
                for j in range(30)
            ],
        ).alias("text"),
    )
    nprobe = (
        band_projection(minhash_signatures_fast(novel, "text", "doc_id"))
        .select(F.col("sig").alias("band_key"))
        .distinct()
    )
    novel_read = len(_prune_snapshot_with_index(
        spark, sfiles, sidx, nprobe, column="band_key"))
    t0 = time.time()
    ipairs = incremental_near_dup(
        newb, store, threshold=0.8, update_store=False, store_index=sidx
    ).count()
    emit(stage="incremental_near_dup_indexed", store_files=len(sfiles),
         novel_files_read=novel_read, index_build_sec=sidx_sec,
         collide_batch_sec=round(time.time() - t0, 2),
         pairs=ipairs, parity=ipairs == n_pairs)
    assert ipairs == n_pairs, (ipairs, n_pairs)
    assert novel_read <= max(2, len(sfiles) // 4), (novel_read, len(sfiles))

    # ---- scenario 5: line dedup + profile over the NX corpus ------
    from ariadne_spark.operators.corpus import line_dedup
    from ariadne_spark.operators.profile import profile_table

    ml = drep.withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n")
    )
    t0 = time.time()
    kept = line_dedup(ml, "text", "doc_id").count()
    emit(stage="line_dedup", sec=round(time.time() - t0, 2),
         docs_in=n_rep * dn, docs_kept=kept)

    t0 = time.time()
    prof = profile_table(spark.read.parquet(*files))
    nprof = prof.count()
    emit(stage="profile_one_pass", sec=round(time.time() - t0, 2),
         columns=nprof, rows=n_rep * li.count())

    # ---- scenario 6: OR-amplified embedding near-dup at NX --------
    # Replicate embeddings NX with disjoint id spaces (the vectors
    # themselves are IDENTICAL across replicas — a mass-duplication
    # stress: every vector forms an N-clone family whose C(N,2)
    # cross-replica pairs all sit at cosine 1.0) and plant one
    # near-identical partner per 7th vector in every replica. The r04
    # 3-band candidate path must recover the ENTIRE clone/planted
    # family pair set — banded buckets with the cap machinery, never
    # all-pairs — in time ~linear in N.
    from ariadne_spark.operators.similarity import embedding_near_dup

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    base_ids = [r[0] for r in emb.select("vec_id").collect()]
    espan = 14_000_000  # divisible by 7: %7 selection uniform across replicas
    erep = None
    for i in range(n_rep):
        r = emb.select(
            (F.col("vec_id") + i * espan).alias("vec_id"), "embedding"
        )
        erep = r if erep is None else erep.unionByName(r)
    planted = erep.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("embedding"),
    )
    corpus = erep.unionByName(planted)
    corpus.write.mode("overwrite").parquet(f"{WORK}/emb")
    corpus = spark.read.parquet(f"{WORK}/emb")
    t0 = time.time()
    pairs = embedding_near_dup(corpus, threshold=0.999).select("id_a", "id_b")
    got = {(r[0], r[1]) for r in pairs.collect()}
    sec = round(time.time() - t0, 2)
    # combinatorial truth for each base id's clone family: originals
    # in every replica, plus the 1.01-perturbed partner per replica
    # when id % 7 == 0 (all mutual cosines >= 0.999998)
    expected = set()
    for v in base_ids:
        fam = [v + i * espan for i in range(n_rep)]
        if v % 7 == 0:
            fam += [v + i * espan + 1_000_000 for i in range(n_rep)]
        fam.sort()
        expected.update(
            (a, b) for ai, a in enumerate(fam) for b in fam[ai + 1:]
        )
    missing = len(expected - got)
    emit(stage="embedding_near_dup_massdup", vectors=corpus.count(),
         sec=sec, family_pairs=len(expected), found=len(expected & got),
         missing=missing, complete_recall=missing == 0,
         extra_nonfamily_pairs=len(got - expected))

    # ---- scenario 6b: SemDeDup keep-set on the same mass-dup corpus
    # Every base id's clone/planted family must collapse to EXACTLY
    # one component (distinct base vectors are near-orthogonal), so
    # the keep-set size at NX must equal the 1X corpus size — the
    # semantic analogue of scenario 3's cross-replica merge check.
    from ariadne_spark.operators.similarity import semantic_dedup

    t0 = time.time()
    sem = semantic_dedup(corpus, threshold=0.999).cache()
    n_ids = sem.count()
    n_kept = sem.where("is_kept").count()
    emit(stage="semantic_dedup_massdup", vectors=n_ids,
         sec=round(time.time() - t0, 2), kept=n_kept,
         expected_kept=len(base_ids),
         keepset_exact=n_kept == len(base_ids))
    sem.unpersist()

    # ---- scenario 7: bigram LM scoring at NX ----------------------
    from ariadne_spark.operators.text import bigram_lm_stats

    t0 = time.time()
    lm = bigram_lm_stats(drep, "text", "doc_id")
    n_lm = lm.count()
    emit(stage="bigram_lm", sec=round(time.time() - t0, 2),
         docs=n_rep * dn, scored=n_lm)

    # ---- scenario 8: exact substring dedup at NX ------------------
    # The replicated corpus is 100% duplicated text: every >=k-token
    # document's windows all occur N times, so EVERY such doc must
    # come back fully covered (n_dup_tokens == n_tokens, empty
    # cleaned_text) — complete span recall under maximal duplication,
    # with the digest shuffle N× the 1X volume.
    from ariadne_spark.operators.dedup import substring_dedup
    from ariadne_spark.operators.text import token_count

    t0 = time.time()
    sd = substring_dedup(drep, k=8).cache()
    n_docs = sd.count()
    uncovered = sd.where(
        (F.col("n_tokens") >= 8) & (F.col("n_dup_tokens") != F.col("n_tokens"))
    ).count()
    emit(stage="substring_dedup_massdup", docs=n_docs,
         sec=round(time.time() - t0, 2),
         uncovered_long_docs=uncovered, full_coverage=uncovered == 0)
    sd.unpersist()

    # ---- scenario 8b: incremental substring dedup vs NX history ----
    # The last replica arrives as a crawl batch against the first
    # N-1 replicas' persisted window counts: every >=k-token batch doc
    # duplicates history exactly, so all must come back fully covered.
    # The batch path must stay O(batch + colliding history) — compare
    # batch_sec against scenario 8's full-corpus sec.
    from ariadne_spark.operators.dedup import incremental_substring_dedup

    wstore = f"{WORK}/winstore"
    t0 = time.time()
    incremental_substring_dedup(
        drep.where(F.col("doc_id") < (n_rep - 1) * dspan), wstore, k=8
    )
    ingest_sec = round(time.time() - t0, 2)
    t0 = time.time()
    isd = incremental_substring_dedup(
        drep.where(F.col("doc_id") >= (n_rep - 1) * dspan),
        wstore, k=8, update_store=False,
    )
    n_batch = isd.count()
    inc_uncov = isd.where(
        (F.col("n_tokens") >= 8) & (F.col("n_dup_tokens") != F.col("n_tokens"))
    ).count()
    emit(stage="incremental_substring_dedup", history_docs=(n_rep - 1) * dn,
         batch_docs=n_batch, ingest_sec=ingest_sec,
         batch_sec=round(time.time() - t0, 2),
         uncovered_long_docs=inc_uncov, full_coverage=inc_uncov == 0)

    # ---- scenario 8c: store-index composition -----------------------
    # Bloom file-index over the window store; a NOVEL-content batch
    # (its digests in no history file) must prune the whole indexed
    # history read while producing the identical (clean) result.
    from ariadne_spark.operators.dedup import (
        _prune_snapshot_with_index,
        _snapshot_files,
        _window_rows,
        window_store_index,
    )

    t0 = time.time()
    widx = window_store_index(spark, wstore, "soak_winstore_idx")
    idx_sec = round(time.time() - t0, 2)
    novel = spark.range(1).select(
        F.lit(99_000_000).alias("doc_id"),
        F.lit(" ".join(f"novelword{i}" for i in range(32))).alias("text"),
    )
    keys = (
        _window_rows(novel, 8, "text", "doc_id")
        .groupBy("__wk").count().select("__wk")
    )
    snap = _snapshot_files(spark, wstore, "window")
    t0 = time.time()
    kept_files = _prune_snapshot_with_index(spark, snap, widx, keys)
    out = incremental_substring_dedup(
        novel, wstore, k=8, update_store=False, store_index=widx
    ).collect()[0]
    emit(stage="winstore_index_prune", index_build_sec=idx_sec,
         store_files=len(snap), files_after_prune=len(kept_files),
         batch_sec=round(time.time() - t0, 2),
         novel_doc_clean=out["n_dup_tokens"] == 0)

    # ---- 9. concurrent SQL pruning (r06): 8 threads hammer one
    # session with a mix of pruned point queries, full scans, and
    # per-reference UNION queries; every answer must be exact (the
    # old global view swap over-pruned racing queries)
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from ariadne_spark.sql import surface

    surface.register_views(spark, ["soak_li"])
    full_n = rep.count()
    k0 = int(span // 2)
    point_n = rep.where(
        (F.col("l_orderkey") >= k0) & (F.col("l_orderkey") < k0 + 500)
    ).count()
    union_n = rep.where(F.col("l_orderkey") < 1000).count() + rep.where(
        F.col("l_orderkey") >= (n_rep - 1) * span
    ).count()
    queries = [
        ("full", "SELECT count(*) AS n FROM soak_li", full_n),
        (
            "point",
            f"SELECT count(*) AS n FROM soak_li WHERE l_orderkey >= {k0} "
            f"AND l_orderkey < {k0 + 500}",
            point_n,
        ),
        (
            "union",
            "SELECT count(*) AS n FROM ("
            "SELECT l_orderkey FROM soak_li WHERE l_orderkey < 1000 "
            "UNION ALL SELECT l_orderkey FROM soak_li "
            f"WHERE l_orderkey >= {(n_rep - 1) * span})",
            union_n,
        ),
    ]
    barrier = threading.Barrier(8)

    def hammer(i):
        barrier.wait()
        bad = 0
        for r in range(6):
            tag, q, want = queries[(i + r) % len(queries)]
            got = surface.sql(q, spark).collect()[0]["n"]
            if got != want:
                bad += 1
        return bad

    t0 = time.time()
    with ThreadPoolExecutor(8) as ex:
        wrong = sum(ex.map(hammer, range(8)))
    emit(stage="concurrent_sql", threads=8, calls=48,
         wrong_answers=wrong, sec=round(time.time() - t0, 2))
    assert wrong == 0, f"{wrong} racing queries returned wrong answers"

    # ---- 10. PQ ANN at NX (r06): codebooks train on the 1X corpus,
    # codes persist for the NX corpus; ADC+exact-rerank must place
    # every original vector at rank 1 for its replicated clones'
    # queries, and the persisted code column must be a small fraction
    # of the raw vector column on disk (the 100 TB point of PQ).
    from ariadne_spark.operators.quantization import (
        pq_ann_topk_rerank,
        pq_encode,
        pq_train,
    )

    emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    reps = [
        emb1.select(
            (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
            "embedding", "label",
        )
        for i in range(n_rep)
    ]
    embN = reps[0]
    for r in reps[1:]:
        embN = embN.unionByName(r)
    t0 = time.time()
    books = pq_train(emb1, m=8, k=16, iters=2)
    train_sec = round(time.time() - t0, 2)
    codes_dir = f"{WORK}/pq_codes"
    vecs_dir = f"{WORK}/pq_vecs"
    t0 = time.time()
    pq_encode(embN, books).write.mode("overwrite").parquet(codes_dir)
    encode_sec = round(time.time() - t0, 2)
    embN.select("vec_id", "embedding").write.mode("overwrite").parquet(vecs_dir)

    def _du(d):
        return sum(
            os.path.getsize(p) for p in glob.glob(f"{d}/*.parquet")
        )

    codes_df = spark.read.parquet(codes_dir)
    q10 = emb1.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    rr = pq_ann_topk_rerank(
        codes_df, embN, q10, books, k=n_rep, shortlist=max(100, 2 * n_rep)
    ).collect()
    ann_sec = round(time.time() - t0, 2)
    # every replica of the query vector is an exact clone: the full
    # top-n_rep set must be exactly the clone family
    bad = sum(
        1 for r in rr if r["vec_id"] % 1_000_000 != r["query_id"]
    )
    emit(stage="pq_ann_nx", n_vectors=n_rep * 500, train_sec=train_sec,
         encode_sec=encode_sec, ann_sec=ann_sec,
         clone_family_misses=bad,
         code_bytes=_du(codes_dir), raw_bytes=_du(vecs_dir),
         compression=round(_du(vecs_dir) / max(_du(codes_dir), 1), 1))
    assert bad == 0, f"{bad} non-clone rows in the clone-family top-k"

    # ---- 11. hashed-feature classifier at NX (r06): the model trains
    # on the 1X corpus; predictions over the NX corpus must agree with
    # the 1X predictions replica-by-replica (same text ⇒ same class —
    # the decision rule is a pure function of content)
    from ariadne_spark.operators.classifier import mass_classify, mass_train

    docs1 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    model = mass_train(docs1, label_col="lang", text_col="text")
    t0 = time.time()
    predN = mass_classify(
        drep.select("doc_id", "text"), model, label_col="lang"
    )
    base_pred = {
        r["doc_id"]: r["pred_label"]
        for r in mass_classify(docs1, model, label_col="lang").collect()
    }
    mismatch = sum(
        1
        for r in predN.collect()
        if base_pred[r["doc_id"] % dspan] != r["pred_label"]
    )
    emit(stage="mass_classify_nx", docs=n_rep * dn,
         sec=round(time.time() - t0, 2), replica_mismatches=mismatch)
    assert mismatch == 0, f"{mismatch} replica predictions diverged"

    # ---- 12. r07 crawl primitives at NX -----------------------------
    # 12a: per-domain quota over the NX corpus. URLs synthesize ~40
    # registerable domains (two-level-suffix and .com shapes, www and
    # subdomain prefixes) from the ORIGINAL doc identity, so every
    # domain's population grows N× while the quota stays fixed — the
    # WindowGroupLimit pre-top must hold counts exactly at quota.
    from ariadne_spark.operators.corpus import domain_quota, url_dedup

    orig = F.col("doc_id") % dspan
    soak_url = F.concat(
        F.when(orig % 3 == 0, F.lit("https://www.")).otherwise(
            F.lit("http://sub.")
        ),
        F.concat(F.lit("src"), (orig % 20).cast("string"), F.lit("-news")),
        F.when(orig % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.lit("/a/"),
        F.col("doc_id").cast("string"),
    )
    urls = drep.select("doc_id", soak_url.alias("url"))
    t0 = time.time()
    dq = domain_quota(urls, "url", n_per_domain=50)
    counts = {
        r["domain"]: r["c"]
        for r in dq.groupBy("domain").agg(F.count("*").alias("c")).collect()
    }
    dq_sec = round(time.time() - t0, 2)
    over = {d: c for d, c in counts.items() if c != 50}
    emit(stage="domain_quota_nx", docs=n_rep * dn, domains=len(counts),
         sec=dq_sec, off_quota_domains=len(over))
    assert not over, f"domains off quota: {over}"

    # 12b: URL dedup at NX — replicas collide onto the same canonical
    # key (doc_id % 250 patterns repeat because dspan % 250 == 0), so
    # the global survivor per key must be the 1X survivor.
    k = (F.col("doc_id") % 250).cast("string")
    dup_url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("http://News.Example")).otherwise(
            F.lit("http://news.example")
        ),
        k, F.lit(".com/item/"), k,
        F.when(F.col("doc_id") % 2 == 1, F.lit("/")).otherwise(F.lit("")),
    )
    t0 = time.time()
    survivors = url_dedup(
        drep.select("doc_id", dup_url.alias("url")), "url", "doc_id"
    ).collect()
    ud_sec = round(time.time() - t0, 2)
    stray = [r["doc_id"] for r in survivors if r["doc_id"] >= dspan]
    emit(stage="url_dedup_nx", docs=n_rep * dn, survivors=len(survivors),
         sec=ud_sec, non_1x_survivors=len(stray))
    assert dspan % 250 == 0, "survivor invariant needs dspan % 250 == 0"
    assert len(survivors) == 250 and not stray, (len(survivors), stray[:5])

    # 12c: portable simhash at NX — identical texts across replicas
    # mean every clone family contributes C(n_rep,2) hamming-0 pairs
    # and every 1X near-pair (a,b) expands to n_rep² replica combos:
    # the blocked result must hit that closed-form count EXACTLY
    # (this is the block-cap growth path: clone blocks scale with N).
    from ariadne_spark.operators.dedup import simhash_near_pairs, simhash_portable

    docs1x = drep.where(F.col("doc_id") < dspan)
    base_pairs = simhash_near_pairs(
        simhash_portable(docs1x, "text", "doc_id"), "doc_id", max_hamming=3
    ).count()
    t0 = time.time()
    nx_pairs = simhash_near_pairs(
        simhash_portable(drep, "text", "doc_id"), "doc_id", max_hamming=3
    ).count()
    sh_sec = round(time.time() - t0, 2)
    expected = base_pairs * n_rep * n_rep + dn * n_rep * (n_rep - 1) // 2
    emit(stage="simhash_portable_nx", docs=n_rep * dn, pairs=nx_pairs,
         expected=expected, base_pairs=base_pairs, sec=sh_sec)
    assert nx_pairs == expected, (nx_pairs, expected)

    # ---- scenario 13: r07 cleaning ops at NX ------------------------
    # 13a: C4 line filter + unicode normalization are per-row
    # projections, so replicas (identical text, shifted ids) must
    # produce EXACTLY n_rep copies of the 1X verdicts — and the wall
    # clock should scale like a scan, not a shuffle.
    from ariadne_spark.operators.text import c4_line_filter, normalize_text

    ml = drep.select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1.\n").alias("text"),
    )
    t0 = time.time()
    c4 = c4_line_filter(ml)
    nx_keeps = c4.where(F.col("keep")).count()
    c4_sec = round(time.time() - t0, 2)
    base_keeps = (
        c4_line_filter(
            ml.where(F.col("doc_id") < dspan)
        ).where(F.col("keep")).count()
    )
    emit(stage="c4_filter_nx", docs=n_rep * dn, keeps=nx_keeps,
         expected=base_keeps * n_rep, sec=c4_sec)
    assert nx_keeps == base_keeps * n_rep, (nx_keeps, base_keeps)

    t0 = time.time()
    norm = normalize_text(
        drep.select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" café  \n\n\n x")).alias("text"),
        )
    )
    nx_changed = norm.where(F.col("changed")).count()
    nm_sec = round(time.time() - t0, 2)
    emit(stage="normalize_nx", docs=n_rep * dn, changed=nx_changed,
         sec=nm_sec)
    assert nx_changed == n_rep * dn, nx_changed  # the salt fires everywhere

    # 13b: domain blocklist at NX — replica i's urls share the 1X
    # domain grid, so kept rows must be exactly n_rep x the 1X keeps.
    from ariadne_spark.operators.corpus import blocklist_filter

    # drep carries only (doc_id, text): derive the site grid from the
    # id (20 sites x 2 suffixes; dspan divides both moduli, so every
    # replica repeats the 1X domain pattern exactly)
    nx_urls = drep.select(
        "doc_id",
        F.concat(
            F.lit("http://sub.src"), (F.col("doc_id") % 20).cast("string"),
            F.lit("-news"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(".co.uk")).otherwise(
                F.lit(".com")
            ),
            F.lit("/a/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [("src3-news.com",), ("src7-news.co.uk",)], ["domain"]
    )
    t0 = time.time()
    nx_kept = blocklist_filter(nx_urls, bl).count()
    bl_sec = round(time.time() - t0, 2)
    base_kept = blocklist_filter(
        nx_urls.where(F.col("doc_id") < dspan), bl
    ).count()
    emit(stage="blocklist_nx", docs=n_rep * dn, kept=nx_kept,
         expected=base_kept * n_rep, sec=bl_sec)
    assert dspan % 20 == 0, "replica invariant needs dspan % 20 == 0"
    assert nx_kept == base_kept * n_rep, (nx_kept, base_kept)

    # ---- scenario 14: drift report at NX ----------------------------
    # Replication preserves PROPORTIONS: counts scale by n_rep but
    # every ppm share / delta / tv cell must be IDENTICAL to the 1X
    # report (integer DIV included) — the closed-form check that the
    # DECIMAL(38) share arithmetic survives 8x counts.
    from ariadne_spark.operators.corpus import drift_report

    key = (F.col("doc_id") % 20).cast("string")
    keyed = drep.select("doc_id", key.alias("source"),
                        F.lit("en").alias("lang"))
    ref_nx = keyed.where(F.col("doc_id") % 4 != 0)
    cur_nx = keyed.where(F.col("doc_id") % 5 == 0)
    t0 = time.time()
    nx = {
        (r["source"], r["lang"]): (
            r["share_ppm_ref"], r["share_ppm_cur"], r["delta_ppm"], r["tv_ppm"]
        )
        for r in drift_report(ref_nx, cur_nx).collect()
    }
    dr_sec = round(time.time() - t0, 2)
    one = keyed.where(F.col("doc_id") < dspan)
    base = {
        (r["source"], r["lang"]): (
            r["share_ppm_ref"], r["share_ppm_cur"], r["delta_ppm"], r["tv_ppm"]
        )
        for r in drift_report(
            one.where(F.col("doc_id") % 4 != 0),
            one.where(F.col("doc_id") % 5 == 0),
        ).collect()
    }
    emit(stage="drift_report_nx", docs=n_rep * dn, groups=len(nx),
         sec=dr_sec, shares_match_1x=(nx == base))
    assert dspan % 5 == 0 and dspan % 4 == 0, dspan
    assert nx == base, "ppm shares must be replication-invariant"

    # ---- scenario 15: URL ledger bloom index at NX ------------------
    # The crawl front end's production ratio: a SMALL batch against a
    # DEEP seen-key ledger. The NX ledger lands as n_rep range-split
    # files; the batch's keys live in ONE of them, so the bloom
    # file-index must prune the per-batch history read to ~1 file
    # while the anti-join answer stays exact (new keys all survive,
    # seen keys all drop).
    from ariadne_spark.operators.dedup import (
        _prune_snapshot_with_index,
        _snapshot_files,
    )
    from ariadne_spark.streaming.maintenance import url_ledger_index

    led_dir = f"{WORK}/url_ledger"
    shutil.rmtree(led_dir, ignore_errors=True)
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
    lidx = url_ledger_index(spark, led_dir, "soak_url_ledger")
    files = _snapshot_files(spark, led_dir, "url ledger")
    # batch = 200 seen keys from replica 0 + 200 novel keys
    batch = spark.range(400).select(
        F.when(
            F.col("id") < 200,
            F.concat(F.lit("http://ledger0.com/k/"), F.col("id").cast("string")),
        ).otherwise(
            F.concat(F.lit("http://novel.com/k/"), F.col("id").cast("string"))
        ).alias("url_key")
    )
    pruned = _prune_snapshot_with_index(
        spark, files, lidx, batch.select("url_key").distinct(),
        column="url_key",
    )
    seen = spark.read.parquet(*pruned)
    survivors_n = batch.join(seen, "url_key", "left_anti").count()
    ul_sec = round(time.time() - t0, 2)
    emit(stage="url_ledger_index_nx", ledger_rows=n_rep * dn,
         ledger_files=len(files), files_read=len(pruned),
         survivors=survivors_n, sec=ul_sec,
         off_expected_survivors=abs(survivors_n - 200))
    assert survivors_n == 200, survivors_n
    # replica-0 keys occupy one range file; at url_ledger_index's
    # default fpr=1e-6 a stray false-positive file is ~0.04% likely
    # per file, but leave slack rather than flake once a decade
    assert len(pruned) <= max(2, len(files) // 2), (len(pruned), len(files))

    spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
