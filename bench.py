"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "build_sec": ...}

Index/materialization build time is reported separately
(``build_sec``) — it's the amortized cost the index pays once, while
``queries`` measure the steady-state query path. Each query is forced
with ``df.count()`` (full execution, no driver-side row transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_QUERIES = [
    "idx_join_regular",
    "idx_join_bloom",
    "idx_join_temporal",
    "idx_filter_range",
    "idx_filter_band",
    "idx_footer_range",
    "idx_multi_and",
    "idx_exploded_token",
    "streaming_latest",
    "streaming_window",
    "dedup_exact",
    "dedup_keep_longest",
    "dedup_ngramset",
    "dedup_minhash",
    "dedup_fuzzy_keepset",
    "dedup_simhash",
    "dedup_cluster",
    "text_quality",
    "text_lang_id",
    "text_repetition",
    "text_bigram_lm",
    "corpus_split",
    "corpus_quota_sample",
    "corpus_pii_redact",
    "corpus_contamination",
    "corpus_dedup_cross",
    "corpus_shard",
    "corpus_line_dedup",
    "corpus_chunk",
    "corpus_vocab",
    "profile_docs",
    "profile_quantiles",
    "dedup_incremental",
    "pipeline_clean",
    "sim_topk",
    "sim_ann_lsh",
    "sim_ann_banded",
    "sim_ann_ivf",
    "multimodal_fingerprint",
    "multimodal_phash_dedup",
    "multimodal_afp_dedup",
    "sql_tpch_q1",
    "sql_join_pruned",
    "sql_tpch_q3",
    "sql_tpch_q5",
    "sql_tpch_q6",
    "sql_tpch_q14",
    "sql_tpch_q12",
    "sql_tpch_q13",
    "sql_tpch_q17",
    "sql_tpch_q19",
    "sql_tpch_q22",
    "sql_tpch_q2",
    "sql_tpch_q7",
    "sql_tpch_q8",
    "sql_tpch_q9",
    "sql_tpch_q11",
    "sql_tpch_q15",
    "sql_tpch_q16",
    "sql_tpch_q20",
    "sql_tpch_q21",
    "ts_resample",
    "profile_footer",
    "sql_window_topn",
    "datasource_filter",
    "dedup_substring",
    "dedup_substring_inc",
    "corpus_budget_sample",
    "corpus_ngram_stats",
    "corpus_cluster_split",
    "corpus_temperature_sample",
    "text_bpe_encode",
    "corpus_importance",
    # r06: full-registry coverage (r05 verdict #5) — every queries()
    # entry is benched; one-time fixture builds (BPE learn, dedup
    # stores, indexes) happen in the warmup pass and are reported as
    # warmup_sec, timed passes measure the steady-state query path
    "idx_filter_computed",
    "idx_filter_range_bbox",
    "idx_join_reverse",
    "idx_large_matching",
    "idx_incremental",
    "idx_delete_files",
    "idx_select_pushdown",
    "idx_stats",
    "idx_locate",
    "source_csv",
    "source_json",
    "source_orc",
    "sql_json_filter",
    "sql_tpch_q4",
    "sql_tpch_q10",
    "sql_tpch_q18",
    "catalog_describe",
    "corpus_pack",
    "emb_near_dup",
    "emb_semantic_dedup",
    "sim_ann_ivf_indexed",
    "multimodal_decode_png",
    "multimodal_decode_ppm",
    "multimodal_decode_wav",
    "multimodal_frames",
    "text_bpe_learn",
    "text_fingerprint",
    "text_token_count",
    "ts_sessionize",
    "ts_rollup",
    "ts_asof_join",
    # r06 second pass: composite quality gate, mixture report, kNN
    # auto-labeling, product-quantization ANN
    "text_gopher_filter",
    "corpus_mix_report",
    "emb_knn_classify",
    "emb_ann_pq",
    "sim_ann_ivf_pq",
    "corpus_select_dsir",
    "text_mass_classify",
    "streaming_quality_gate",
    "corpus_dedup_cross_indexed",
    # r07: URL/domain crawl primitives
    "corpus_domain_quota",
    "corpus_url_dedup",
    "streaming_url_dedup",
    "streaming_url_dedup_indexed",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_resample",
    "streaming_domain_quota",
    # r07 second session: cleaning / calibration / retrieval ops
    "text_c4_filter",
    "text_normalize",
    "corpus_blocklist",
    "text_pr_curve",
    "emb_diversity_sample",
    "idx_keyword_search",
    "emb_bitext_mine",
    "corpus_drift_report",
    "streaming_drift",
    "corpus_soft_sample",
    # r09: band-key file index over the MinHash signature store
    "dedup_incremental_indexed",
    # r10: record linkage, MG heavy hitters, bucketized interval join
    "link_fuzzy_join",
    "link_fuzzy_indexed",
    "profile_heavy_hitters",
    "ts_interval_join",
]


def spark_session(
    cpus,
    driver_memory: str = "16g",
    app_name: str = "ariadne-bench",
    shuffle_partitions: int | None = None,
    conf: dict | None = None,
):
    """The one local SparkSession the bench and the profiler/soak tools
    run on: ``local[cpus]``, shuffle partitions ``max(cpus, 8)`` unless
    given, UI off, AQE on, UTC session time zone (the fixtures' NTZ
    timestamps and the oracle compares rely on it), ``conf`` extras,
    log level ERROR."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(int(cpus), 8)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .appName(app_name)
    )
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, qs: dict, names, sf_dir: str) -> None:
    """Run each named query once (``.count()``): a first execution pays
    JVM codegen compilation and Python-worker spin-up (~1-6 s per
    distinct plan shape) that a long-lived cluster session never sees
    again, plus any one-time fixture build."""
    for name in names:
        qs[name](spark, sf_dir).count()


def _host_canary() -> float:
    """Fixed single-thread pure-Python work unit (~2 s on this class
    of host): a host-speed reference independent of Spark, the JVM,
    and this repo's code, so slow-host days are attributable from the
    bench artifact alone."""
    t0 = time.time()
    s = 0
    for i in range(20_000_000):
        s += i
    return round(time.time() - t0, 3)


def main() -> None:
    # taken BEFORE the JVM starts: the end-of-run reading includes the
    # bench's own 32 threads, so the start value is the cleaner
    # external-contention signal
    load_start = round(os.getloadavg()[0], 2)
    canary_start = _host_canary()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    spark = spark_session(cpus)

    import __spark_entry__ as entry

    t0 = time.time()
    entry._prepare(spark, sf_dir)
    build_sec = round(time.time() - t0, 3)

    qs = entry.queries()
    # Warmup pass (see warm_up): the metric reports the steady-state
    # query path. Disable with SPARK_GRAFT_WARMUP=0.
    t0 = time.time()
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        warm_up(spark, qs, BENCH_QUERIES, sf_dir)
    warmup_sec = round(time.time() - t0, 3)

    # One discarded burn-in pass, then three timed FULL passes over
    # the registry, reported as the per-query MEDIAN (r08 verdict #1,
    # r09 verdict #5): a single pass is hostage to driver GC pauses
    # and shared-host noise (identical code measured 88-140 s totals
    # and one query at 0.86/1.21/4.61 s across same-code runs), and
    # the r09 artifact showed the FIRST timed pass running ~25%
    # hotter than the third on identical code even after the per-plan
    # warmup above — residual JIT tiering and page-cache fill. The
    # burn-in pass absorbs that so the three timed passes are drawn
    # from the steady state; its total is still recorded
    # (pass_totals[0], burnin_passes=1) so the warm-up cost stays
    # inspectable. The sidecar carries the per-query min plus every
    # per-pass total so both the steady-state floor and the
    # run-to-run spread stay visible. Override with
    # SPARK_GRAFT_PASSES / SPARK_GRAFT_BURNIN.
    import statistics

    passes = max(1, int(os.environ.get("SPARK_GRAFT_PASSES", "3")))
    burnin = max(0, int(os.environ.get("SPARK_GRAFT_BURNIN", "1")))
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    pass_totals: list[float] = []
    for i in range(burnin + passes):
        t_pass = time.time()
        for name in BENCH_QUERIES:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            if i >= burnin:
                samples[name].append(time.time() - t0)
        pass_totals.append(round(time.time() - t_pass, 3))
    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    timings_min = {name: round(min(ts), 3) for name, ts in samples.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf
    summary = {
        "metric": "total_query_sec",
        # sum of per-query MEDIANS (r09+; r01-r08 reported min-of-2 —
        # medians read slightly higher on identical code, compare
        # like-for-like via the sidecar's per-stat maps)
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "stat": "median",
        "n_passes": passes,
        # pass_totals[0..burnin_passes-1] are DISCARDED burn-in passes
        # (r09 verdict #5); stats cover only the later timed passes
        "burnin_passes": burnin,
        "pass_totals": pass_totals,
        "sf": sf_num,
        "build_sec": build_sec,
        "warmup_sec": warmup_sec,
        "n_queries": len(BENCH_QUERIES),
        "queries_file": "bench_queries.json",
        # external-contention evidence: this box is shared, and loaded
        # runs inflate EVERY row uniformly (observed +23-32% incl.
        # untouched diagnostics). 1-minute loadavg at the end of the
        # timed passes >> the bench's own footprint means the numbers
        # were taken under competition — compare bench_queries.json
        # against the previous round before reading a regression.
        "load_1m_start": load_start,
        "load_1m_end": round(os.getloadavg()[0], 2),
        # host-speed canary (r10): a fixed single-thread pure-Python
        # loop timed before the JVM starts and after the passes end.
        # Load averages only catch CONCURRENT competition; this
        # catches a slower host state (throttling, co-tenant days,
        # governor) — cross-round bench deltas should be read against
        # the canary ratio before anything else.
        "canary_sec_start": canary_start,
        "canary_sec_end": _host_canary(),
    }
    # Per-query timings go to a SIDECAR file: the inline map for 113
    # queries is ~3.5 KB and overflows the driver's ~2.2 KB stdout
    # tail buffer, truncating the artifact (r06 finding #2). The final
    # stdout line stays < 500 bytes so BENCH_r{N}.json always parses.
    # r11 (additions only, VERDICT r10 item #8): ALSO write a
    # core-count-suffixed copy (bench_queries_c{cpus}.json) — the c8
    # and c32 driver runs previously overwrote the same sidecar, so
    # per-query scaling could never be computed from the artifacts.
    # SPARK_GRAFT_QUERIES_OUT overrides the primary sidecar path.
    body = {
        **summary,
        "queries": timings,  # per-query median across passes
        "queries_min": timings_min,  # steady-state floor
    }
    here = os.path.dirname(os.path.abspath(__file__))
    sidecar = os.environ.get(
        "SPARK_GRAFT_QUERIES_OUT", os.path.join(here, "bench_queries.json")
    )
    for path in {sidecar, os.path.join(here, f"bench_queries_c{cpus}.json")}:
        with open(path, "w") as f:
            json.dump(body, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
