"""Which program functions the traced run wraps, and the per-layer
metrics computed from the spans they record.

Every metric is a total over the traced section of a run: the last
set-up plus a fixed number of traced rounds, so counts repeat exactly at
a fixed seed. A layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics
import sys

from spans import MB, Tracer

# name -> unit, in the order they are printed
METRICS = {
    "locate.s": "s",
    "locate.jobs": "count",
    "locate.calls": "count",
    "locate.files_selected_frac": "ratio",
    "locate.precision": "ratio",
    "locate.bloom_skips": "count",
    "locate.self_s": "s",
    "index.locate_memo_hit_frac": "ratio",
    "index.read_plan_s": "s",
    "index.update_s": "s",
    "index.update_self_s": "s",
    "index.update_jobs": "count",
    "index.self_s": "s",
    "sql.rewrite_s": "s",
    "sql.rewrite_jobs": "count",
    "sql.swap_cache_hit_frac": "ratio",
    "sql.self_s": "s",
    "storage.manifest_lists": "count",
    "storage.read_s": "s",
    "storage.append_s": "s",
    "storage.append_calls": "count",
    "storage.compact_s": "s",
    "storage.compact_calls": "count",
    "storage.segments_end": "count",
    "storage.bytes_written_mb": "MB",
    "storage.filelist_add_s": "s",
    "storage.metadata_save_s": "s",
    "storage.lock_wait_s": "s",
    "storage.self_s": "s",
    "batching.analyze_s": "s",
    "batching.analyze_jobs": "count",
    "batching.batches": "count",
    "batching.self_s": "s",
    "build.rows_s": "s",
    "build.rows_jobs": "count",
    "build.split_large_s": "s",
    "build.self_s": "s",
    "join.temporal_calls": "count",
    "join.temporal_shuffle_mb": "MB",
    "join.self_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_mb": "MB",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "dedup.plan_s": "s",
    "dedup.exec_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_kept_frac": "ratio",
    "dedup.store_refresh_s": "s",
    "dedup.store_files_selected_frac": "ratio",
    "dedup.self_s": "s",
    "client.self_s": "s",
    "trace.ops": "count",
    "trace.untraced_op_p50_s": "s",
    "trace.traced_op_p50_s": "s",
    "trace.overhead_s": "s",
}


def install(tracer: Tracer) -> None:
    """Wrap the names each layer's callers bind."""
    import ariadne_spark
    import ariadne_spark.index as ix
    from ariadne_spark.operators import dedup
    from ariadne_spark.storage.filelist import FileList
    from ariadne_spark.storage.lock import IndexLock
    from ariadne_spark.storage.table import ParquetTable

    surface = sys.modules["ariadne_spark.sql.surface"]

    def locate_attrs(span, result, args, kwargs):
        meta, query = args[1], args[4]
        columns = args[5] if len(args) > 5 else kwargs.get("columns")
        files, stats = result
        cols = list(query) if isinstance(query, dict) else list(columns or [])
        span.attrs.update(
            index=meta.name,
            selected=len(files),
            total=tracer.totals.get(meta.name, 0),
            skips=sum(1 for v in stats.per_column.values() if v.get("skipped")),
        )
        truth = tracer.truth.get((meta.name, cols[0])) if len(cols) == 1 else None
        if truth is not None:
            span.attrs["matching"] = sum(1 for f in files if truth(f))

    def literal(span, result, args, kwargs):
        span.attrs["literal"] = isinstance(args[1], dict)

    def temporal(span, result, args, kwargs):
        span.attrs["applied"] = result is not args[0]

    def batches(span, result, args, kwargs):
        span.attrs["batches"] = len(result)

    w = tracer.wrap
    w(ix, "_locate", "locate", locate_attrs)
    w(ix.Index, "locate_files", "index.locate_files", literal)
    w(ix.Index, "read_files", "index.read_plan")
    w(ix.Index, "update", "index.update")
    w(ariadne_spark, "sql", "sql.rewrite")
    w(surface, "_plan_and_swap", "sql.plan_and_swap")
    w(ParquetTable, "_versions", "storage.manifest_list")
    w(ParquetTable, "read", "storage.read")
    w(ParquetTable, "append", "storage.append")
    w(ParquetTable, "compact", "storage.compact")
    w(FileList, "add", "storage.filelist_add")
    w(ix, "save_metadata", "storage.metadata_save")
    w(IndexLock, "acquire", "storage.lock_wait")
    w(ix, "analyze_files", "batching.analyze")
    w(ix, "create_batches", "batching.create", batches)
    w(ix, "build_index_rows", "build.rows")
    w(ix, "split_large_indexes", "build.split_large")
    w(ix, "apply_temporal_dedup", "join.temporal", temporal)
    w(dedup, "incremental_near_dup", "dedup.plan")
    w(dedup, "signature_store_index", "dedup.store_refresh")


def summarize(tracer: Tracer, extra: dict) -> dict[str, float]:
    """Per-layer metrics from the traced section's spans. ``extra``
    carries what spans cannot see: ``segments_end``, ``bytes_written``,
    ``candidate_pairs``, ``kept_pairs``, ``temporal_ops`` (op ids),
    ``traced_ops``,
    and the untraced/traced op latencies."""
    spans = tracer.spans
    named = tracer.by_name
    self_by_name = tracer.self_seconds()
    self_s: dict[str, float] = {}
    for name, sec in self_by_name.items():
        layer = name.split(".")[0]
        self_s[layer] = self_s.get(layer, 0.0) + sec
    position = {id(s): i for i, s in enumerate(spans)}

    def dur(ss) -> float:
        return sum(s.end - s.start for s in ss)

    def jobs(ss) -> int:
        return sum(s.job1 - s.job0 for s in ss)

    def stage(ss):
        return [s.attrs["stages"] for s in ss]

    def frac(num: float, den: float) -> float:
        return num / den if den else 0.0

    def parents_of(child: str) -> set:
        return {s.parent for s in named(child)}

    locs = [s for s in named("locate") if "raised" not in s.attrs]
    lake_locs = [s for s in locs if s.attrs.get("index") != "sigs"]
    precise = [s for s in locs if "matching" in s.attrs and s.attrs["selected"]]
    literal_locates = [s for s in named("index.locate_files") if s.attrs.get("literal")]
    located = parents_of("locate")
    sqls = named("sql.rewrite")
    planned = parents_of("sql.plan_and_swap")
    execs = named("exec")
    temporal_execs = [s for s in execs if s.op in extra["temporal_ops"]]
    dedup_execs = [s for s in execs if s.op in extra["dedup_ops"]]
    sig_locs = [s for s in locs if s.attrs.get("index") == "sigs"]
    untraced, traced = extra["untraced_latencies"], extra["traced_latencies"]
    out = {
        "locate.s": dur(locs),
        "locate.jobs": jobs(locs),
        "locate.calls": len(locs),
        "locate.files_selected_frac": frac(
            sum(s.attrs["selected"] for s in lake_locs), sum(s.attrs["total"] for s in lake_locs)
        ),
        "locate.precision": frac(
            sum(s.attrs["matching"] for s in precise), sum(s.attrs["selected"] for s in precise)
        ),
        "locate.bloom_skips": sum(s.attrs["skips"] for s in locs),
        "locate.self_s": self_s.get("locate", 0.0),
        "index.locate_memo_hit_frac": frac(
            sum(1 for s in literal_locates if position[id(s)] not in located), len(literal_locates)
        ),
        "index.read_plan_s": dur(named("index.read_plan")),
        "index.update_s": dur(named("index.update")),
        "index.update_self_s": self_by_name.get("index.update", 0.0),
        "index.update_jobs": jobs(named("index.update")),
        "index.self_s": self_s.get("index", 0.0),
        "sql.rewrite_s": dur(sqls),
        "sql.rewrite_jobs": jobs(sqls),
        "sql.swap_cache_hit_frac": frac(
            sum(1 for s in sqls if position[id(s)] not in planned), len(sqls)
        ),
        "sql.self_s": self_s.get("sql", 0.0),
        "storage.manifest_lists": len(named("storage.manifest_list")),
        "storage.read_s": dur(named("storage.read")),
        "storage.append_s": dur(named("storage.append")),
        "storage.append_calls": len(named("storage.append")),
        "storage.compact_s": dur(named("storage.compact")),
        "storage.compact_calls": len(named("storage.compact")),
        "storage.segments_end": extra["segments_end"],
        "storage.bytes_written_mb": extra["bytes_written"] / MB,
        "storage.filelist_add_s": dur(named("storage.filelist_add")),
        "storage.metadata_save_s": dur(named("storage.metadata_save")),
        "storage.lock_wait_s": dur(named("storage.lock_wait")),
        "storage.self_s": self_s.get("storage", 0.0),
        "batching.analyze_s": dur(named("batching.analyze")),
        "batching.analyze_jobs": jobs(named("batching.analyze")),
        "batching.batches": sum(s.attrs["batches"] for s in named("batching.create")),
        "batching.self_s": self_s.get("batching", 0.0),
        "build.rows_s": dur(named("build.rows")),
        "build.rows_jobs": jobs(named("build.rows")),
        "build.split_large_s": dur(named("build.split_large")),
        "build.self_s": self_s.get("build", 0.0),
        "join.temporal_calls": sum(1 for s in named("join.temporal") if s.attrs["applied"]),
        "join.temporal_shuffle_mb": sum(t.shuffle_b for t in stage(temporal_execs)) / MB,
        "join.self_s": self_s.get("join", 0.0),
        "exec.s": dur(execs),
        "exec.jobs": jobs(execs),
        "exec.input_mb": sum(t.input_b for t in stage(execs)) / MB,
        "exec.shuffle_mb": sum(t.shuffle_b for t in stage(execs)) / MB,
        "exec.task_s": sum(t.task_ms for t in stage(execs)) / 1000.0,
        "exec.gc_s": sum(t.gc_ms for t in stage(execs)) / 1000.0,
        "dedup.plan_s": dur(named("dedup.plan")),
        "dedup.exec_s": dur(dedup_execs),
        "dedup.candidate_pairs": extra["candidate_pairs"],
        "dedup.pairs_kept_frac": frac(extra["kept_pairs"], extra["candidate_pairs"]),
        "dedup.store_refresh_s": dur(named("dedup.store_refresh")),
        "dedup.store_files_selected_frac": frac(
            sum(s.attrs["selected"] for s in sig_locs), sum(s.attrs["total"] for s in sig_locs)
        ),
        "dedup.self_s": self_s.get("dedup", 0.0),
        "client.self_s": self_s.get("op", 0.0),
        "trace.ops": extra["traced_ops"],
        "trace.untraced_op_p50_s": statistics.median(untraced),
        "trace.traced_op_p50_s": statistics.median(traced),
    }
    out["trace.overhead_s"] = out["trace.traced_op_p50_s"] - out["trace.untraced_op_p50_s"]
    return out
