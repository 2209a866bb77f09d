"""The per-layer metrics of a traced run, named after the engine's
modules. Times are self times in ms per measured operation (so one
operation's layer times add up to its wall time, ``trace.op_wall_ms``);
counts and bytes are per operation too, unless the name says otherwise.
A layer that does no work on a workload reports 0."""

from __future__ import annotations

# span name -> metric name (self time, ms per operation)
SPAN_METRICS = {
    "aql.api": "aql.api.overhead_ms",
    "aql.model": "aql.parse_ms",
    "catalog.load": "catalog.load_ms",
    "aql.planner": "aql.planner.plan_ms",
    "spark.optimize": "spark.optimize_ms",
    "spark.job": "spark.job_wall_ms",
    "aql.result": "aql.result.shape_ms",
    "upsert_wire.parse": "upsert_wire.parse_ms",
    "upsert_wire.to_df": "upsert_wire.to_df_ms",
    "data_handler.post": "data_handler.post_self_ms",
    "hotcold.ingest": "hotcold.ingest_ms",
    "hotcold.read": "hotcold.read_ms",
    "lifecycle.tick": "lifecycle.schedule_ms",
    "lifecycle.archive": "lifecycle.archive_ms",
    "lifecycle.backfill": "lifecycle.backfill_ms",
    "lifecycle.snapshot": "lifecycle.snapshot_ms",
    "lifecycle.gc": "lifecycle.gc_ms",
    "text.stats": "text.stats_ms",
    "dedup.clusters": "dedup.clusters_ms",
    "multimodal.decode_stats": "multimodal.decode_stats_ms",
    "multimodal.phash": "multimodal.phash_ms",
    "audio.stats": "audio.stats_ms",
    "trace.unaccounted": "trace.unaccounted_ms",
}

# tracer counters reported per operation
COUNT_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.skipped_stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "catalog.load_calls": "count",
    "pointer.commits": "count",
}

# reported by the workload itself (0 where it does not apply)
WORKLOAD_METRICS = {
    "upsert_wire.bytes": "bytes",
    "hotcold.pending_batches": "count",
    "hotcold.backfill_buffer_bytes": "bytes",
    "lifecycle.jobs": "count",
    "store.bytes_on_disk": "bytes",
    "store.files_on_disk": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "codec.png_us_per_item": "us",
    "codec.jpeg_us_per_item": "us",
    "codec.flac_us_per_item": "us",
}

# environment figures and ratios computed at the end
OTHER_METRICS = {
    "host.canary_ms": "ms",
    "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.op_wall_ms": "ms",
    "catalog.cache_hit_ratio": "ratio",
}


def all_names() -> list[str]:
    return (list(SPAN_METRICS.values()) + list(COUNT_METRICS)
            + list(WORKLOAD_METRICS) + list(OTHER_METRICS))


def per_layer_metrics(tracer, wl, canary: float, lat: list[float],
                      lat_traced: list[float], driver_peak_kb: int,
                      jvm_peak_kb: int) -> dict[str, tuple[float, str]]:
    from perfbench.harness import median

    out: dict[str, tuple[float, str]] = {}
    self_ms = tracer.layer_ms()
    for span, metric in SPAN_METRICS.items():
        out[metric] = (self_ms.pop(span, 0.0), "ms")
    if self_ms:  # a span name without a metric would break the accounting
        raise RuntimeError(f"unmapped spans: {sorted(self_ms)}")
    for name, unit in COUNT_METRICS.items():
        out[name] = (tracer.per_op(name), unit)
    provided = wl.layer_values()
    for name, unit in WORKLOAD_METRICS.items():
        out[name] = (float(provided.get(name, 0.0)), unit)
    calls = tracer.counts.get("catalog.load_calls", 0.0)
    out["catalog.cache_hit_ratio"] = (
        tracer.counts.get("catalog.cache_hits", 0.0) / calls if calls else 0.0,
        "ratio")
    out["host.canary_ms"] = (canary, "ms")
    out["driver.peak_rss_mb"] = (driver_peak_kb / 1024.0, "MB")
    out["jvm.peak_rss_mb"] = (jvm_peak_kb / 1024.0, "MB")
    out["trace.overhead_frac"] = (
        median(lat_traced) / median(lat) - 1.0 if lat and lat_traced else 0.0,
        "ratio")
    out["trace.op_wall_ms"] = (tracer.op_wall_ms(), "ms")
    return {k: out[k] for k in all_names()}
