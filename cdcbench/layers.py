"""Per-layer metrics from the traced run's spans and Spark status store.

Each metric is named by the engine module it measures. Times and counts
are per traced operation (a backfill, a tick or a drain) unless the name
says otherwise; ratios give their base in the README's metric table. A
layer that a workload does not use reports 0.
"""

from __future__ import annotations

from spans import SpanIndex, dur

UNITS = {
    "sources.synapse.list_s": "s",
    "sources.synapse.schema_reads": "count",
    "sources.cdm.plan_s": "s",
    "sources.cdm.parity_probe_jobs": "count",
    "sources.cdm.scan_task_s": "s",
    "sources.stream.scan_passes": "ratio",
    "sources.stream.scan_stages_per_batch": "count",
    "sources.stream.latest_offset_ms": "ms",
    "operators.dedup.plan_s": "s",
    "operators.dedup.shuffle_bytes": "B",
    "operators.merge.plan_s": "s",
    "operators.merge.shuffle_bytes": "B",
    "operators.merge.target_rows_read_per_change_row": "ratio",
    "tables.commit.s": "s",
    "tables.commit.jobs": "count",
    "tables.commit.task_s": "s",
    "tables.commit.bytes_written": "B",
    "tables.commit.rows_written_per_change_row": "ratio",
    "tables.read.s": "s",
    "tables.watermark.s": "s",
    "tables.maintenance.s": "s",
    "tables.maintenance.bytes_rewritten": "B",
    "tables.maintenance.noop_ratio": "ratio",
    "streaming.runner.self_s": "s",
    "streaming.runner.tick_jobs": "count",
    "streaming.runner.tick_stages": "count",
    "streaming.runner.tick_task_s": "s",
    "streaming.structured.add_batch_ms": "ms",
    "streaming.structured.query_planning_ms": "ms",
    "streaming.structured.batch_jobs": "count",
    "streaming.observability.record_s": "s",
    "streaming.observability.record_jobs": "count",
    "session.gc_s": "s",
    "session.steal_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

MAINTENANCE = ("tables.optimize", "tables.expire_snapshots", "tables.analyze")
SCANS_OF_CHANGES = ("csv", "stream")


def per_layer(tracer, jobs: dict, ops: list[dict]) -> dict[str, float]:
    idx = SpanIndex(tracer.spans, jobs)
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    change_rows = max(1, sum(o["rows"] for o in traced))
    roots = [s for s in idx.spans if s["name"] == "bench.op"]
    in_ops = {t["id"] for r in roots for t in idx.subtree(r)}

    def named(*names, outside=()):
        return [s for s in idx.named(*names, outside=outside) if s["id"] in in_ops]

    m: dict[str, float] = {}

    # sources: listing, schema, CSV planning and scan
    m["sources.synapse.list_s"] = dur(
        named("sources.synapse.pending", "sources.synapse.list_folders")) / n
    m["sources.synapse.schema_reads"] = tracer.schema_reads / n
    m["sources.cdm.plan_s"] = dur(named("sources.cdm.read_entity_csv")) / n
    m["sources.cdm.parity_probe_jobs"] = idx.jobs_in(named("sources.cdm.parity_probe")) / n
    op_stages = idx.stages_in(roots)
    m["sources.cdm.scan_task_s"] = sum(s["task_s"] for s in op_stages if s["kind"] == "csv") / n

    # readStream source: passes over the drained rows, scan stages, planning
    progress = [p for o in traced for p in o.get("progress", [])]
    batches = max(1, len(progress))
    drained = sum(o["rows"] for o in traced if o.get("progress"))
    m["sources.stream.scan_passes"] = (
        sum(p["numInputRows"] for p in progress) / drained if drained else 0.0)
    m["sources.stream.scan_stages_per_batch"] = (
        sum(1 for s in op_stages if s["kind"] == "stream") / batches if progress else 0.0)
    m["sources.stream.latest_offset_ms"] = (
        sum(p["durationMs"].get("latestOffset", 0) for p in progress) / batches)

    # operators: their spans cover planning only; their execution happens
    # in the commit span, split by stage kind (the change-row scan stage writes
    # the dedup exchange; every other commit shuffle is the merge's)
    dedup = named("operators.dedup.latest_by_version")
    m["operators.dedup.plan_s"] = dur(dedup) / n
    merges = named("operators.merge.cdc_merge")
    m["operators.merge.plan_s"] = sum(idx.self_time(s) for s in merges) / n
    commits = named("tables.commit", outside=MAINTENANCE)
    commit_stages = idx.stages_in(commits)
    m["operators.dedup.shuffle_bytes"] = sum(
        s["shuffle_write_bytes"] for s in commit_stages if s["kind"] in SCANS_OF_CHANGES) / n
    m["operators.merge.shuffle_bytes"] = sum(
        s["shuffle_write_bytes"] for s in commit_stages
        if s["kind"] not in SCANS_OF_CHANGES) / n
    m["operators.merge.target_rows_read_per_change_row"] = sum(
        s["input_records"] for s in commit_stages if s["kind"] == "parquet") / change_rows

    # tables: commit, read, watermark, maintenance
    m["tables.commit.s"] = dur(commits) / n
    m["tables.commit.jobs"] = idx.jobs_in(commits) / n
    m["tables.commit.task_s"] = sum(s["task_s"] for s in commit_stages) / n
    m["tables.commit.bytes_written"] = sum(s["output_bytes"] for s in commit_stages) / n
    m["tables.commit.rows_written_per_change_row"] = sum(
        s["output_records"] for s in commit_stages) / change_rows
    reads = idx.named("tables.read", outside=MAINTENANCE)
    m["tables.read.s"] = dur(reads) / max(1, len(reads))  # per read call
    m["tables.watermark.s"] = dur(named("tables.set_watermark")) / n
    maint = named(*MAINTENANCE)
    m["tables.maintenance.s"] = dur(maint) / n
    m["tables.maintenance.bytes_rewritten"] = sum(
        s["output_bytes"] for s in idx.stages_in(named("tables.optimize"))) / n
    optimizes = named("tables.optimize")
    m["tables.maintenance.noop_ratio"] = (
        sum(1 for s in optimizes if s.get("none")) / len(optimizes) if optimizes else 0.0)

    # streaming: the whole operation, and the self time of its entry point
    # (run_once / backfill, or for a drain the time outside its
    # micro-batches: query start, offsets, commit)
    entry = named("streaming.runner.run_once", "streaming.runner.backfill") or roots
    m["streaming.runner.self_s"] = sum(idx.self_time(s) for s in entry) / n
    m["streaming.runner.tick_jobs"] = idx.jobs_in(roots) / n
    m["streaming.runner.tick_stages"] = len(op_stages) / n
    m["streaming.runner.tick_task_s"] = sum(s["task_s"] for s in op_stages) / n
    m["streaming.structured.add_batch_ms"] = (
        sum(p["durationMs"].get("addBatch", 0) for p in progress) / batches)
    m["streaming.structured.query_planning_ms"] = (
        sum(p["durationMs"].get("queryPlanning", 0) for p in progress) / batches)
    m["streaming.structured.batch_jobs"] = (
        idx.jobs_in(named("streaming.structured.batch")) / batches if progress else 0.0)
    records = named("streaming.observability.record")
    m["streaming.observability.record_s"] = dur(records) / n
    m["streaming.observability.record_jobs"] = idx.jobs_in(records) / n
    return m
