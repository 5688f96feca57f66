"""Span tracing for the traced benchmark run.

Wraps the engine's public calls into each layer from outside the program
(``install``): every wrapped call records a span with its name, start,
end, parent span and the run id, and tags the Spark jobs it causes with a
job group, so the jobs, stages, task-seconds and bytes behind a span are
read back from the status store when the run ends (``collect_jobs``).
Spans stay in memory until then.

Spark is lazy: a span around ``read_folders``, ``latest_by_version`` or
``cdc_merge`` measures planning only, before any Spark job. The parse,
dedup and merge they plan execute inside the ``tables.commit`` span (or a
backfill's final count), where stage kinds (CSV scan, parquet scan,
stream-source scan) and stage input/shuffle bytes attribute the work.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self.op_root: dict | None = None  # parent for spans on other threads
        self.schema_reads = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._pending_record: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            self._next += 1
            sid = self._next
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "run": self.run_id,
            "group": f"{self.run_id}.{sid}",
            "t0": time.perf_counter(),
            "t1": None,
        }
        stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        self.spans.append(span)
        if stack:
            self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                s["none"] = out is None
                return out

        return traced

    # The runner counts a merged batch's rows for MetricsRecorder between
    # the watermark write and ``record``; that count job belongs to the
    # observability layer, so its span opens when the watermark is set
    # inside a tick or micro-batch and closes when ``record`` returns.
    def after_watermark(self) -> None:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        if parent is not None and parent["name"] in (
            "streaming.runner.run_once",
            "streaming.structured.batch",
        ):
            self._pending_record = self.open("streaming.observability.record")

    def finish_record(self) -> None:
        if self._pending_record is not None:
            self.close(self._pending_record)
            self._pending_record = None


def install(tracer: Tracer, structured: bool) -> list[tuple[object, str, object]]:
    """Patch the layer entry points; returns what ``uninstall`` restores.

    ``structured``: the readStream source classes are pickled by value to
    the source planner, so on that path the source layer is left unwrapped
    (its planning runs in the planner process, reported through the
    query's progress instead)."""
    from pyspark.sql.streaming import DataStreamWriter

    from arcane_stream_microsoft_synapse_link_spark.operators import merge as merge_mod
    from arcane_stream_microsoft_synapse_link_spark.sources import synapse
    from arcane_stream_microsoft_synapse_link_spark.streaming import observability, runner
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, name: str | None = None, make=None) -> None:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig) if make else tracer.wrap(name, orig))

    if not structured:
        src = synapse.SynapseLinkSource
        patch(src, "pending", "sources.synapse.pending")
        patch(src, "list_folders", "sources.synapse.list_folders")
        patch(src, "entity_schema", "sources.synapse.entity_schema")
        patch(src, "read_folders", "sources.synapse.read_folders")
        patch(synapse, "read_entity_csv", "sources.cdm.read_entity_csv")
        patch(synapse, "paths_are_line_splittable", "sources.cdm.parity_probe")

        def count_parses(orig):
            @functools.wraps(orig)
            def counted(*a, **k):
                if tracer.enabled:
                    tracer.schema_reads += 1
                return orig(*a, **k)

            return counted

        patch(synapse, "parse_model", make=count_parses)
    patch(runner, "latest_by_version", "operators.dedup.latest_by_version")
    patch(merge_mod, "latest_by_version", "operators.dedup.latest_by_version")
    patch(runner, "cdc_merge", "operators.merge.cdc_merge")
    for attr in ("commit", "read", "optimize", "expire_snapshots", "analyze"):
        patch(VersionedTable, attr, f"tables.{attr}")

    def watermark(orig):
        traced = tracer.wrap("tables.set_watermark", orig)

        @functools.wraps(orig)
        def w(*a, **k):
            out = traced(*a, **k)
            if tracer.enabled:
                tracer.after_watermark()
            return out

        return w

    patch(VersionedTable, "set_watermark", make=watermark)

    def record(orig):
        @functools.wraps(orig)
        def w(*a, **k):
            try:
                return orig(*a, **k)
            finally:
                if tracer.enabled:
                    tracer.finish_record()

        return w

    patch(observability.MetricsRecorder, "record", make=record)
    patch(runner.StreamRunner, "run_once", "streaming.runner.run_once")
    patch(runner.StreamRunner, "backfill", "streaming.runner.backfill")

    def for_each_batch(orig):
        @functools.wraps(orig)
        def w(self, func):
            return orig(self, tracer.wrap("streaming.structured.batch", func))

        return w

    patch(DataStreamWriter, "foreachBatch", make=for_each_batch)
    return saved


def uninstall(saved) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _stage_kind(store, stage_id: int) -> str:
    """Which source a stage scans, from its operator graph's cluster names."""
    names: list[str] = []

    def walk(cluster) -> None:
        for c in _scala_seq(cluster.childClusters()):
            names.append(c.name())
            walk(c)

    try:
        walk(store.operationGraphForStage(stage_id).rootCluster())
    except Exception:  # graph evicted from the status store
        return "other"
    joined = " ".join(names)
    if "Scan text" in joined or "Scan csv" in joined:
        return "csv"
    if "MicroBatchScan" in joined:
        return "stream"
    if "Scan parquet" in joined:
        return "parquet"
    return "other"


def collect_jobs(sc, run_id: str) -> dict[str, dict]:
    """Jobs of this run's job groups, keyed by group, with their completed
    stages. A stage id shared by several jobs (a reused exchange) ran in the
    first of them and is attributed there only."""
    store = sc._jsc.sc().statusStore()
    jobs = sorted(_scala_seq(store.jobsList(None)), key=lambda j: j.jobId())
    seen: set[int] = set()
    out: dict[str, dict] = {}
    prefix = run_id + "."
    for j in jobs:
        g = j.jobGroup()
        group = g.get() if g.isDefined() else None
        sids = [int(s) for s in _scala_seq(j.stageIds())]
        fresh = [s for s in sids if s not in seen]
        seen.update(sids)
        if group is None or not group.startswith(prefix):
            continue
        rec = out.setdefault(group, {"jobs": 0, "stages": []})
        rec["jobs"] += 1
        for sid in fresh:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped) or evicted
                continue
            if str(st.status()) != "COMPLETE":
                continue
            rec["stages"].append(
                {
                    "id": sid,
                    "kind": _stage_kind(store, sid),
                    "task_s": st.executorRunTime() / 1000.0,
                    "input_bytes": st.inputBytes(),
                    "input_records": st.inputRecords(),
                    "output_bytes": st.outputBytes(),
                    "output_records": st.outputRecords(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                }
            )
    return out


class SpanIndex:
    """Spans joined with their jobs: subtree walks and self time."""

    def __init__(self, spans: list[dict], jobs: dict[str, dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.jobs = jobs

    def named(self, *names: str, outside: tuple[str, ...] = ()) -> list[dict]:
        """Spans with one of ``names`` that have no ancestor with one of
        ``names`` or ``outside`` (so nested calls are not counted twice)."""
        out = []
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = self.by_id.get(s["parent"])
            while p is not None and p["name"] not in names + outside:
                p = self.by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs_in(self, spans: list[dict]) -> int:
        """Jobs caused by ``spans`` and their descendants."""
        return sum(
            self.jobs.get(t["group"], {}).get("jobs", 0) for s in spans for t in self.subtree(s)
        )

    def stages_in(self, spans: list[dict]) -> list[dict]:
        """Completed stages of those jobs."""
        return [
            st for s in spans for t in self.subtree(s)
            for st in self.jobs.get(t["group"], {}).get("stages", [])
        ]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (max(c["t0"], span["t0"]), min(c["t1"], span["t1"]))
            for c in self.children.get(span["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span["t1"] - span["t0"]) - covered


def dur(spans: list[dict]) -> float:
    return sum(s["t1"] - s["t0"] for s in spans)


@contextmanager
def root(tracer: Tracer | None, name: str):
    """An operation's root span; spans opened on other threads (the
    foreachBatch callback) attach to it. A no-op without a tracer."""
    if tracer is None:
        yield
        return
    span = tracer.open(name)
    tracer.op_root = span
    try:
        yield
    finally:
        tracer.op_root = None
        tracer.close(span)
