"""The three CDC workloads. Each drives the engine only through its public
API (``StreamRunner``, ``run_structured``, ``SynapseLinkSource`` via the
runner, ``VersionedTable``) on folders written by ``gen``.

Every workload has the same life cycle: ``prepare`` writes its inputs
(untimed), ``setup`` builds the state the timed operations start from
(repeated, part of ``setup_s``), ``warm_up`` operations finish JIT and
plan warm-up (part of ``setup_s``), and ``op`` runs one timed operation
and returns what to check against the oracle. After each operation the
runner scans and point-reads the target (``run.probe``), which doubles as
the oracle check.
"""

from __future__ import annotations

import os
import shutil
import time

import gen

# Workload sizes, rescaled from 1M-row targets to fit many runs of a few
# seconds each on 4 cores; each keeps the property its workload is for.
BACKFILL_FOLDERS = 10
BACKFILL_ROWS_PER_FOLDER = 5_000
BACKFILL_MIX = dict(updates=0.3, deletes=0.1)

TICK_TARGET_FOLDERS = 10
TICK_TARGET_ROWS_PER_FOLDER = 4_000
TICK_CHANGE_ROWS = 500
TICK_MIX = dict(updates=0.5, deletes=0.1, stale=0.15)  # 25% inserts
TICK_MAINTENANCE_EVERY = 4  # OPTIMIZE and ANALYZE batch thresholds

DRAIN_FOLDERS = 3
DRAIN_ROWS_PER_FOLDER = 4_000
DRAIN_MIX = dict(updates=0.5)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    structured = False
    warm_up = 1  # full-size operations after the state build, timed as set-up

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self._n = 0

    def _dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}{self._n}")

    def spec(self, source: str, target: str, **kw):
        from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamSpec

        return StreamSpec(
            entity_name=gen.ENTITY,
            source_root=source,
            target_root=target,
            metrics_path=os.path.join(target + "_metrics", "batches.jsonl"),
            **kw,
        )

    def drop(self, target: str) -> None:
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(target + "_metrics", ignore_errors=True)
        shutil.rmtree(target + "_ckpt", ignore_errors=True)

    min_ops = 4  # timed operations per run
    trace_block = 1  # a traced run traces every other block of this many operations
    probe_scans, probe_lookups = 2, 3  # read probes after each timed operation

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Build the starting state; backfills and drains start empty."""

    def op(self, spark) -> dict:
        """One timed operation. Returns ``seconds`` (the timed part),
        ``rows`` (change rows applied), ``table`` (the target to probe),
        ``feed`` (its oracle) and ``errors`` (oracle mismatches found
        without a scan)."""
        raise NotImplementedError

    def done(self, ops: int, elapsed: float, seconds: float) -> bool:
        return elapsed >= seconds and ops >= self.min_ops

    def finish_op(self, result: dict) -> None:
        pass


class Backfill(Workload):
    """One ``StreamRunner.backfill()`` per operation into an empty target."""

    name = "backfill"
    warm_up = 2

    def prepare(self) -> None:
        self.feed = gen.build_backlog(
            os.path.join(self.work, "source"), self.seed, BACKFILL_FOLDERS,
            BACKFILL_ROWS_PER_FOLDER, BACKFILL_MIX,
        )

    def op(self, spark) -> dict:
        from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner

        target = self._dir("target")
        runner = StreamRunner(spark, self.spec(self.feed.root, target))
        t0 = time.perf_counter()
        n = runner.backfill()
        dt = time.perf_counter() - t0
        errors = []
        if n != len(self.feed.live):
            errors.append(f"backfill returned {n} rows, oracle has {len(self.feed.live)}")
        if runner.table.watermark() != self.feed.folders[-1]:
            errors.append(f"watermark {runner.table.watermark()} != {self.feed.folders[-1]}")
        return {
            "seconds": dt, "rows": self.feed.rows_written, "table": runner.table,
            "feed": self.feed, "errors": errors, "target": target,
        }

    def finish_op(self, result: dict) -> None:
        self.drop(result["target"])


class TickLargeTarget(Workload):
    """Closed loop on one large target: publish one small change folder,
    ``run_once()``, probe, repeat."""

    name = "tick_large_target"
    # warm-up is two whole cadences, maintenance ticks included: after one,
    # regular ticks still ran 25-35% faster in the second timed cadence
    # than in the first. The timed window then takes whole cadences, so it
    # always holds maintenance on one tick in four (at least two of them),
    # and a traced run traces whole cadences: one traced, one plain. Ticks
    # are many and cheap, so each gets a single scan to keep runs short.
    warm_up = 2 * TICK_MAINTENANCE_EVERY
    min_ops = 2 * TICK_MAINTENANCE_EVERY
    trace_block = TICK_MAINTENANCE_EVERY
    probe_scans = 1

    def prepare(self) -> None:
        self.feed = gen.build_backlog(
            os.path.join(self.work, "source"), self.seed, TICK_TARGET_FOLDERS,
            TICK_TARGET_ROWS_PER_FOLDER, dict(updates=0.0),
        )
        self.runner = None

    def setup(self, spark) -> None:
        from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner

        if self.runner is not None:
            self.drop(self.runner.spec.target_root)
        spec = self.spec(
            self.feed.root, self._dir("target"),
            optimize_batch_threshold=TICK_MAINTENANCE_EVERY,
            analyze_batch_threshold=TICK_MAINTENANCE_EVERY,
        )
        self.runner = StreamRunner(spark, spec)
        self.runner.backfill()

    def op(self, spark) -> dict:
        name, lines = self.feed.make_folder(TICK_CHANGE_ROWS, **TICK_MIX)
        self.feed.write_folder(name, lines)
        t0 = time.perf_counter()
        self.feed.publish(name)
        consumed = self.runner.run_once()
        dt = time.perf_counter() - t0
        errors = []
        if consumed != 1:
            errors.append(f"run_once consumed {consumed} folders, expected 1")
        if self.runner.table.watermark() != name:
            errors.append(f"watermark {self.runner.table.watermark()} != {name}")
        return {
            "seconds": dt, "rows": len(lines), "table": self.runner.table,
            "feed": self.feed, "errors": errors,
        }

    def done(self, ops: int, elapsed: float, seconds: float) -> bool:
        return super().done(ops, elapsed, seconds) and ops % TICK_MAINTENANCE_EVERY == 0


class ReadstreamDrain(Workload):
    """``run_structured(available_now=True)`` drains a backlog into a fresh
    target per operation."""

    name = "readstream_drain"
    structured = True
    # after two warm-up drains the first timed drain still ran up to 20%
    # slower than the third; after three they no longer trend down. Drains
    # are few and dear, so each gets more read probes than the default.
    warm_up = 3
    min_ops = 3
    probe_scans, probe_lookups = 4, 6

    def prepare(self) -> None:
        self.feed = gen.build_backlog(
            os.path.join(self.work, "source"), self.seed, DRAIN_FOLDERS,
            DRAIN_ROWS_PER_FOLDER, DRAIN_MIX,
        )

    def op(self, spark) -> dict:
        from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
            run_structured,
        )
        from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

        target = self._dir("target")
        t0 = time.perf_counter()
        q = run_structured(spark, self.spec(self.feed.root, target), target + "_ckpt")
        try:
            q.awaitTermination(90)
        finally:
            if q.isActive:
                q.stop()
        dt = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        table = VersionedTable(target)
        errors = []
        if table.watermark() != self.feed.folders[-1]:
            errors.append(f"watermark {table.watermark()} != {self.feed.folders[-1]}")
        progress = [p for p in q.recentProgress if p.get("numInputRows")]
        return {
            "seconds": dt, "rows": self.feed.rows_written, "table": table,
            "feed": self.feed, "errors": errors, "target": target, "progress": progress,
        }

    def finish_op(self, result: dict) -> None:
        self.drop(result["target"])


WORKLOADS = {w.name: w for w in (Backfill, TickLargeTarget, ReadstreamDrain)}
