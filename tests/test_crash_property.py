"""Randomized crash-injection property test for the CDC pipeline
(VERDICT r9 item 5): the targeted crash sims (kill-between-appends,
pre-swap crash, commit-then-watermark rewind, orphan segments) each pin
ONE window; this generalizes — N seeded runs each kill the pipeline at a
random instrumented point in the stage→merge→commit→watermark→maintenance
flow, then a fresh runner (the process-restart model) drains the source
and the final state must equal the no-crash oracle state EVERY time, with
the watermark at the frontier.

The exactly-once argument under test (streaming/runner.py:apply_change_batch,
the reference's StreamRunner.scala:198-233 ordering): commit-then-watermark
means a crash anywhere before set_watermark replays the folder group, and
the version-guarded merge makes the replay a no-op; a crash after
set_watermark loses only maintenance, which the next tick's cadence
re-runs.
"""

from __future__ import annotations

import random

import pytest

from arcane_stream_microsoft_synapse_link_spark.streaming.runner import (
    StreamRunner,
    StreamSpec,
)
from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

from .synapse_fixture import ENTITY, SynapseFixture, minus


class SimulatedCrash(BaseException):
    """BaseException so no retry/except-Exception path can swallow it —
    the test models SIGKILL, not a caught error."""


class CrashPlan:
    """Kill the process at the ``crash_at``-th instrumented operation."""

    def __init__(self, crash_at: int):
        self.crash_at = crash_at
        self.seen = 0

    def tick(self) -> None:
        self.seen += 1
        if self.seen == self.crash_at:
            raise SimulatedCrash(f"op {self.seen}")


def _instrument(monkeypatch, plan: CrashPlan) -> None:
    """Crash-at-entry wrappers around every pipeline stage boundary:
    merge (cdc_merge), snapshot commit, watermark set, maintenance.
    Crash-at-entry of op k models crash-after-exit of op k-1, so the
    plan sweeps every between-stage window including commit→watermark."""
    import arcane_stream_microsoft_synapse_link_spark.operators.merge as merge_mod
    import arcane_stream_microsoft_synapse_link_spark.streaming.runner as runner_mod

    real_merge = merge_mod.cdc_merge
    real_commit = VersionedTable.commit
    real_wm = VersionedTable.set_watermark
    real_maint = StreamRunner._maintenance

    def crashing_merge(*a, **kw):
        plan.tick()
        return real_merge(*a, **kw)

    def crashing_commit(self, *a, **kw):
        plan.tick()
        return real_commit(self, *a, **kw)

    def crashing_wm(self, *a, **kw):
        plan.tick()
        return real_wm(self, *a, **kw)

    def crashing_maint(self, *a, **kw):
        plan.tick()
        return real_maint(self, *a, **kw)

    monkeypatch.setattr(merge_mod, "cdc_merge", crashing_merge)
    monkeypatch.setattr(runner_mod, "cdc_merge", crashing_merge)
    monkeypatch.setattr(VersionedTable, "commit", crashing_commit)
    monkeypatch.setattr(VersionedTable, "set_watermark", crashing_wm)
    monkeypatch.setattr(StreamRunner, "_maintenance", crashing_maint)


def _scenario(tmp_path, tag: str):
    """Backfill window (2 folders) now; change folders arrive via
    ``_add_changes`` AFTER the spec exists, so every drive exercises both
    the backfill finalize path and the per-tick merge path."""
    fx = SynapseFixture(tmp_path / f"source_{tag}")
    fx.upload_batch(minus(hours=3))
    fx.upload_batch(minus(hours=2), update_changelog=True)
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=str(tmp_path / f"source_{tag}"),
        target_root=str(tmp_path / f"target_{tag}"),
        # one folder per tick → several instrumented merge/commit/wm
        # windows instead of one whole-range group
        max_folders_per_tick=1,
        # force maintenance into the instrumented window every batch
        optimize_batch_threshold=1,
    )
    return fx, spec


def _add_changes(fx: SynapseFixture) -> str:
    fx.upload_batch(minus(minutes=40), add_upsert=True, update_changelog=True)
    fx.upload_batch(minus(minutes=20), add_delete=True, update_changelog=True)
    return fx.upload_batch(
        minus(minutes=5), add_upsert=True, add_delete=True, update_changelog=True
    )


def _drive(spark, spec) -> None:
    """The production program: backfill, then drain change ticks."""
    runner = StreamRunner(spark, spec)
    if runner.table.watermark() is None:
        runner.backfill()
    for _ in range(10):
        if runner.run_once() == 0:
            break


def _run_program(spark, spec, fx, plan: CrashPlan | None) -> tuple[str, bool]:
    """The real deployment timeline: backfill the history, THEN change
    folders arrive, THEN capture ticks drain them — each pipeline phase
    under the crash plan (the counter carries across phases, so one plan
    sweeps backfill ops and tick ops alike).  Data arrival itself is not
    a pipeline op and happens regardless of a crash.  Returns
    (source frontier, crashed?)."""
    crashed = False

    def phase(fn) -> None:
        nonlocal crashed
        if crashed:
            return
        if plan is None:
            fn()
            return
        with pytest.MonkeyPatch.context() as mp:
            _instrument(mp, plan)
            try:
                fn()
            except SimulatedCrash:
                crashed = True

    runner = StreamRunner(spark, spec)
    phase(runner.backfill)
    frontier = _add_changes(fx)

    def ticks() -> None:
        r = StreamRunner(spark, spec)
        for _ in range(10):
            if r.run_once() == 0:
                break

    phase(ticks)
    return frontier, crashed


def _state(spark, spec):
    t = VersionedTable(spec.target_root)
    df = t.read(spark)
    rows = frozenset(
        (r["Id"], r["versionnumber"], r["displayvalue"])
        for r in df.select("Id", "versionnumber", "displayvalue").collect()
    )
    return rows, t.watermark()


@pytest.mark.slow
def test_cdc_random_crash_injection_exactly_once(spark, tmp_path):
    """50 seeded runs, each crashing at a uniformly random instrumented
    op (or not at all — seeds past the op count double as clean-run
    controls); recovery is a FRESH runner draining the same source.
    Property: final rows and watermark equal the no-crash oracle's, for
    every seed, with zero divergent outcomes."""
    # no-crash oracle on its own source/target (folder names differ per
    # scenario — minus() is wall-clock-relative — so rows are compared
    # cross-scenario but the watermark against each run's OWN frontier)
    oracle_fx, oracle_spec = _scenario(tmp_path, "oracle")
    _run_program(spark, oracle_spec, oracle_fx, plan=None)
    oracle_rows, oracle_wm = _state(spark, oracle_spec)
    assert oracle_rows and oracle_wm is not None

    # count instrumented ops in a clean run to size the crash window
    counter_plan = CrashPlan(crash_at=0)  # 0 never fires
    count_fx, count_spec = _scenario(tmp_path, "count")
    _run_program(spark, count_spec, count_fx, plan=counter_plan)
    n_ops = counter_plan.seen
    assert n_ops >= 8, n_ops  # merge+commit+wm+maint across several groups
    count_rows, _ = _state(spark, count_spec)
    assert count_rows == oracle_rows  # instrumentation itself is transparent

    divergent = []
    for seed in range(50):
        rng = random.Random(seed)
        # +3 headroom: some seeds crash nowhere (clean-run controls)
        crash_at = rng.randint(1, n_ops + 3)
        tag = f"s{seed}"
        fx, spec = _scenario(tmp_path, tag)
        plan = CrashPlan(crash_at)
        frontier, crashed = _run_program(spark, spec, fx, plan=plan)
        # recovery: fresh uninstrumented runner, same spec (restart model)
        _drive(spark, spec)
        rows, wm = _state(spark, spec)
        if rows != oracle_rows or wm != frontier:
            divergent.append(
                {
                    "seed": seed,
                    "crash_at": crash_at,
                    "crashed": crashed,
                    "rows_ok": rows == oracle_rows,
                    "wm": wm,
                    "frontier": frontier,
                }
            )
    assert divergent == [], divergent
