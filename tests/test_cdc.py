"""E2E CDC scenario — port of the reference's only executable oracle
(StreamRunner.scala:176-235): backfill two folders → 5 rows, stream
upsert/delete/no-op batches → exactly 6 rows, deleted key gone, updated
key at the bumped version, watermark at the frontier. Plus idempotency
(replay) and crash-between-commit-and-watermark probes."""

from __future__ import annotations

import pytest

from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner, StreamSpec
from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

from .synapse_fixture import BASE_VERSION, ENTITY, KEYS, SynapseFixture, minus


@pytest.fixture()
def scenario(tmp_path):
    fx = SynapseFixture(tmp_path / "source")
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=str(tmp_path / "source"),
        target_root=str(tmp_path / "target"),
    )
    return fx, spec


def _ids_and_versions(df):
    return {r["Id"]: r["versionnumber"] for r in df.select("Id", "versionnumber").collect()}


def test_rows_merged_counts_rows_that_took_effect(spark, scenario, tmp_path):
    """The per-batch metric line carries incoming rows and the rows that
    passed the version guard: a tick made only of stale re-uploads of the
    base file records rows=5, merged=0."""
    import json

    fx, spec = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    metrics = tmp_path / "metrics.jsonl"
    runner = StreamRunner(spark, StreamSpec(**{**spec.__dict__, "metrics_path": str(metrics)}))
    assert runner.backfill() == 5

    fx.upload_batch(minus(minutes=15), update_changelog=True)  # stale re-upload only
    assert runner.run_once() == 1
    fx.upload_batch(minus(minutes=10), add_upsert=True, update_changelog=True)
    assert runner.run_once() == 1
    fx.upload_batch(minus(minutes=5), add_delete=True, update_changelog=True)
    assert runner.run_once() == 1

    lines = [json.loads(x) for x in open(metrics)]
    # backfill: 5 inserts; stale tick; 1 update + 2 inserts; 1 delete
    assert [(x["rows"], x["merged"]) for x in lines] == [(5, 5), (5, 0), (8, 3), (6, 1)]
    assert runner.table.read(spark).count() == 6


def test_backfill_then_stream(spark, scenario):
    fx, spec = scenario
    # two backfill folders with the same 5 keys; changelog at the newer one
    fx.upload_batch(minus(hours=2))
    newest = fx.upload_batch(minus(hours=1), update_changelog=True)

    runner = StreamRunner(spark, spec)
    assert runner.backfill() == 5
    assert runner.table.watermark() == newest

    # streamed changes: upsert+delete folder, delete folder, no-op folder
    fx.upload_batch(minus(minutes=15), add_delete=True, add_upsert=True)
    fx.upload_batch(minus(minutes=10), add_delete=True)
    frontier = fx.upload_batch(minus(minutes=5), update_changelog=True)

    assert runner.run_once() == 3

    result = runner.table.read(spark)
    state = _ids_and_versions(result)
    assert len(state) == 5 - 1 + 2
    assert KEYS[0] not in state  # deleted key gone
    assert state[KEYS[1]] == BASE_VERSION + 100  # update survived stale re-uploads
    assert KEYS[5] in state and KEYS[6] in state  # inserts landed
    assert runner.table.watermark() == frontier

    # no pending work → no-op tick
    assert runner.run_once() == 0


def test_replay_is_idempotent(spark, scenario):
    fx, spec = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, spec)
    runner.backfill()

    fx.upload_batch(minus(minutes=15), add_delete=True, add_upsert=True, update_changelog=True)
    runner.run_once()
    before = _ids_and_versions(runner.table.read(spark))
    v_before = runner.table.current_version()

    # simulate crash between snapshot commit and watermark: rewind watermark
    runner.table.set_watermark(fx.folder_name(minus(hours=1)))
    runner.run_once()  # replays the already-merged folder

    after = _ids_and_versions(runner.table.read(spark))
    assert after == before  # version guard makes the replay a no-op
    assert runner.table.current_version() == v_before + 1  # new snapshot, same content


def test_delete_then_stale_reupload_nets_to_delete(spark, scenario):
    """A delete and a later stale re-upload of the same key within one
    capture window must net to a delete (the group-dedup semantics)."""
    fx, spec = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, spec)
    runner.backfill()

    fx.upload_batch(minus(minutes=10), add_delete=True)  # delete KEYS[0]
    fx.upload_batch(minus(minutes=5), update_changelog=True)  # stale base re-upload
    runner.run_once()

    state = _ids_and_versions(runner.table.read(spark))
    assert KEYS[0] not in state
    assert len(state) == 4


def test_backfill_merge_behavior(spark, scenario):
    """Backfill with Merge finalization folds into the live target (B16)."""
    fx, spec = scenario
    fx.upload_batch(minus(hours=2), update_changelog=True)
    runner = StreamRunner(spark, spec)
    runner.backfill()
    assert runner.table.read(spark).count() == 5

    fx.upload_batch(minus(minutes=30), add_upsert=True, update_changelog=True)
    spec2 = StreamSpec(**{**spec.__dict__, "backfill_behavior": "Merge", "backfill_start": None})
    runner2 = StreamRunner(spark, spec2)
    assert runner2.backfill() == 7  # 5 + 2 inserts, update folded in

    state = _ids_and_versions(runner2.table.read(spark))
    assert state[KEYS[1]] == BASE_VERSION + 100


def test_sharded_backfill_resumes_after_crash(spark, scenario, monkeypatch):
    """B14/B17: a backfill killed mid-shard resumes from the recorded state
    and completes without re-staging finished shards."""
    fx, spec = scenario
    fx.upload_batch(minus(hours=3))
    fx.upload_batch(minus(hours=2), add_upsert=True)
    fx.upload_batch(minus(hours=1), add_delete=True, update_changelog=True)

    runner = StreamRunner(spark, spec)

    from arcane_stream_microsoft_synapse_link_spark.sources.synapse import SynapseLinkSource

    calls = {"n": 0}
    real = SynapseLinkSource.read_folders

    def flaky(self, spark_, folders):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash during shard staging")
        return real(self, spark_, folders)

    monkeypatch.setattr(SynapseLinkSource, "read_folders", flaky)
    with pytest.raises(RuntimeError):
        runner.backfill_sharded("bf-1", num_shards=3)

    monkeypatch.setattr(SynapseLinkSource, "read_folders", real)
    staged_before_resume = calls["n"]
    n = runner.backfill_sharded("bf-1", num_shards=3)

    # 5 base + 2 inserts - 1 delete (Overwrite drops deletes)
    assert n == 6
    state = _ids_and_versions(runner.table.read(spark))
    assert KEYS[0] not in state
    assert state[KEYS[1]] == BASE_VERSION + 100
    # shard 0 was not re-staged on resume (state file skipped it)
    assert staged_before_resume == 2

    # state + staging cleaned up after finalize (B12 dispose)
    import os

    assert not os.path.exists(os.path.join(spec.target_root, "_backfill", "bf-1"))
    assert not os.path.exists(
        os.path.join(spec.target_root, "_meta", "backfill_bf-1.json")
    )


def test_sharded_backfill_finalize_retries(spark, scenario, monkeypatch):
    """The backfillOnly retry mode covers the sharded backfill's finalize:
    a commit that fails once is retried and the backfill completes."""
    from arcane_stream_microsoft_synapse_link_spark.operators.retry import RetryPolicy

    fx, spec = scenario
    fx.upload_batch(minus(hours=2))
    head = fx.upload_batch(minus(hours=1), add_upsert=True, update_changelog=True)
    retry = RetryPolicy(mode="backfillOnly", base_duration_s=0.0)
    runner = StreamRunner(spark, StreamSpec(**{**spec.__dict__, "retry": retry}))
    real_commit = VersionedTable.commit
    fails = {"n": 1}

    def flaky_commit(self, df, **kw):
        if fails["n"]:
            fails["n"] -= 1
            raise RuntimeError("simulated commit conflict")
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "commit", flaky_commit)
    assert runner.backfill_sharded("bf-retry", num_shards=2) == 7
    assert fails["n"] == 0
    assert runner.table.watermark() == head


def test_bucketed_incremental_commit(spark, tmp_path):
    """With merge-key bucketing the CDC merge touches only the buckets the
    batch changes: result identical to the unbucketed runner, and the
    untouched buckets' files in the new snapshot are hard links to (same
    inode as) the previous snapshot — commit cost ∝ change set."""
    import os

    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    specs = {
        name: StreamSpec(
            entity_name=ENTITY,
            source_root=str(tmp_path / "source"),
            target_root=str(tmp_path / name),
            bucket_count=bc,
        )
        for name, bc in (("plain", 0), ("bucketed", 8))
    }
    runners = {n: StreamRunner(spark, s) for n, s in specs.items()}
    for r in runners.values():
        r.backfill()

    # narrow change batch: only the delete + upsert keys, no base re-upload
    fx.upload_batch(
        minus(minutes=15),
        add_delete=True,
        add_upsert=True,
        include_base=False,
        update_changelog=True,
    )
    for r in runners.values():
        assert r.run_once() == 1

    plain = _ids_and_versions(runners["plain"].table.read(spark))
    bucketed = _ids_and_versions(runners["bucketed"].table.read(spark))
    assert bucketed == plain  # same CDC semantics
    assert len(bucketed) == 5 - 1 + 2

    # hard-link proof: some bucket dir in v2 shares inodes with v1
    t = runners["bucketed"].table
    v2, v1 = t._snapshot_dir(2), t._snapshot_dir(1)
    linked = rewritten = 0
    for d in os.listdir(v2):
        if not d.startswith("__bucket="):
            continue
        old = os.path.join(v1, d)
        if not os.path.isdir(old):
            rewritten += 1  # brand-new bucket (inserted keys)
            continue
        new_files = [f for f in os.listdir(os.path.join(v2, d)) if f.endswith(".parquet")]
        old_files = {f for f in os.listdir(old) if f.endswith(".parquet")}
        if new_files and all(
            f in old_files
            and os.path.samefile(os.path.join(v2, d, f), os.path.join(old, f))
            for f in new_files
        ):
            linked += 1
        else:
            rewritten += 1
    assert linked >= 1, "expected at least one untouched bucket to be hard-linked"
    assert rewritten >= 1, "expected at least one touched bucket to be rewritten"


def test_sweep_staging_keeps_active(spark, scenario, tmp_path):
    """B12 startup sweep: abandoned backfill staging + state removed, the
    active (resumable) backfill kept."""
    import os

    fx, spec = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, spec)
    staging = os.path.join(spec.target_root, "_backfill")
    meta = os.path.join(spec.target_root, "_meta")
    for bf_id in ("dead1", "active"):
        os.makedirs(os.path.join(staging, bf_id, "shard_0"), exist_ok=True)
        os.makedirs(meta, exist_ok=True)
        with open(os.path.join(meta, f"backfill_{bf_id}.json"), "w") as fh:
            fh.write("{}")

    removed = runner.sweep_staging(keep_backfill_id="active")
    assert removed == ["dead1"]
    assert not os.path.exists(os.path.join(staging, "dead1"))
    assert not os.path.exists(os.path.join(meta, "backfill_dead1.json"))
    assert os.path.exists(os.path.join(staging, "active"))
    assert os.path.exists(os.path.join(meta, "backfill_active.json"))


def test_schema_evolution_through_batch_runner(spark, scenario):
    """Mixed-schema capture window through the batch runner (B7/B10): an
    evolved folder and a pre-evolution folder merge in one tick; new column
    lands, old rows null."""
    fx, spec = scenario
    fx.upload_batch(minus(hours=2), update_changelog=True)
    runner = StreamRunner(spark, spec)
    runner.backfill()

    fx.upload_batch(minus(minutes=30), add_upsert=True)
    fx.upload_evolved_batch(
        minus(minutes=10),
        key=KEYS[3],
        version=BASE_VERSION + 400,
        display="D-EVO",
        extra_value="E9",
        update_changelog=True,
    )
    assert runner.run_once() == 2

    df = runner.table.read(spark)
    assert "extracol" in df.columns
    vals = {r["Id"]: r["extracol"] for r in df.select("Id", "extracol").collect()}
    assert vals[KEYS[3]] == "E9"
    assert all(v is None for k, v in vals.items() if k != KEYS[3])
    state = _ids_and_versions(df)
    assert state[KEYS[3]] == BASE_VERSION + 400 and len(state) == 7


def test_unified_schema_rejects_migration(spark, scenario):
    """staging.table.isUnifiedSchema: true disables B10 — an evolved batch
    must fail the merge instead of auto-adding the column, and the target
    stays at its pre-batch state (commit never happens)."""
    import dataclasses

    import pytest

    fx, spec = scenario
    spec = dataclasses.replace(spec, is_unified_schema=True)
    fx.upload_batch(minus(hours=2), update_changelog=True)
    runner = StreamRunner(spark, spec)
    assert runner.backfill() == 5

    # same-schema change batch still merges fine
    fx.upload_batch(minus(minutes=30), add_upsert=True, update_changelog=True)
    assert runner.run_once() == 1
    assert runner.table.read(spark).count() == 7

    fx.upload_evolved_batch(
        minus(minutes=10),
        key=KEYS[3],
        version=BASE_VERSION + 400,
        display="D-EVO",
        extra_value="E9",
        update_changelog=True,
    )
    with pytest.raises(ValueError, match="isUnifiedSchema"):
        runner.run_once()
    df = runner.table.read(spark)
    assert "extracol" not in df.columns and df.count() == 7


def test_multi_entity_runner(spark, tmp_path):
    """Two entity streams consolidated in one app: concurrent backfill,
    then a change batch on ONE stream advances only that stream."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import MultiEntityRunner

    fxs, specs = [], []
    for i in range(2):
        fx = SynapseFixture(str(tmp_path / f"src{i}"))
        fx.upload_batch(minus(hours=2), update_changelog=True)
        fxs.append(fx)
        specs.append(
            StreamSpec(
                entity_name=ENTITY,
                source_root=str(tmp_path / f"src{i}"),
                target_root=str(tmp_path / f"tgt{i}"),
            )
        )
    t0, t1 = specs[0].target_root, specs[1].target_root

    m = MultiEntityRunner(spark, specs)
    assert m.backfill_all() == {t0: 5, t1: 5}

    fxs[0].upload_batch(minus(minutes=10), add_upsert=True, update_changelog=True)
    assert m.run_once_all() == {t0: 1, t1: 0}
    assert m.runners[t0].table.read(spark).count() == 7
    assert m.runners[t1].table.read(spark).count() == 5

    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        MultiEntityRunner(spark, [specs[0], specs[0]])


def test_suspend_resume_reload_lifecycle(spark, scenario):
    """arcane/state analog (docs/crd.md:9-14): suspended → ticks are no-ops
    (no merges, watermark frozen); resumed → capture catches up; reload-
    requested → in-place re-backfill then back to running."""
    fx, spec = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, spec)
    runner.backfill()
    wm = runner.table.watermark()

    # suspend: pending work exists but the tick must not touch it
    fx.upload_batch(minus(minutes=15), add_upsert=True, update_changelog=True)
    runner.request_suspend()
    assert runner.desired_state() == StreamRunner.STATE_SUSPENDED
    assert runner.run_once() == 0
    assert runner.table.watermark() == wm  # frozen while suspended

    # resume: the same tick now consumes the backlog and advances
    runner.request_resume()
    assert runner.run_once() == 1
    assert runner.table.watermark() != wm
    state = _ids_and_versions(runner.table.read(spark))
    assert KEYS[5] in state  # the upsert landed after resume

    # reload: the tick re-runs backfill in place and flips back to running
    v_before = runner.table.current_version()
    runner.request_reload()
    assert runner.run_once() == 0
    assert runner.desired_state() == StreamRunner.STATE_RUNNING
    assert runner.table.current_version() > v_before  # backfill re-committed
    # a SIGUSR1-style toggle flips suspend on and off
    runner.toggle_suspend()
    assert runner.desired_state() == StreamRunner.STATE_SUSPENDED
    runner.toggle_suspend()
    assert runner.desired_state() == StreamRunner.STATE_RUNNING


def test_merge_type_widening_newest_schema_wins(spark):
    """B10 type evolution: a new batch whose model.json widens a column
    (int64 → string here, the CDM widening case) casts the target's
    historical column to the staged type; values survive the widening and
    the version guard still applies."""
    from arcane_stream_microsoft_synapse_link_spark.operators.merge import cdc_merge

    target = spark.createDataFrame(
        [("k1", 10, 100), ("k2", 20, 100)],
        "arcane_merge_key string, ordinal bigint, versionnumber bigint",
    )
    staged = spark.createDataFrame(
        [("k2", "twenty-one", 200), ("k3", "thirty", 100)],
        "arcane_merge_key string, ordinal string, versionnumber bigint",
    )
    out = cdc_merge(target, staged)
    assert dict(out.dtypes)["ordinal"] == "string"
    rows = {r["arcane_merge_key"]: (r["ordinal"], r["versionnumber"]) for r in out.collect()}
    assert rows == {
        "k1": ("10", 100),          # historical value widened, not lost
        "k2": ("twenty-one", 200),  # newer version updated
        "k3": ("thirty", 100),      # insert in the new schema
    }
    # stale re-upload in the NEW schema is still a no-op (version guard)
    stale = spark.createDataFrame(
        [("k2", "stale", 150)],
        "arcane_merge_key string, ordinal string, versionnumber bigint",
    )
    again = {r["arcane_merge_key"]: r["ordinal"] for r in cdc_merge(out, stale).collect()}
    assert again["k2"] == "twenty-one"


@pytest.mark.slow
def test_multi_entity_runner_eight_entities(spark, tmp_path):
    """VERDICT r6 item 6: consolidated operation at N=8 — eight entity
    streams in ONE Spark app: concurrent backfill, a change batch on
    every entity drained in one concurrent tick, per-entity watermark and
    row-count asserts (streams stay fully isolated), then one SHARED
    maintenance pass (maintain_all: C1-C3 compaction/expiry + C4 stats)
    across all eight."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import (
        MultiEntityRunner,
    )

    fxs, specs = [], []
    n_entities = 8
    for i in range(n_entities):
        fx = SynapseFixture(str(tmp_path / f"src{i}"))
        fx.upload_batch(minus(hours=2), update_changelog=True)
        fxs.append(fx)
        specs.append(
            StreamSpec(
                entity_name=ENTITY,
                source_root=str(tmp_path / f"src{i}"),
                target_root=str(tmp_path / f"tgt{i}"),
            )
        )
    m = MultiEntityRunner(spark, specs, max_workers=8)

    got = m.backfill_all()
    assert got == {s.target_root: 5 for s in specs}

    # change batches: entity i gets i%3 flavors — all drain in ONE tick
    expected_rows = {}
    for i, (fx, spec) in enumerate(zip(fxs, specs)):
        if i % 3 == 0:
            fx.upload_batch(minus(minutes=10), add_upsert=True, update_changelog=True)
            expected_rows[spec.target_root] = 7  # 5 base + 2 inserts
        elif i % 3 == 1:
            fx.upload_batch(minus(minutes=10), add_delete=True, update_changelog=True)
            expected_rows[spec.target_root] = 4  # 5 base - 1 delete
        else:
            expected_rows[spec.target_root] = 5  # no new folder
    merged = m.run_once_all()
    assert all(
        (merged[s.target_root] == 1) == (i % 3 != 2)
        for i, s in enumerate(specs)
    ), merged

    for i, spec in enumerate(specs):
        r = m.runners[spec.target_root]
        assert r.table.read(spark).count() == expected_rows[spec.target_root], i
        # per-entity watermark: advanced to the change folder where one
        # arrived, still at the backfill folder where none did
        wm = r.table.watermark()
        want = fxs[i].folder_name(
            minus(minutes=10) if i % 3 != 2 else minus(hours=2)
        )
        assert wm == want, (i, wm, want)

    stats = m.maintain_all()
    assert set(stats) == {s.target_root for s in specs}
    for i, spec in enumerate(specs):
        assert stats[spec.target_root]["rows"] == expected_rows[spec.target_root]


@pytest.mark.slow
def test_multi_entity_failure_isolation(spark, tmp_path):
    """VERDICT r8 item 6: one entity failing mid-tick must not take down
    the other seven.  Entity 0's change folder carries a corrupted
    model.json (schema parse throws inside its merge path); the
    consolidated tick raises ``MultiEntityError`` whose ``failures`` names
    exactly that entity while ``results`` carries the other seven — whose
    merges committed and watermarks ADVANCED.  Entity 0's watermark did
    not move (commit-then-watermark), so after repairing the folder the
    next tick drains it cleanly with zero duplicate effects."""
    import os

    import pytest as _pytest

    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import (
        MultiEntityError,
        MultiEntityRunner,
    )

    fxs, specs = [], []
    n_entities = 8
    for i in range(n_entities):
        fx = SynapseFixture(str(tmp_path / f"src{i}"))
        fx.upload_batch(minus(hours=2), update_changelog=True)
        fxs.append(fx)
        specs.append(
            StreamSpec(
                entity_name=ENTITY,
                source_root=str(tmp_path / f"src{i}"),
                target_root=str(tmp_path / f"tgt{i}"),
            )
        )
    m = MultiEntityRunner(spark, specs, max_workers=8)
    assert m.backfill_all() == {s.target_root: 5 for s in specs}
    backfill_wm = {s.target_root: m.runners[s.target_root].table.watermark() for s in specs}

    folders = [
        fx.upload_batch(minus(minutes=10), add_upsert=True, update_changelog=True)
        for fx in fxs
    ]
    bad_model = os.path.join(str(tmp_path / "src0"), folders[0], "model.json")
    good_model_text = open(bad_model).read()
    with open(bad_model, "w") as fh:
        fh.write("{this is not json")

    with _pytest.raises(MultiEntityError) as exc:
        m.run_once_all()
    err = exc.value
    assert set(err.failures) == {specs[0].target_root}
    assert set(err.results) == {s.target_root for s in specs[1:]}
    for i, spec in enumerate(specs[1:], start=1):
        r = m.runners[spec.target_root]
        assert err.results[spec.target_root] == 1
        assert r.table.read(spark).count() == 7  # 5 base + 2 upserts
        assert r.table.watermark() == folders[i]  # advanced
    r0 = m.runners[specs[0].target_root]
    assert r0.table.read(spark).count() == 5  # untouched
    assert r0.table.watermark() == backfill_wm[specs[0].target_root]  # did not move

    # repair and resume: ONLY entity 0 has pending work; the tick drains
    # it and the other seven no-op
    with open(bad_model, "w") as fh:
        fh.write(good_model_text)
    merged = m.run_once_all()
    assert merged[specs[0].target_root] == 1
    assert all(merged[s.target_root] == 0 for s in specs[1:])
    assert r0.table.read(spark).count() == 7
    assert r0.table.watermark() == folders[0]


@pytest.mark.slow
def test_multi_entity_per_entity_suspend_and_reload(spark, tmp_path):
    """VERDICT r9 item 6: the reference's arcane/state annotation is
    per-CR (docs/crd.md:9-14) — in the consolidated runner one entity can
    be SUSPENDED while the other seven keep streaming (its watermark and
    rows freeze, theirs advance), resume drains its backlog with no
    duplicate effects, and a per-entity RELOAD re-backfills only that
    entity in place."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import (
        MultiEntityRunner,
    )

    n_entities = 8
    fxs, specs = [], []
    for i in range(n_entities):
        fx = SynapseFixture(str(tmp_path / f"src{i}"))
        fx.upload_batch(minus(hours=2), update_changelog=True)
        fxs.append(fx)
        specs.append(
            StreamSpec(
                entity_name=ENTITY,
                source_root=str(tmp_path / f"src{i}"),
                target_root=str(tmp_path / f"tgt{i}"),
            )
        )
    m = MultiEntityRunner(spark, specs, max_workers=8)
    assert m.backfill_all() == {s.target_root: 5 for s in specs}
    t0 = specs[0].target_root
    wm0 = m.runners[t0].table.watermark()

    # suspend entity 0, then a change folder lands for EVERY entity
    m.suspend_entity(t0)
    assert m.states()[t0] == "suspended"
    assert all(v == "running" for k, v in m.states().items() if k != t0)
    folders = [
        fx.upload_batch(minus(minutes=10), add_upsert=True, update_changelog=True)
        for fx in fxs
    ]
    merged = m.run_once_all()
    assert merged[t0] == 0  # paused: no scan, no merge
    assert m.runners[t0].table.watermark() == wm0
    assert m.runners[t0].table.read(spark).count() == 5
    for i, spec in enumerate(specs[1:], start=1):
        r = m.runners[spec.target_root]
        assert merged[spec.target_root] == 1
        assert r.table.read(spark).count() == 7
        assert r.table.watermark() == folders[i]

    # resume: only entity 0 has backlog; it drains, others no-op
    m.resume_entity(t0)
    merged = m.run_once_all()
    assert merged[t0] == 1
    assert all(merged[s.target_root] == 0 for s in specs[1:])
    assert m.runners[t0].table.read(spark).count() == 7
    assert m.runners[t0].table.watermark() == folders[0]

    # per-entity reload: entity 1 re-backfills in place; nobody else moves
    t1 = specs[1].target_root
    counts_before = {
        s.target_root: m.runners[s.target_root].table.read(spark).count()
        for s in specs
    }
    m.reload_entity(t1)
    assert m.states()[t1] == "reload-requested"
    merged = m.run_once_all()
    assert merged[t1] == 0  # the reload tick reports no folders consumed
    assert m.states()[t1] == "running"
    got = {
        s.target_root: m.runners[s.target_root].table.read(spark).count()
        for s in specs
    }
    assert got == counts_before  # re-backfill reproduces the same state
    # unknown target is a clear error, not a silent no-op
    import pytest as _pytest

    with _pytest.raises(KeyError, match="known targets"):
        m.suspend_entity(str(tmp_path / "nope"))


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the number
    of Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tick_job_count_guard(spark, scenario):
    """A tick's fixed cost, in Spark jobs: one change tick into an existing
    flat target (maintenance off) parses, deduplicates, merges and commits
    in at most 3 jobs, and reading a snapshot starts none — its schema is
    pinned in the snapshot, not inferred from parquet footers."""
    import dataclasses

    fx, spec = scenario
    spec = dataclasses.replace(
        spec, optimize_batch_threshold=10**6, analyze_batch_threshold=10**6
    )
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, spec)
    assert runner.backfill() == 5

    fx.upload_batch(minus(minutes=5), add_upsert=True, add_delete=True, update_changelog=True)
    consumed, jobs = _jobs_of(spark, runner.run_once)
    assert consumed == 1
    assert jobs <= 3, f"tick ran {jobs} Spark jobs"

    df, jobs = _jobs_of(spark, lambda: runner.table.read(spark))
    assert jobs == 0, f"VersionedTable.read ran {jobs} Spark jobs"
    assert df.count() == 5 - 1 + 2
