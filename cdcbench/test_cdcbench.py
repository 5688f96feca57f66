"""Self-tests of the CDC benchmark: seeded inputs and the oracle.

    python3 -m pytest cdcbench -q -p no:cacheprovider

The generator tests need no Spark. ``test_oracle_agrees_with_engine`` runs
two operations of each workload, shrunk to a few hundred rows, through the
engine and checks them with the benchmark's own probe.
"""

from __future__ import annotations

import csv
import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def _tick_inputs(work: str, seed: int) -> None:
    wl = workloads.TickLargeTarget(work, seed)
    wl.prepare()
    for _ in range(3):
        name, lines = wl.feed.make_folder(workloads.TICK_CHANGE_ROWS, **workloads.TICK_MIX)
        wl.feed.write_folder(name, lines)
        wl.feed.publish(name)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes(tmp_path, name):
    def build(tag: str, seed: int) -> str:
        work = str(tmp_path / tag)
        if name == "tick_large_target":
            _tick_inputs(work, seed)
        else:
            workloads.WORKLOADS[name](work, seed).prepare()
        return work

    assert _same_tree(build("a", 7), build("b", 7))
    assert not _same_tree(build("a", 7), build("c", 8))


def _replay(root: str, folders: list[str]) -> dict[str, int]:
    """Reference CDC semantics over the files on disk: per key the highest
    version wins, a winning delete removes the key."""
    latest: dict[str, tuple[int, bool]] = {}
    for f in folders:
        with open(os.path.join(root, f, gen.ENTITY, "data.csv"), newline="") as fh:
            for row in csv.reader(fh):
                assert len(row) == len(gen.COLUMNS)
                key, version, deleted = row[0], int(row[21]), row[24] == "True"
                if key not in latest or version > latest[key][0]:
                    latest[key] = (version, deleted)
    return {k: v for k, (v, d) in latest.items() if not d}


def test_oracle_matches_replay(tmp_path):
    feed = gen.ChangeFeed(str(tmp_path / "src"), seed=3)
    feed.add_folder(2000)
    kinds = {"stale": 0, "delete": 0}
    for _ in range(6):
        before = dict(feed.live)
        name, lines = feed.make_folder(500, **workloads.TICK_MIX)
        feed.write_folder(name, lines)
        for row in csv.reader(lines):
            k = int(row[0][-12:], 16)
            if row[24] == "True":
                kinds["delete"] += 1
            elif k in before and int(row[21]) < before[k]:
                kinds["stale"] += 1
    assert kinds["stale"] > 0 and kinds["delete"] > 0
    want = _replay(feed.root, feed.folders)
    assert want == {gen.key_id(k): v for k, v in feed.live.items()}
    assert feed.checksum() == (
        len(want), sum(gen.row_checksum(int(k[-12:], 16), v) for k, v in want.items())
    )


@pytest.fixture(scope="module")
def spark():
    from arcane_stream_microsoft_synapse_link_spark.session import get_spark

    return get_spark("cdcbench-tests", shuffle_partitions=4)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_oracle_agrees_with_engine(tmp_path, monkeypatch, spark, name):
    import run

    for const, tiny in {
        "BACKFILL_ROWS_PER_FOLDER": 300,
        "TICK_TARGET_ROWS_PER_FOLDER": 300,
        "TICK_CHANGE_ROWS": 100,
        "DRAIN_ROWS_PER_FOLDER": 300,
    }.items():
        monkeypatch.setattr(workloads, const, tiny)
    wl = workloads.WORKLOADS[name](str(tmp_path), seed=5)
    wl.prepare()
    wl.setup(spark)
    for _ in range(2):
        res = wl.op(spark)
        assert res["errors"] == []
        _, _, errors = run.probe(spark, res)
        assert errors == []
        wl.finish_op(res)


def test_probe_reports_a_wrong_target(tmp_path, spark):
    """The oracle check fails when the target lacks a change."""
    import run

    wl = workloads.Backfill(str(tmp_path), seed=9)
    wl.feed = gen.build_backlog(str(tmp_path / "src"), 9, 2, 200, workloads.BACKFILL_MIX)
    res = wl.op(spark)
    name, lines = wl.feed.make_folder(10, updates=1.0)  # oracle moves, target does not
    _, _, errors = run.probe(spark, res)
    assert errors and "oracle" in errors[0]
