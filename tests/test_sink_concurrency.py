"""Optimistic-concurrency commits + snapshot expiration (Iceberg
parity): exclusive snapshot publication, mor commit rebase on conflict,
expire_snapshots bounding manifest growth."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from merlin_spark.apply import prepare_batch, route_ops
from merlin_spark.schemas import EVENT_SCHEMA
from merlin_spark.sink import CommitConflictError, IceboxSink


def _events(spark, op, lsn0, ts, conv="convA", n=5):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "lsn": pd.array(range(lsn0, lsn0 + n), dtype="int64"),
                "op": [op] * n,
                "conv_id": [conv] * n,
                "turn_idx": pd.array(range(n), dtype="Int32"),
                "role": ["user"] * n,
                "text": [f"text {lsn0}"] * n,
                "tool": [None] * n,
                "ts": [pd.Timestamp(ts)] * n,
                "evo_column": [None] * n,
                "evo_type": [None] * n,
                "extra": [None] * n,
            }
        ),
        EVENT_SCHEMA,
    )


def test_commit_is_exclusive_not_clobbering(spark, tmp_path):
    """Two writers committing the same snapshot version: the second must
    get CommitConflictError — a silent rename would overwrite the first
    writer's commit (lost update)."""
    sink = IceboxSink(spark, str(tmp_path / "t"), n_buckets=4)
    man = sink.manifest()  # both writers read the same parent state
    sink._commit(dict(man), {}, 0, None, None, 0)
    with pytest.raises(CommitConflictError, match="concurrent writer"):
        sink._commit(dict(man), {}, 0, None, None, 0)


def test_rollback_is_exclusive_not_clobbering(spark, tmp_path, monkeypatch):
    """A rollback shares the commit's publish step: if its target
    version was committed after it read the current snapshot, it raises
    CommitConflictError, the winner's manifest stays as it was, and no
    tmp manifest is left behind."""
    sink = IceboxSink(spark, str(tmp_path / "t"), n_buckets=4)
    sink._commit(sink.manifest(), {}, 0, None, None, 0)  # v0
    sink._commit(sink.manifest(), {}, 1, None, None, 0)  # v1
    snaps = tmp_path / "t" / "snapshots"
    v1 = (snaps / "v1.json").read_bytes()
    real = sink.manifest
    # the rollback reads the current snapshot as it was before v1 landed
    monkeypatch.setattr(sink, "manifest",
                        lambda version=None: real(0 if version is None else version))
    with pytest.raises(CommitConflictError, match="concurrent writer"):
        sink.rollback(0)
    assert (snaps / "v1.json").read_bytes() == v1
    assert sorted(os.listdir(snaps)) == ["v0.json", "v1.json"]


def test_mor_apply_rebases_on_conflict(spark, tmp_path):
    """mor commits are append-only, so losing the version race is
    resolved by re-reading the current manifest and re-attaching the
    already-written files — the concurrent commit's files must survive
    alongside this batch's (Iceberg fast-append retry)."""
    sink = IceboxSink(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    sink.apply(_events(spark, "I", 1, "2025-01-01", conv="convA"), 0)   # v0
    sink.apply(_events(spark, "I", 100, "2025-01-02", conv="convB"), 1)  # v1
    v1_files = {p for fl in sink.manifest()["files"].values() for p in fl}

    # a writer holding the STALE v0 state tries to commit batch 2: its
    # first attempt targets v1 (taken) → must rebase onto v1 and land v2
    stale = sink.manifest(0)
    winners = prepare_batch(
        route_ops(_events(spark, "I", 200, "2025-01-03", conv="convC"))[0], []
    )
    new_man = sink._apply_mor(stale, winners, 2, [])
    assert new_man["version"] == 2
    files_now = {p for fl in new_man["files"].values() for p in fl}
    assert v1_files <= files_now          # concurrent commit preserved
    assert len(files_now) > len(v1_files)  # and this batch's files landed
    got = sink.read_live().toPandas()
    assert set(got["conv_id"]) == {"convA", "convB", "convC"}
    assert "2" in {k.split(":")[1] for k in new_man["applied"]}


def test_read_key_prunes_by_file_stats(spark, tmp_path):
    """Per-file conv_id [min, max] manifest stats (Iceberg data-file
    stats parity): a point lookup skips same-bucket files whose key
    range excludes the conversation — pruning below bucket granularity."""
    sink = IceboxSink(spark, str(tmp_path / "t"), n_buckets=1, mode="mor")
    sink.apply(_events(spark, "I", 1, "2025-01-01", conv="convA"), 0)
    sink.apply(_events(spark, "I", 100, "2025-01-02", conv="convZ"), 1)
    man = sink.manifest()
    assert len(sink._select_files(man, [0], None)) == 2
    assert len(sink._select_files(man, [0], "convA")) == 1  # convZ file pruned
    got = sink.read_key("convA").toPandas()
    assert len(got) == 5 and set(got["conv_id"]) == {"convA"}


def test_expire_snapshots_bounds_manifest_growth(spark, tmp_path):
    sink = IceboxSink(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    for b in range(5):
        sink.apply(_events(spark, "I", 1 + 100 * b, "2025-01-01", conv=f"c{b}"), b)
    snap_dir = str(tmp_path / "t" / "snapshots")
    assert len(os.listdir(snap_dir)) == 5
    assert sink.expire_snapshots(keep_last=2) == 3
    assert sorted(os.listdir(snap_dir)) == ["v3.json", "v4.json"]
    # current state unaffected; maintenance still works on the survivor
    assert sink.read_live().count() == 25
    sink.compact()
    assert sink.vacuum() >= 0
    assert sink.read_live().count() == 25
