"""Merge-on-read sink mode (sink.IceboxSink mode="mor") — SURVEY.md §2.1.

MoR appends LWW-winner file versions per micro-batch (O(batch) writes)
and resolves LWW at read time; it must be observationally identical to
copy-on-write: same converged state, same exactly-once behaviour, same
schema-evolution semantics, and compaction must not change the state.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from merlin_spark.apply import table_view
from merlin_spark.fixtures import ChangelogSpec, gen_changelog, write_segments
from merlin_spark.oracle import expected_state, lww_winners
from merlin_spark.sink import IceboxSink
from merlin_spark.stream import StreamConfig, replay


def _final(spark, table_path) -> pd.DataFrame:
    got = table_view(IceboxSink(spark, table_path).read(), None).toPandas()
    return got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _assert_state(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp)
    exp = exp.reset_index(drop=True)
    pd.testing.assert_series_equal(got["text"], exp["text"], check_names=False)
    pd.testing.assert_series_equal(got["conv_id"], exp["conv_id"], check_names=False)


@pytest.fixture()
def log():
    return gen_changelog(
        ChangelogSpec(seed=23, n_events=3000, n_convs=40, dup_rate=0.1,
                      pct_delete=0.12, n_evo=2)
    )


def _cfg(tmp_path, **kw) -> StreamConfig:
    return StreamConfig(
        log_path=str(tmp_path / "log"),
        table_path=str(tmp_path / "table"),
        checkpoint_path=str(tmp_path / "ckpt"),
        sink_mode="mor",
        **kw,
    )


def test_mor_replay_matches_oracle(spark, tmp_path, log):
    write_segments(log, str(tmp_path / "log"), n_segments=6)
    cfg = _cfg(tmp_path, max_files_per_trigger=2)
    replay(spark, cfg, timeout_s=180)
    _assert_state(_final(spark, cfg.table_path), expected_state(log))


def test_mor_equals_cow(spark, tmp_path, log):
    """Same log through both modes → byte-identical user-facing state."""
    write_segments(log, str(tmp_path / "log"), n_segments=5)
    mor = _cfg(tmp_path, max_files_per_trigger=2)
    replay(spark, mor, timeout_s=180)
    cow = StreamConfig(
        log_path=str(tmp_path / "log"),
        table_path=str(tmp_path / "table_cow"),
        checkpoint_path=str(tmp_path / "ckpt_cow"),
        sink_mode="cow",
        max_files_per_trigger=2,
    )
    replay(spark, cow, timeout_s=180)
    pd.testing.assert_frame_equal(
        _final(spark, mor.table_path), _final(spark, cow.table_path)
    )


def test_mor_compaction_preserves_state_and_folds_files(spark, tmp_path, log):
    write_segments(log, str(tmp_path / "log"), n_segments=6)
    cfg = _cfg(tmp_path, max_files_per_trigger=1)  # 6 batches → 6 versions
    replay(spark, cfg, timeout_s=240)
    sink = IceboxSink(spark, cfg.table_path)
    before = _final(spark, cfg.table_path)
    n_files_before = sum(len(fl) for fl in sink.manifest()["files"].values())
    sink.compact()
    after = _final(spark, cfg.table_path)
    n_files_after = sum(len(fl) for fl in sink.manifest()["files"].values())
    pd.testing.assert_frame_equal(before, after)
    assert n_files_after < n_files_before
    # vacuum removes the superseded version files
    assert sink.vacuum() > 0
    pd.testing.assert_frame_equal(_final(spark, cfg.table_path), after)


def test_compact_drop_tombstones_gcs_fully_tombstoned_bucket(spark, tmp_path):
    """A bucket whose rows are ALL tombstones must leave
    compact(drop_tombstones=True) with an EMPTY manifest entry so vacuum
    can GC its files — regression: a vanished bucket wrote no output dir
    and its old files silently stayed referenced, surviving the very
    compaction meant to remove them."""
    from merlin_spark.schemas import EVENT_SCHEMA

    sink = IceboxSink(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")

    def events(op, lsn0, ts):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "lsn": pd.array(range(lsn0, lsn0 + 5), dtype="int64"),
                    "op": [op] * 5,
                    "conv_id": ["convONLY"] * 5,
                    "turn_idx": pd.array(range(5), dtype="Int32"),
                    "role": [None if op == "D" else "user"] * 5,
                    "text": [None if op == "D" else "hello"] * 5,
                    "tool": [None] * 5,
                    "ts": [pd.Timestamp(ts)] * 5,
                    "evo_column": [None] * 5,
                    "evo_type": [None] * 5,
                    "extra": [None] * 5,
                }
            ),
            EVENT_SCHEMA,
        )

    sink.apply(events("I", 1, "2025-01-01"), 0)
    sink.apply(events("D", 100, "2025-01-02"), 1)  # tombstone every key
    assert sink.read().count() == 5  # tombstones retained pre-compaction
    sink.compact(drop_tombstones=True)
    man = sink.manifest()
    assert all(fl == [] for fl in man["files"].values())
    assert sink.read().count() == 0
    assert sink.vacuum() > 0  # the old files are now unreferenced → GC'd


def test_mor_crash_resume(spark, tmp_path, log):
    write_segments(log, str(tmp_path / "log"), n_segments=4)
    cfg = _cfg(tmp_path, max_files_per_trigger=1, fail_after_batch=1)
    with pytest.raises(Exception, match="injected crash"):
        replay(spark, cfg, timeout_s=180)
    cfg.fail_after_batch = None
    replay(spark, cfg, timeout_s=180)
    _assert_state(_final(spark, cfg.table_path), expected_state(log))
    man = IceboxSink(spark, cfg.table_path).manifest()
    assert len(man["applied"]) == len(set(man["applied"]))


def test_mor_mode_persisted_in_manifest(spark, tmp_path, log):
    """A reader constructed with the default mode must adopt the table's
    recorded mode (it's part of the table format)."""
    write_segments(log, str(tmp_path / "log"), n_segments=2)
    cfg = _cfg(tmp_path)
    replay(spark, cfg, timeout_s=180)
    reader = IceboxSink(spark, cfg.table_path)  # default mode="cow"
    assert reader.mode == "mor"
    _assert_state(_final(spark, cfg.table_path), expected_state(log))


def test_mor_periodic_compaction_during_stream(spark, tmp_path, log):
    """compact_every folds versions mid-stream (bounded read
    amplification on long tails) without disturbing convergence or the
    exactly-once ledger."""
    write_segments(log, str(tmp_path / "log"), n_segments=6)
    cfg = _cfg(tmp_path, max_files_per_trigger=1, compact_every=2)
    replay(spark, cfg, timeout_s=240)
    _assert_state(_final(spark, cfg.table_path), expected_state(log))
    man = IceboxSink(spark, cfg.table_path).manifest()
    assert len(man["applied"]) == len(set(man["applied"]))
    # version count: 6 applies + 3 compacts
    assert man["version"] >= 8


def test_mor_read_amplification_bounded_by_compaction(spark, tmp_path, log):
    """Quantified read-amplification bound on a long tail: with
    compact_every=C the file-version count per bucket never exceeds
    C + 1 at ANY snapshot in the table's history (one compacted file-set
    plus at most C appended version files before the next fold). Without
    the bound a 10^6-batch tail would accumulate 10^6 versions per
    bucket and reads would die re-resolving LWW over all of them."""
    write_segments(log, str(tmp_path / "log"), n_segments=12)
    C = 3
    cfg = _cfg(tmp_path, max_files_per_trigger=1, compact_every=C)
    replay(spark, cfg, timeout_s=300)
    sink = IceboxSink(spark, cfg.table_path)
    worst = 0
    for v in range(sink.current_version() + 1):
        man = sink.manifest(v)
        if man["files"]:
            worst = max(worst, max(len(fl) for fl in man["files"].values()))
    assert worst <= C + 1
    # final snapshot is freshly compacted (12 applies, compact every 3)
    final = sink.manifest()
    assert max(len(fl) for fl in final["files"].values()) == 1
    _assert_state(_final(spark, cfg.table_path), expected_state(log))


def test_read_key_point_lookup(spark, tmp_path, log):
    """read_key scans only the conversation's hash bucket and returns
    exactly the full-read rows for that key (bucket computed with the
    writer's own expression, so it cannot drift from the layout)."""
    write_segments(log, str(tmp_path / "log"), n_segments=3)
    cfg = _cfg(tmp_path, max_files_per_trigger=1)
    replay(spark, cfg, timeout_s=180)
    sink = IceboxSink(spark, cfg.table_path)
    full = sink.read_live().toPandas()
    conv = full["conv_id"].iloc[0]
    got = (
        sink.read_key(conv).toPandas()
        .sort_values("turn_idx").reset_index(drop=True)
    )
    exp = (
        full[full["conv_id"] == conv]
        .sort_values("turn_idx").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_time_travel_and_rollback(spark, tmp_path, log):
    """Iceberg parity: VERSION AS OF reads + rollback_to_snapshot.
    Immutable files + append-only manifests make old snapshots readable
    until vacuum; rollback is a new commit copying an old file set."""
    write_segments(log, str(tmp_path / "log"), n_segments=4)
    cfg = _cfg(tmp_path, max_files_per_trigger=1)
    replay(spark, cfg, timeout_s=240)
    sink = IceboxSink(spark, cfg.table_path)
    v_final = sink.manifest()["version"]
    assert v_final >= 3
    # AS OF v0: fewer (or equal) live rows than final, and readable
    v0_rows = sink.read_version(0).count()
    final_rows = sink.read().count()
    assert 0 < v0_rows <= final_rows
    # rollback to v0: table state equals the v0 read, history linear
    man = sink.rollback(0)
    assert man["version"] == v_final + 1 and man["rolled_back_to"] == 0
    assert sink.read().count() == v0_rows
    # vacuum now GCs files of the rolled-over snapshots, v0 data survives
    sink.vacuum()
    assert sink.read().count() == v0_rows
    # re-replay from a fresh checkpoint converges again (CDC re-tail)
    cfg2 = StreamConfig(
        log_path=cfg.log_path, table_path=cfg.table_path,
        checkpoint_path=str(tmp_path / "ckpt2"), sink_mode="mor",
    )
    replay(spark, cfg2, timeout_s=240)
    _assert_state(_final(spark, cfg.table_path), expected_state(log))


def test_compacted_read_skips_lww_resolution(spark, tmp_path, log):
    """After compact() every key has one version — the manifest marks
    the snapshot `resolved` and reads must SKIP the LWW key-hash
    shuffle (identity work on compacted data). A later append clears
    the flag and reads resolve again; state is identical throughout."""
    write_segments(log, str(tmp_path / "log"), n_segments=4)
    replay(spark, _cfg(tmp_path))
    sink = IceboxSink(spark, str(tmp_path / "table"))
    pre = _final(spark, str(tmp_path / "table"))

    sink.compact()
    assert sink.manifest()["resolved"] is True
    plan = sink.read()._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan, "resolved read still pays the LWW aggregate"
    _assert_state(_final(spark, str(tmp_path / "table")), pre)

    # new mor append → no longer single-version → flag cleared
    from tests.test_sink_concurrency import _events

    sink.apply(_events(spark, "I", 10**6, "2025-06-01", conv="convNEW"), 10**6)
    assert sink.manifest()["resolved"] is False
    plan2 = sink.read()._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan2
    got = _final(spark, str(tmp_path / "table"))
    assert (got["conv_id"] == "convNEW").sum() == 5


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_lsn_hi_is_monotone_high_water_under_out_of_order_batches(
    spark, tmp_path, log, mode
):
    """Manifest lsn_hi is the TABLE high-water mark, monotone across
    commits, even when batches arrive in descending lsn order (the
    files source orders by mod time, not lsn — distributed segment
    writers finish out of order). Regression for the 10^7 kill-9 soak
    finding: the batch value taken verbatim made lsn_hi go backward,
    reporting a converged table as a partial replay."""
    from merlin_spark.changelog import read_batch
    from merlin_spark.fixtures import write_segments

    write_segments(log, str(tmp_path / "log"), n_segments=2)
    max_lsn = int(log["lsn"].max())
    mid = int(log["lsn"].median())

    sink = IceboxSink(spark, str(tmp_path / "table"), n_buckets=4, mode=mode)
    # batch 0 = HIGH lsn half, batch 1 = LOW half (descending order)
    sink.apply(read_batch(spark, str(tmp_path / "log"), lsn_from=mid + 1), 0)
    assert sink.manifest()["lsn_hi"] == max_lsn
    sink.apply(read_batch(spark, str(tmp_path / "log"), lsn_to=mid), 1)
    assert sink.manifest()["lsn_hi"] == max_lsn  # must not regress
    # compaction carries the mark forward untouched
    sink.compact()
    assert sink.manifest()["lsn_hi"] == max_lsn


def test_mor_commit_stats_match_oracle(spark, tmp_path, log):
    """A mor batch's row count and lsn range, and its per-bucket lineage
    rows, come only from the footers of the files it wrote. They must
    equal the oracle's winner count and lsn range, overall and per
    bucket. An empty batch still commits (ledger) but adds no files,
    keeps the table's marks and writes no lineage."""
    from pyspark.sql import functions as F

    from merlin_spark.changelog import read_batch
    from merlin_spark.lineage import read_lineage

    write_segments(log, str(tmp_path / "log"), n_segments=2)
    table = str(tmp_path / "table")
    sink = IceboxSink(spark, table, n_buckets=4, mode="mor")
    sink.apply(read_batch(spark, str(tmp_path / "log")), 0)
    man = sink.manifest()
    win = lww_winners(log)
    assert man["total_rows"] == len(win)
    assert man["lsn_lo_batch"] == int(win["lsn"].min())
    assert man["lsn_hi"] == int(win["lsn"].max())

    # per bucket, with the writer's own bucket expression
    b_of = (
        spark.createDataFrame(win[["conv_id"]].drop_duplicates())
        .select("conv_id",
                F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int").alias("bucket"))
        .toPandas()
    )
    exp = win.merge(b_of, on="conv_id").groupby("bucket")["lsn"].agg(
        ["size", "min", "max"])
    lin = read_lineage(spark, table).toPandas().set_index("bucket").sort_index()
    assert (lin["batch_id"] == 0).all()
    assert lin.index.tolist() == exp.index.tolist()
    assert lin["n_rows"].tolist() == exp["size"].tolist()
    assert lin["lsn_lo"].tolist() == exp["min"].tolist()
    assert lin["lsn_hi"].tolist() == exp["max"].tolist()

    # empty batch: no files, marks and row count carried forward
    empty = read_batch(spark, str(tmp_path / "log"),
                       lsn_from=int(log["lsn"].max()) + 1)
    after = sink.apply(empty, 1)
    assert after["version"] == man["version"] + 1
    assert after["files"] == man["files"]
    assert after["total_rows"] == len(win)
    assert after["lsn_hi"] == man["lsn_hi"]
    assert after["lsn_lo_batch"] is None
    assert "default:1" in after["applied"]
    assert set(read_lineage(spark, table).toPandas()["batch_id"]) == {0}
    _assert_state(_final(spark, table), expected_state(log))


def test_footer_job_is_sized_by_file_count(spark, tmp_path, monkeypatch):
    """The commit-stats footer job runs one slice per 256 files: a
    16-bucket commit reads its 16 footers in ONE task of ONE job, 300
    files take 2 slices."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import SparkContext

    slices = []
    orig = SparkContext.parallelize

    def spy(self, c, numSlices=None):
        slices.append(numSlices)
        return orig(self, c, numSlices)

    monkeypatch.setattr(SparkContext, "parallelize", spy)
    sink = IceboxSink(spark, str(tmp_path / "table"), n_buckets=16, mode="mor")

    def files(n):
        rels = []
        for i in range(n):
            rel = f"data/stage-t{n}/b=0/part-{i:05d}.parquet"
            os.makedirs(os.path.dirname(os.path.join(sink.path, rel)), exist_ok=True)
            pq.write_table(pa.table({"conv_id": [f"c{i:05d}", f"c{i:05d}z"],
                                     "_lsn": pa.array([i, i + 1], pa.int64())}),
                           os.path.join(sink.path, rel))
            rels.append(rel)
        return {"0": rels}

    sc = spark.sparkContext
    sc.setJobGroup("footer-sizing", "footer job sizing test")
    try:
        got = sink._collect_file_stats(files(16))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("footer-sizing")
    assert len(jobs) == 1
    stages = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    assert [sc.statusTracker().getStageInfo(s).numTasks for s in stages] == [1]
    assert slices == [1]
    assert len(got) == 16
    assert all(st["rows"] == 2 for st in got.values())

    slices.clear()
    got = sink._collect_file_stats(files(300))
    assert slices == [2]
    assert len(got) == 300
    one = got["data/stage-t300/b=0/part-00299.parquet"]
    assert one["conv"] == ("c00299", "c00299z") and one["lsn"] == (299, 300)
