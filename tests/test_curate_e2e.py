"""End-to-end composition tests (VERDICT r4 task #1): CDC-replay a
seeded changelog through the streaming engine, then run training-data
assembly (SFT pairs → packing → epoch shuffle) over the CONVERGED
table, checked against the independent pandas oracle composed with a
pandas re-implementation of the pair window."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from merlin_spark.curate import epoch_shuffle, pack_pairs, sft_pairs
from merlin_spark.fixtures import ChangelogSpec, gen_changelog, write_segments
from merlin_spark.oracle import expected_state
from merlin_spark.sink import IceboxSink
from merlin_spark.stream import StreamConfig, replay


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """One streamed replay shared by the module's assertions."""
    base = tmp_path_factory.mktemp("curate-e2e")
    spec = ChangelogSpec(seed=99, n_events=3000, n_convs=40, dup_rate=0.06,
                         ooo_window=64, n_evo=2)
    log = gen_changelog(spec)
    write_segments(log, str(base / "log"), n_segments=3)
    cfg = StreamConfig(
        log_path=str(base / "log"),
        table_path=str(base / "table"),
        checkpoint_path=str(base / "ckpt"),
        n_buckets=8,
        sink_mode="mor",
    )
    replay(spark, cfg, timeout_s=300.0)
    sink = IceboxSink(spark, cfg.table_path, 8, mode="mor")
    return sink, log


def _expected_pairs(log: pd.DataFrame, k: int = 2) -> pd.DataFrame:
    """Pandas composition of the replay oracle + the pair window."""
    exp = expected_state(log).sort_values(["conv_id", "turn_idx"])
    exp["turn"] = exp["role"].fillna("") + ": " + exp["text"].fillna("")
    rows = []
    for _conv, g in exp.groupby("conv_id", sort=True):
        turns = g["turn"].tolist()
        for i, (_, r) in enumerate(g.iterrows()):
            ctx = " | ".join(turns[max(0, i - k):i])
            rows.append({
                "conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
                "context": ctx, "target": r["turn"],
                "n_tokens": len(r["text"].split(" ")),
            })
    return pd.DataFrame(rows)


def test_sft_pairs_match_composed_oracle(spark, replayed):
    sink, log = replayed
    got = (
        sft_pairs(sink.read_live(), k=2)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = _expected_pairs(log, k=2).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ["conv_id", "turn_idx", "context", "target", "n_tokens"]:
        pd.testing.assert_series_equal(
            got[c], exp[c], check_names=False, check_dtype=False
        )


def test_pack_assignment_is_deterministic_and_exhaustive(spark, replayed):
    sink, _log = replayed
    pairs = pack_pairs(sft_pairs(sink.read_live()), budget=128)
    pdf = pairs.toPandas()
    # every pair assigned, offsets inside the budget
    assert pdf["pack_id"].notna().all()
    assert ((pdf["pack_offset"] >= 0) & (pdf["pack_offset"] < 128)).all()
    # deterministic: a second run produces identical assignments
    pdf2 = pack_pairs(sft_pairs(sink.read_live()), budget=128).toPandas()
    a = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = pdf2.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # pandas mirror of the pair size: a conversation's first pair has
    # an empty context, which holds no tokens
    ctx_tokens = a["context"].map(lambda c: len(c.split(" ")) if c else 0)
    assert (a["context"] == "").any()
    assert (a["pair_tokens"] == ctx_tokens + a["n_tokens"]).all()
    # running-sum contract: within a shard, offsets advance by the
    # previous pair's token length modulo the budget boundary
    one = a[a["shard"] == a["shard"].iloc[0]].sort_values(
        ["conv_id", "turn_idx"])
    cum = 0
    for _, r in one.iterrows():
        assert r["pack_id"] == cum // 128
        assert r["pack_offset"] == cum % 128
        cum += r["pair_tokens"]


def test_epoch_shuffle_is_seeded_permutation(spark, replayed):
    sink, _log = replayed
    packs = pack_pairs(sft_pairs(sink.read_live()), budget=128)
    e0 = epoch_shuffle(packs, epoch=0).toPandas()
    e0b = epoch_shuffle(packs, epoch=0).toPandas()
    e1 = epoch_shuffle(packs, epoch=1).toPandas()
    key = ["shard", "pack_id"]
    a = e0.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, e0b.sort_values(key).reset_index(drop=True))
    # same pack set, different epoch → different order, same ranks-set
    b = e1.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key], b[key])
    assert not a["pos"].equals(b["pos"])
    # per-shard ranks are a 1..n permutation
    for _s, g in a.groupby("shard"):
        assert sorted(g["pos"].tolist()) == list(range(1, len(g) + 1))


def test_curate_job_cli_end_to_end(spark, tmp_path):
    """The spark-submit entry, run in-process (same SparkSession —
    spark-submit itself is covered by bench/run_scaling.py runs): gen →
    replay → pairs → packs → shuffle, one JSON line out."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "curate_job.py"),
         "--log", str(tmp_path / "log"), "--table", str(tmp_path / "table"),
         "--ckpt", str(tmp_path / "ckpt"), "--out", str(tmp_path / "pairs"),
         "--gen-events", "2000", "--gen-convs", "30", "--n-buckets", "8",
         "--cores", "4", "--budget", "128"],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": repo,
             "PYSPARK_PYTHON": sys.executable},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    import json

    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert line["n_pairs"] > 0 and line["n_packs"] > 0
    assert line["replay_sec"] <= line["wall_sec"]


def test_replay_and_maintenance_job_clis(spark, tmp_path):
    """The ops entries' CLI wiring, run in-process (spark-submit itself
    is covered by bench/run_scaling.py and was smoke-run with --py-files
    over both jobs — BENCH/BASELINE.md): replay_job gen→replay, then
    maintenance_job --compact --expire-keep 1 --vacuum, and the
    maintained table must still equal the pandas LWW oracle (compaction
    / snapshot expiry / file GC may never change table state)."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "PYSPARK_PYTHON": sys.executable}

    r = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "replay_job.py"),
         "--log", str(tmp_path / "log"), "--table", str(tmp_path / "table"),
         "--ckpt", str(tmp_path / "ckpt"), "--gen-events", "2000",
         "--gen-convs", "30", "--n-buckets", "8", "--cores", "4",
         "--sink-mode", "mor"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rline = json.loads(r.stdout.strip().splitlines()[-1])
    assert rline["n_events"] == 2000 and rline["snapshot_version"] >= 0

    m = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "maintenance_job.py"),
         "--table", str(tmp_path / "table"), "--compact",
         "--expire-keep", "1", "--vacuum", "--cores", "4"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert m.returncode == 0, m.stderr[-2000:]
    mline = json.loads(m.stdout.strip().splitlines()[-1])
    # ctor must adopt mode/buckets from the manifest, not defaults
    assert mline["mode"] == "mor"
    assert mline["compacted_to_version"] == mline["version"]
    assert mline["expired_snapshots"] >= 1 and mline["vacuumed_files"] >= 1

    import glob

    import pyarrow.parquet as pq

    live = (
        IceboxSink(spark, str(tmp_path / "table"))
        .read_live()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    log = pd.concat(
        pq.read_table(f).to_pandas()
        for f in sorted(glob.glob(str(tmp_path / "log" / "*.parquet")))
    )
    exp = (
        expected_state(log)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(live) == len(exp)
    assert live["text"].equals(exp["text"])
