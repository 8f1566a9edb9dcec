"""Opt-in convergence soak (set MERLIN_SOAK=1): 10^6 logical events
(~1.1M delivered with duplicates) through the capped binlog source,
merge-on-read sink, periodic compaction, and multi-row-group segments,
compared row-for-row against the pandas oracle.

Not part of the default suite (≈60 s). This exact scenario caught the
silent-partial-replay bug (availableNow single-batch fallback ×
max_lsn_per_trigger) that the small-fixture suite missed — scale soaks
exercise batch/window boundaries the small logs never hit.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest

from merlin_spark.apply import table_view
from merlin_spark.fixtures import ChangelogSpec, gen_changelog, write_segments
from merlin_spark.oracle import expected_state
from merlin_spark.sink import IceboxSink
from merlin_spark.stream import StreamConfig, replay

pytestmark = pytest.mark.skipif(
    not os.environ.get("MERLIN_SOAK"),
    reason="slow soak; set MERLIN_SOAK=1 to run",
)


def test_million_event_capped_binlog_convergence(spark):
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="merlin-soak-", dir=base)
    log = gen_changelog(ChangelogSpec(seed=777, n_events=1_000_000,
                                      n_convs=5000, dup_rate=0.10, n_evo=3))
    write_segments(log, f"{tmp}/log", n_segments=24, row_group_size=20000)
    cfg = StreamConfig(f"{tmp}/log", f"{tmp}/table", f"{tmp}/ckpt",
                       source_format="binlog", sink_mode="mor",
                       max_lsn_per_trigger=250_000, compact_every=2)
    replay(spark, cfg, timeout_s=500)
    got = (
        table_view(IceboxSink(spark, f"{tmp}/table").read(), None)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp = expected_state(log).reset_index(drop=True)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_series_equal(got["text"], exp["text"], check_names=False)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("source", ["files", "binlog"])
def test_ten_million_event_kill9_resume_convergence(spark, source):
    """Hard-crash soak at 10^7 events: SIGKILL the ENTIRE replay
    process group (python + JVM) mid-stream after ≥3 sink commits,
    then rerun the same replay_job CLI and require exact convergence
    vs the pandas oracle. Stronger than the in-process injected-crash
    tests: a kill -9 leaves arbitrary torn state (half-written data
    files, SS offset log ahead of the sink ledger, stale temp dirs)
    rather than a clean exception path, and at this scale the kill
    lands inside real multi-file micro-batches.

    Parametrized over both sources because their resume machinery is
    disjoint: files = SS file-source metadata log + availableNow
    replan; binlog = the custom Python DataSource's LSN-position
    offsets + capped processingTime drain + the position floor that
    guards latestOffset against regressing (it never clamps delivery).
    The files variant's first run caught the lsn_hi backward-march
    (see _commit)."""
    import glob
    import json
    import shutil
    import signal
    import subprocess
    import sys
    import time as _time

    import pyarrow.parquet as pq

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="merlin-soak9-", dir=base)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "PYSPARK_PYTHON": sys.executable}
    job = os.path.join(repo, "jobs", "replay_job.py")
    replay_cmd = [
        sys.executable, job, "--log", f"{tmp}/log", "--table", f"{tmp}/table",
        "--ckpt", f"{tmp}/ckpt", "--sink-mode", "mor", "--n-buckets", "16",
        "--cores", "8", "--source-format", source,
    ] + (["--max-lsn-per-trigger", "1250000"] if source == "binlog"
         else ["--max-files-per-trigger", "4"])
    try:
        gen = subprocess.run(
            [sys.executable, job, "--log", f"{tmp}/log", "--table", "unused",
             "--ckpt", "unused", "--gen-events", "10000000", "--gen-only",
             "--cores", "8"],
            capture_output=True, text=True, timeout=900, env=env,
        )
        assert gen.returncode == 0, gen.stderr[-2000:]

        # run 1: kill the whole process group once commit v2 exists
        with open(f"{tmp}/run1.err", "w") as errf:
            p = subprocess.Popen(replay_cmd, env=env, start_new_session=True,
                                 stdout=subprocess.DEVNULL, stderr=errf)
            marker = f"{tmp}/table/snapshots/v2.json"
            deadline = _time.monotonic() + 600
            while _time.monotonic() < deadline:
                if os.path.exists(marker):
                    os.killpg(p.pid, signal.SIGKILL)
                    break
                if p.poll() is not None:  # exited before v2?! fail loudly
                    with open(f"{tmp}/run1.err") as f:
                        raise AssertionError(
                            "replay exited rc=%s before kill marker: %s"
                            % (p.returncode, f.read()[-2000:])
                        )
                _time.sleep(0.2)
        rc = p.wait(timeout=60)
        assert rc != 0, "expected the killed run to die non-zero"

        # run 2: same table/ckpt — must resume and converge
        r2 = subprocess.run(replay_cmd, capture_output=True, text=True,
                            timeout=1800, env=env)
        if r2.returncode != 0:
            # keep the FULL resume stderr outside tmp for post-mortem
            # (the finally-rmtree would eat it)
            with open(f"/tmp/merlin_soak9_{source}_r2_stderr.txt", "w") as f:
                f.write(r2.stderr)
        assert r2.returncode == 0, r2.stderr[-4000:]
        line = json.loads(r2.stdout.strip().splitlines()[-1])
        assert line["lsn_hi"] == 10_000_000

        got = (
            table_view(IceboxSink(spark, f"{tmp}/table").read(), None)
            .toPandas().sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        log = pd.concat(
            pq.read_table(f).to_pandas()
            for f in sorted(glob.glob(f"{tmp}/log/*.parquet"))
        )
        exp = expected_state(log).reset_index(drop=True)
        assert len(got) == len(exp), (len(got), len(exp), f"kept: {tmp}")
        pd.testing.assert_series_equal(got["text"], exp["text"],
                                       check_names=False)
        shutil.rmtree(tmp, ignore_errors=True)
    except BaseException:
        # keep the dir — a convergence failure here is exactly-once
        # evidence worth a post-mortem; /dev/shm is wiped on reboot
        raise
