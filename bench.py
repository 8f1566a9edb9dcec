#!/usr/bin/env python3
"""Bench harness — prints ONE compact JSON line on stdout (driver
contract; the driver tail-captures ~2000 chars, so the per-query timing
map lives in a file under BENCH/, NOT inline — r3's inline map overflowed
the capture and the whole round's metrics went unparsed).

Two measurements (BASELINE.json:2 metric definition, SURVEY.md §6):

1. **CDC replay** (the headline `value`): generate a seeded, Zipf-skewed
   changelog with the distributed generator (no external data), then
   replay it through the real streaming path — ``readStream`` →
   ``foreachBatch`` → IceboxSink transactional MERGE — with
   ``trigger(availableNow=True)`` until converged. Reports wall-time and
   change-events/sec. ``replay_sec`` is the MEDIAN wall of the
   ``MERLIN_BENCH_REPEATS`` reps (``statistics.median_low``: the lower
   middle rep for an even count), so one slow or fast rep does not set
   the figure; every rep's wall goes to the BENCH/ file. Per-layer costs are perfbench's job
   (``perfbench/run.py --trace 1``).
2. **Headline queries**: every `queries()` qkey at ``$SPARK_GRAFT_SF_DIR``
   (default /root/testdata/sf0.1), each forced via the noop writer (full
   execution, no driver collect); per-query seconds written to
   ``BENCH/queries_{tag}.json``.

Env knobs:
  SPARK_GRAFT_SF_DIR        testdata dir         (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS          local[N] parallelism (default: all cores)
  MERLIN_BENCH_EVENTS       changelog size       (default 2_000_000)
  MERLIN_BENCH_QUERIES      comma-list filter    (default: all registered)
  MERLIN_SKIP_REPLAY        "1" → queries only
  MERLIN_BENCH_REPEATS      measured reps        (default 3)
  MERLIN_BENCH_TAG          BENCH/queries_<tag>.json name (default r05)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from merlin_spark.fixtures import gen_changelog_spark  # noqa: E402
from merlin_spark.session import get_spark  # noqa: E402
from merlin_spark.stream import StreamConfig, replay  # noqa: E402


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _force(df) -> None:
    """Execute the full plan without materialising on the driver."""
    df.write.format("noop").mode("overwrite").save()


def run_replay_bench(spark, n_events: int, cpus: int) -> dict:
    # tmpfs workdir when available: in local mode the single shared
    # virtual disk is an artifact of the sandbox (a real cluster's
    # aggregate disk bandwidth scales with nodes) — same rationale as
    # BENCH/BASELINE.md's scaling protocol
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="merlin-bench-", dir=shm)
    log_path = os.path.join(work, "changelog")
    try:
        n_convs = max(1000, n_events // 500)  # ~500 events/conversation
        n_segments = max(32, cpus * 2)
        t0 = time.monotonic()
        gen_changelog_spark(
            spark, n_events, n_convs, log_path, seed=42, zipf_s=1.2,
            n_segments=n_segments,
        )
        gen_s = time.monotonic() - t0
        _log(f"[bench] generated {n_events} events in {gen_s:.1f}s")

        # merge-on-read is the throughput-mode default: O(batch) writes
        # per micro-batch; final compact() (counted in the wall) folds
        # versions so the measured state is fully materialized
        sink_mode = os.environ.get("MERLIN_SINK_MODE", "mor")
        repeats = int(os.environ.get("MERLIN_BENCH_REPEATS", "3"))
        from merlin_spark.session import prewarm_python_workers

        prewarm_python_workers(spark)  # worker fork + imports ≠ replay cost
        walls: list[float] = []
        for rep in range(repeats):
            cfg = StreamConfig(
                log_path=log_path,
                table_path=os.path.join(work, f"table{rep}"),
                checkpoint_path=os.path.join(work, f"ckpt{rep}"),
                n_buckets=max(32, cpus),
                sink_mode=sink_mode,
                # 4 micro-batches: exercises incremental merge into a
                # growing table (the realistic CDC shape)
                max_files_per_trigger=max(1, n_segments // 4),
            )
            t0 = time.monotonic()
            replay(spark, cfg, timeout_s=3600.0)
            if sink_mode == "mor":
                # converged *materialized* state includes folding versions
                from merlin_spark.sink import IceboxSink

                IceboxSink(spark, cfg.table_path, cfg.n_buckets).compact()
            wall = time.monotonic() - t0
            walls.append(round(wall, 3))
            _log(f"[bench] replay rep{rep}: {wall:.1f}s")
            shutil.rmtree(cfg.table_path, ignore_errors=True)
            shutil.rmtree(cfg.checkpoint_path, ignore_errors=True)
        median = statistics.median_low(walls)
        return {
            "replay_sec": median,
            "events_per_sec": round(n_events / median, 1),
            "sink_mode": sink_mode,
            "n_events": n_events,
            # full per-rep detail goes to the BENCH/ file, not stdout
            "_reps": walls,
            "_gen_sec": round(gen_s, 3),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32)))
    n_events = int(os.environ.get("MERLIN_BENCH_EVENTS", "2000000"))
    tag = os.environ.get("MERLIN_BENCH_TAG", "r05")

    spark = get_spark("merlin-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    replay_stats: dict = {}
    if os.environ.get("MERLIN_SKIP_REPLAY") != "1":
        replay_stats = run_replay_bench(spark, n_events, cpus)

    from merlin_spark.queries import registry

    only = os.environ.get("MERLIN_BENCH_QUERIES")
    keys = [k.strip() for k in only.split(",")] if only else sorted(registry.QUERIES)
    qtimes: dict[str, float] = {}
    for k in keys:
        fn = registry.QUERIES[k]
        t0 = time.monotonic()
        _force(fn(spark, sf_dir))
        qtimes[k] = round(time.monotonic() - t0, 3)
        _log(f"[bench] {k}: {qtimes[k]:.2f}s")

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # per-query map + per-rep walls → file, so the stdout line stays
    # compact (see the module docstring)
    qfile = os.path.join(_HERE, "BENCH", f"queries_{tag}.json")
    os.makedirs(os.path.dirname(qfile), exist_ok=True)
    with open(qfile, "w") as f:
        json.dump(
            {
                "queries": qtimes,
                "sf": sf,
                "cpus": cpus,
                "replay_reps": replay_stats.get("_reps"),
                "gen_sec": replay_stats.get("_gen_sec"),
            },
            f,
            indent=1,
        )

    out = {
        "metric": "cdc_replay_wall_time",
        "value": replay_stats.get("replay_sec", round(sum(qtimes.values()), 3)),
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "queries_sec_total": round(sum(qtimes.values()), 3),
        "queries_n": len(qtimes),
        "queries_file": os.path.relpath(qfile, _HERE),
        **{k: v for k, v in replay_stats.items() if not k.startswith("_")},
    }
    line = json.dumps(out)
    if len(line) >= 1500:
        # NEVER crash here — r3 lost the whole round's metrics to an
        # overlong final line; degrade to the core fields instead
        core = {k: out.get(k) for k in
                ("metric", "value", "unit", "sf", "cpus", "replay_sec",
                 "events_per_sec", "queries_file")}
        line = json.dumps(core)
    print(line, flush=True)


if __name__ == "__main__":
    main()
