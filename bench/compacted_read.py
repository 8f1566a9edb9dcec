#!/usr/bin/env python3
"""Compacted-read benchmark at the bench shape (VERDICT r3 task #7).

The r3 sink change let reads of a compacted (single-version) mor
snapshot skip LWW resolution entirely (`resolved` manifest flag,
sink.py); the 2.8× speedup was measured on a 200k-row table. This
script records the number at the 2M-event bench shape:

  1. replay the standard 2M-event Zipf changelog into a mor table in 4
     micro-batches WITHOUT final compaction → multi-version buckets;
  2. time a full forced read (noop writer) of the uncompacted table —
     the read pays the key-hash shuffle + max_by LWW resolve;
  3. compact() (timed, for context), then time the same forced read
     again — the resolved-flag fast path (plain scan, no shuffle).

Each timing is best-of-``--repeats``.
Prints one JSON line and writes BENCH/COMPACTED_READ_<tag>.md.

Usage: python bench/compacted_read.py [--events 2000000] [--repeats 3]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from merlin_spark.fixtures import gen_changelog_spark  # noqa: E402
from merlin_spark.session import get_spark, prewarm_python_workers  # noqa: E402
from merlin_spark.sink import IceboxSink  # noqa: E402
from merlin_spark.stream import StreamConfig, replay  # noqa: E402


def _log(m: str) -> None:
    print(m, file=sys.stderr, flush=True)


def _timed_read(spark, sink: IceboxSink, repeats: int) -> dict:
    walls = []
    for _ in range(repeats):
        t0 = time.monotonic()
        sink.read_live().write.format("noop").mode("overwrite").save()
        walls.append(round(time.monotonic() - t0, 3))
    return {"best_sec": min(walls), "all_sec": walls}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32))))
    ap.add_argument("--tag", default="r04")
    args = ap.parse_args()

    spark = get_spark("merlin-compacted-read", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    prewarm_python_workers(spark)

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="merlin-cread-", dir=shm)
    try:
        log_path = os.path.join(work, "changelog")
        n_convs = max(1000, args.events // 500)
        n_segments = max(32, args.cpus * 2)
        gen_changelog_spark(spark, args.events, n_convs, log_path, seed=42,
                            zipf_s=1.2, n_segments=n_segments)
        cfg = StreamConfig(
            log_path=log_path,
            table_path=os.path.join(work, "table"),
            checkpoint_path=os.path.join(work, "ckpt"),
            n_buckets=max(32, args.cpus),
            sink_mode="mor",
            max_files_per_trigger=max(1, n_segments // 4),
        )
        replay(spark, cfg, timeout_s=3600.0)
        sink = IceboxSink(spark, cfg.table_path, cfg.n_buckets)
        n_versions = sink.manifest()["version"] + 1

        _log("[cread] timing UNCOMPACTED read (LWW resolve on read)")
        un = _timed_read(spark, sink, args.repeats)
        t0 = time.monotonic()
        sink.compact()
        compact_sec = round(time.monotonic() - t0, 3)
        assert sink.manifest()["resolved"] is True
        _log("[cread] timing COMPACTED read (resolved-flag fast path)")
        co = _timed_read(spark, sink, args.repeats)

        live_rows = sink.read_live().count()
        out = {
            "n_events": args.events,
            "cpus": args.cpus,
            "table_rows": live_rows,
            "n_commits_before_compact": n_versions,
            "uncompacted_read_sec": un["best_sec"],
            "compacted_read_sec": co["best_sec"],
            "speedup": round(un["best_sec"] / co["best_sec"], 2),
            "compact_sec": compact_sec,
            "uncompacted": un,
            "compacted": co,
        }
        md = os.path.join(REPO, "BENCH", f"COMPACTED_READ_{args.tag}.md")
        with open(md, "w") as f:
            f.write(f"""# Compacted vs uncompacted mor read — {args.events:,}-event bench shape

After the standard 4-micro-batch replay (mor, {cfg.n_buckets} buckets,
{n_versions} commits, {live_rows:,} live rows), a full forced read
(noop writer, best of {args.repeats} reps, tmpfs):

| state | read wall (s) |
|---|---|
| uncompacted (LWW key-hash shuffle + max_by resolve) | {un['best_sec']} |
| compacted (`resolved` manifest flag → plain scan) | {co['best_sec']} |

**Speedup {out['speedup']}×** (r3 measured 2.8× at 200k rows; this is
the recorded number at the bench shape). `compact()` itself cost
{compact_sec}s — amortized across every subsequent read and already
counted inside the headline replay wall.

Raw: ```{json.dumps(out)}```
""")
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
