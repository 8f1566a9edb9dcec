#!/usr/bin/env python3
"""Source-format scaling ladder (VERDICT r2 task #6): the SAME replay
job, the SAME generated input, run through BOTH stream sources —

  * ``files``  — Structured Streaming file source (file-name offsets),
    the headline bench path;
  * ``binlog`` — the custom ``merlin_binlog`` Python DataSource
    (LSN-position offsets, executor-parallel Arrow reads — the
    Debezium/WAL checkpoint model), optionally under
    ``max_lsn_per_trigger`` admission control;

at two parallelism levels each (local[N] / local[4N], separate JVMs via
spark-submit --py-files). Writes BENCH/SCALING_r03.md with throughput,
per-pair scaling efficiency, and the binlog-vs-files overhead ratio.

Usage: python bench/run_scaling_sources.py [--events 100000000]
           [--levels 8,32] [--repeats 2] [--binlog-cap-batches 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run_scaling import REPO, build_zip, submit  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--repeats", type=int, default=2,
                    help="runs per (source, level); best wall kept")
    ap.add_argument("--binlog-cap-batches", type=int, default=4,
                    help="binlog admission control sized to land this "
                         "many capped micro-batches (0 = uncapped: one "
                         "availableNow batch)")
    ap.add_argument("--out",
                    default=os.path.join(REPO, "BENCH", "SCALING_r03.md"))
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    formats = ["files", "binlog"]

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="merlin-srcladder-", dir=base)
    try:
        pyfiles = build_zip(os.path.join(work, "merlin_spark.zip"))
        log_path = os.path.join(work, "changelog")
        submit(f"local[{max(levels)}]", pyfiles, [
            "--log", log_path, "--table", os.path.join(work, "_i"),
            "--ckpt", os.path.join(work, "_ic"),
            "--gen-events", str(args.events), "--gen-only",
            "--cores", str(max(levels)),
        ])

        cap = (args.events // args.binlog_cap_batches
               if args.binlog_cap_batches else 0)
        results: dict[tuple[str, int], dict] = {}
        for rep in range(args.repeats):
            for fmt in formats:
                for n in levels:  # interleaved: noise hits all cells alike
                    table = os.path.join(work, f"t-{fmt}-{n}-{rep}")
                    ckpt = os.path.join(work, f"c-{fmt}-{n}-{rep}")
                    job = [
                        "--log", log_path, "--table", table, "--ckpt", ckpt,
                        "--n-buckets", "32", "--sink-mode", "mor",
                        "--compact", "--cores", str(n),
                        "--source-format", fmt,
                    ]
                    if fmt == "files":
                        job += ["--max-files-per-trigger", "16"]
                    elif cap:
                        job += ["--max-lsn-per-trigger", str(cap)]
                    res = submit(f"local[{n}]", pyfiles, job)
                    print(f"[srcladder] {fmt} local[{n}] rep{rep}: {res}",
                          file=sys.stderr, flush=True)
                    key = (fmt, n)
                    if key not in results or res["wall_sec"] < results[key]["wall_sec"]:
                        results[key] = res
                    shutil.rmtree(table, ignore_errors=True)
                    shutil.rmtree(ckpt, ignore_errors=True)

        rows = "\n".join(
            f"| {fmt} | local[{n}] | {results[(fmt, n)]['wall_sec']} | "
            f"{results[(fmt, n)]['events_per_sec']:,.0f} |"
            for fmt in formats for n in levels
        )
        eff_rows = []
        for fmt in formats:
            for a, b in zip(levels, levels[1:]):
                r = b / a
                eff = (results[(fmt, b)]["events_per_sec"]
                       / (r * results[(fmt, a)]["events_per_sec"]))
                eff_rows.append(f"| {fmt} | local[{a}] → local[{b}] "
                                f"({r:.0f}×) | {eff:.3f} |")
        over_rows = [
            f"| local[{n}] | "
            f"{results[('binlog', n)]['wall_sec'] / results[('files', n)]['wall_sec']:.3f}× |"
            for n in levels
        ]

        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            f.write(f"""# BENCH/SCALING_r03 — both stream sources, same input

The identical bounded CDC replay ({args.events:,} seeded Zipf events,
seed=42, mor sink + final compaction, `spark-submit --py-files`) run
through BOTH stream sources on the SAME generated changelog, at both
parallelism levels, interleaved best-of-{args.repeats} on tmpfs
(sandbox-noise protocol of BENCH/BASELINE.md):

- **files** — Structured Streaming file source, file-name offsets,
  `max_files_per_trigger=16`;
- **binlog** — custom `merlin_binlog` Python DataSource: LSN-position
  checkpoint offsets, footer-stat segment planning, executor-parallel
  Arrow reads{', `max_lsn_per_trigger=' + format(cap, ',') + '` (' + str(args.binlog_cap_batches) + ' capped micro-batches)' if cap else ' (single availableNow batch)'}.

| source | parallelism | replay wall (s) | throughput (events/s) |
|---|---|---|---|
{rows}

| source | scale-up | efficiency = tput(kN) / (k × tput(N)) |
|---|---|---|
{chr(10).join(eff_rows)}

| parallelism | binlog wall / files wall |
|---|---|
{chr(10).join(over_rows)}

Environment caveats identical to BENCH/BASELINE.md (shared VM,
hypervisor steal at full width, one shared memory bus); the
interleaved schedule exposes every (source, level) cell to the same
noise. Raw best-per-cell results:

```json
{json.dumps({f"{fmt}-local[{n}]": v for (fmt, n), v in results.items()}, indent=2)}
```
""")
        print(json.dumps({
            "tputs": {f"{fmt}-{n}": results[(fmt, n)]["events_per_sec"]
                      for fmt in formats for n in levels},
            "out": args.out,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
