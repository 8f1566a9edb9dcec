#!/usr/bin/env python3
"""Benchmark of the CDC apply engine: one command per workload.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root; nothing is built. The benchmark drives
``merlin_spark`` only through its public entry points (``stream.replay``,
``stream.run_stream``, ``IceboxSink``) on ``local[nproc]`` from one
process, and passes only the settings that define a workload (sink mode,
source, batch sizing, ``compact_every``); everything else stays at the
engine's defaults. Inputs come from ``gen.py`` and the seed. Every table
a run produces is checked against ``oracle.py`` outside the timed window.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate run with Spark's event log on and spans
around the engine calls, and reports the per-layer metrics of
``layers.py``. After its timed window a traced run stops tracing and does
the same work once more (one more rep, or one more tail window);
``trace.overhead_ratio`` is the traced ``lag_p50_s`` over that one.

Workloads (BENCHMARK.json says why each was chosen):

- ``replay_bulk``: a bounded backfill. A seeded 96k-event log in 24
  segments is replayed with the files source into a ``mor`` table in 3
  micro-batches, then compacted, on a fresh table per repetition.
  Lag is per event, from the replay's start to the commit that made it
  visible.
- ``tail_steady``: an open-loop tail. A 100-segment history is applied
  through the checkpoint, then 10 segments/s are published by atomic
  rename on due times fixed in advance (one publisher thread), starting
  at a trigger tick, and tailed by ``run_stream`` (files source, ``mor``,
  ``compact_every=2``, ``processing_time="10 seconds"``).
  Lag is per segment, from its due time to the commit that made it
  visible.

Everything a run writes lives under ``.bench_work/`` at the repository
root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# --- workload shapes -------------------------------------------------
BULK = dict(events=96_000, n_convs=300, zipf_s=1.2, segments=24, batches=3,
            n_evo=2, max_warm=6)
TAIL = dict(n_convs=20_000, zipf_s=0.8, hist_events=2_000, hist_segments=100,
            rate=10.0, seg_events=200, trigger_s=10, compact_every=2,
            grace_s=30.0, n_evo=2)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    import numpy as np

    return float(np.quantile(np.asarray(values, dtype="float64"), q))


class Run:
    """One benchmark process: Spark session, work dir, timers, tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.work = os.path.join(ROOT, ".bench_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}  # per-layer metrics found directly
        self.spark = None
        self.tracer = None
        self.window_start = 0.0  # monotonic start of the timed window

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self) -> None:
        from merlin_spark.session import get_spark, prewarm_python_workers

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # python workers import merlin_spark from here; every temp file
        # of the JVMs and the workers stays in the work dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {}
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cores = len(os.sched_getaffinity(0))
        t0 = time.monotonic()
        self.spark = get_spark("merlin-perfbench", master=f"local[{cores}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        prewarm_python_workers(self.spark)
        self.setup["session.prewarm_s"] = time.monotonic() - t0
        if self.trace:
            from layers import Tracer

            self.tracer = Tracer(self.path("eventlog"))

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.tracer is not None:
            self.tracer.close()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None and getattr(gateway, "proc", None) is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits on EOF
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None


# --- measurement helpers ---------------------------------------------

def seg_max_lsn(table) -> int:
    import pyarrow.compute as pc

    return int(pc.max(table.column("lsn")).as_py())


def snapshots(table_path: str) -> list[tuple[int, int, float]]:
    """(version, lsn high-water mark, publish wall time) per snapshot."""
    d = os.path.join(table_path, "snapshots")
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            p = os.path.join(d, f)
            with open(p) as fh:
                man = json.load(fh)
            out.append((man["version"], man.get("lsn_hi", -1),
                        os.stat(p).st_mtime_ns / 1e9))
    return sorted(out)


def visible_at(snaps: list[tuple[int, int, float]], lsn: int) -> float | None:
    """Publish time of the first snapshot covering ``lsn``."""
    for _v, hi, t in snaps:
        if hi >= lsn:
            return t
    return None


def storage(table_path: str, after_version: int = -1) -> tuple[int, float]:
    """(bytes of data files written by the micro-batch commits after
    ``after_version``, bytes per live row of the latest compacted
    snapshot). A commit that raises the LSN high-water mark applied a
    batch; one that keeps it and changes the file set is a compaction."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from merlin_spark.schemas import SYSTEM_OP

    d = os.path.join(table_path, "snapshots")
    seen: set[str] = set()
    hi, applied, compacted = -1, 0, None
    for v, lsn_hi, _t in snapshots(table_path):
        with open(os.path.join(d, f"v{v}.json")) as f:
            files = {rel for fl in json.load(f)["files"].values() for rel in fl}
        new = files - seen
        if lsn_hi > hi and v > after_version:
            applied += sum(os.path.getsize(os.path.join(table_path, p)) for p in new)
        elif lsn_hi <= hi and new:
            compacted = files
        seen |= files
        hi = max(hi, lsn_hi)
        last = files
    paths = [os.path.join(table_path, p) for p in (compacted or last)]
    live = sum(pc.sum(pc.not_equal(pq.read_table(p, columns=[SYSTEM_OP])[SYSTEM_OP], "D")
                      ).as_py() or 0 for p in paths)
    return applied, sum(os.path.getsize(p) for p in paths) / max(live, 1)


def backlog_max(snaps, seg_hi: list[int], seg_n: list[int],
                published: list[float], after_version: int = -1) -> float:
    """Most events published but not yet visible, over the commits after
    ``after_version`` (sampled at each commit)."""
    worst = 0
    for v, hi, t in snaps:
        if v > after_version:
            worst = max(worst, sum(n for h, n, p in zip(seg_hi, seg_n, published)
                                   if p <= t and h > hi))
    return float(worst)


def table_layer(table_path: str) -> dict[str, float]:
    """Per-layer figures read from a table's own files: manifest size,
    most files in one bucket over all snapshots, lineage/metrics files
    per applied micro-batch."""
    d = os.path.join(table_path, "snapshots")
    mans = []
    for v, _hi, _t in snapshots(table_path):
        with open(os.path.join(d, f"v{v}.json")) as f:
            mans.append(json.load(f))
    batches = {m.get("batch_id") for m in mans} or {0}
    emitted = sum(len(os.listdir(os.path.join(table_path, sub)))
                  for sub in ("_lineage", "_metrics")
                  if os.path.isdir(os.path.join(table_path, sub)))
    return {
        "sink.manifest_bytes": float(os.path.getsize(
            os.path.join(d, f"v{mans[-1]['version']}.json"))),
        "sink.files_per_bucket_max": float(max(
            (len(fl) for m in mans for fl in m["files"].values()), default=0)),
        "lineage.files": emitted / len(batches),
    }


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and all descendants
    (the Spark JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def check_table(run: Run, table_path: str, log, evolved: list[str]) -> bool:
    """Does the table's ``read_live()`` equal the oracle's state?"""
    import oracle
    from merlin_spark.sink import IceboxSink

    got = IceboxSink(run.spark, table_path).read_live().toArrow()
    want = oracle.expected(log, evolved)
    g, w = oracle.digest(got, evolved), oracle.digest(want, evolved)
    if g != w:
        _log(f"MISMATCH {table_path}: rows {g[0]} vs expected {w[0]}")
    return g == w


# --- workloads -------------------------------------------------------

def replay_bulk(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen
    from merlin_spark.sink import IceboxSink
    from merlin_spark.stream import StreamConfig, replay

    s = BULK
    t0 = time.monotonic()
    st = gen.LogState.new(run.seed, s["n_convs"], s["zipf_s"])
    segs = gen.segments(st, s["events"], s["segments"], n_evo=s["n_evo"])
    log_dir = run.path("log")
    os.makedirs(log_dir)
    for i, t in enumerate(segs):
        pq.write_table(t, os.path.join(log_dir, f"segment-{i:06d}.parquet"))
    run.setup["gen.s"] = time.monotonic() - t0
    per_batch = s["segments"] // s["batches"]  # segments per micro-batch
    if run.trace:
        _log(f"input properties: {gen.properties(segs, per_batch)}")

    def one(rep: str, log_path: str, compact: bool = True) -> dict:
        due = time.time()  # the whole log is due when the rep is started
        cfg = StreamConfig(log_path=log_path, table_path=run.path(rep, "table"),
                           checkpoint_path=run.path(rep, "ckpt"), sink_mode="mor",
                           max_files_per_trigger=per_batch)
        w0, m0 = time.time(), time.monotonic()
        replay(run.spark, cfg)
        m1 = time.monotonic()
        if compact:
            IceboxSink(run.spark, cfg.table_path).compact()
        return {"table": cfg.table_path, "due": due, "late": w0 - due,
                "replay_s": m1 - m0, "total_s": time.monotonic() - m0}

    # warm-up: the same code path, one replay call (one micro-batch) per
    # segment of the log, linked into a log of its own, until two batches
    # in a row take within 1.25x of each other; then one compaction
    t0 = time.monotonic()
    warm_dir = run.path("warm-log")
    os.makedirs(warm_dir)
    prev = None
    for k in range(s["max_warm"]):
        name = f"segment-{k:06d}.parquet"
        os.link(os.path.join(log_dir, name), os.path.join(warm_dir, name))
        took = one("warm", warm_dir, compact=False)["replay_s"]
        _log(f"warm-up batch {k}: {took:.2f}s")
        if prev is not None and prev / 1.25 <= took <= 1.25 * prev:
            break
        prev = took
    IceboxSink(run.spark, run.path("warm", "table")).compact()
    run.setup["warmup_s"] = time.monotonic() - t0

    n_events = sum(t.num_rows for t in segs)
    seg_hi = [seg_max_lsn(t) for t in segs]
    seg_n = [t.num_rows for t in segs]

    def lags_of(r: dict) -> list[float]:
        """Per event: the rep's start to the commit that made it visible."""
        snaps = snapshots(r["table"])
        out = []
        for hi, n in zip(seg_hi, seg_n):
            t = visible_at(snaps, hi)
            out.extend([t - r["due"]] * n if t is not None else [])
        return out

    # timed window: reps while the next one (as long as the last) fits
    reps = []
    t_window = run.window_start = time.monotonic()
    if run.tracer:
        run.tracer.begin()
    while True:
        reps.append(one(f"rep{len(reps)}", log_dir))
        _log(f"rep {len(reps) - 1}: replay {reps[-1]['replay_s']:.2f}s, "
             f"with compaction {reps[-1]['total_s']:.2f}s")
        used = time.monotonic() - t_window
        if used + reps[-1]["total_s"] > run.seconds:
            break
    if run.tracer:
        run.tracer.end()
        # the same rep once more with tracing off, for trace.overhead_ratio
        run.tracer.stop(run.spark)
        untraced = one("untraced", log_dir)

    # outside the timed region: lags, bytes, oracle
    log = pa.concat_tables(segs)
    failed, lags, eps, written, live_bpr = 0, [], [], [], []
    for r in reps:
        lags.extend(lags_of(r))
        failed += 0 if check_table(run, r["table"], log, st.evolved) else 1
        eps.append(n_events / r["total_s"])
        applied, per_row = storage(r["table"])
        written.append(applied / n_events)
        live_bpr.append(per_row)
    if run.trace:
        run.layer.update(table_layer(reps[-1]["table"]))
        run.layer["gen.late_ms_max"] = max(r["late"] for r in reps) * 1000.0
        run.layer["source.backlog_events_max"] = max(
            backlog_max(snapshots(r["table"]), seg_hi, seg_n, [r["due"]] * len(segs))
            for r in reps)
        run.layer["trace.overhead_ratio"] = (
            quantile(lags, 0.5) / quantile(lags_of(untraced), 0.5))
    metrics = {
        "lag_p50_s": (quantile(lags, 0.5), "s"),
        "lag_p90_s": (quantile(lags, 0.9), "s"),
        "events_per_s": (statistics.median(eps), "events/s"),
        "bytes_written_per_event": (statistics.median(written), "B/event"),
        "live_bytes_per_row": (statistics.median(live_bpr), "B/row"),
    }
    return {"attempted": len(reps), "failed": failed, "metrics": metrics}


def tail_steady(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen
    from merlin_spark.stream import StreamConfig, run_stream

    s = TAIL
    t0 = time.monotonic()
    st = gen.LogState.new(run.seed, s["n_convs"], s["zipf_s"])
    hist = gen.segments(st, s["hist_events"], s["hist_segments"], n_evo=s["n_evo"])
    n_win = int(round(run.seconds * s["rate"]))
    # a traced run has an untraced window after the traced one, for
    # trace.overhead_ratio
    n_cmp = n_win if run.trace else 0
    segs = gen.segments(st, (n_win + n_cmp) * s["seg_events"], n_win + n_cmp)
    win, cmp = segs[:n_win], segs[n_win:]
    stage, log_dir = run.path("stage"), run.path("log")
    os.makedirs(stage)
    os.makedirs(log_dir)
    names = []
    for i, t in enumerate(hist + segs):
        names.append(f"segment-{i:06d}.parquet")
        pq.write_table(t, os.path.join(stage, names[-1]))
    run.setup["gen.s"] = time.monotonic() - t0

    def publish(i: int) -> None:
        # atomic: the source lists *.parquet, so a segment appears whole
        os.replace(os.path.join(stage, names[i]), os.path.join(log_dir, names[i]))

    table, ckpt = run.path("table"), run.path("ckpt")
    cfg = StreamConfig(log_path=log_dir, table_path=table,
                       checkpoint_path=ckpt, sink_mode="mor",
                       compact_every=s["compact_every"],
                       processing_time=f"{s['trigger_s']} seconds")

    def wait_visible(lsn: int, deadline: float, q) -> bool:
        while time.monotonic() < deadline:
            if not q.isActive:
                raise RuntimeError(f"stream died: {q.exception()}")
            snaps = snapshots(table)
            if snaps and snaps[-1][1] >= lsn:
                return True
            time.sleep(0.05)
        return False

    def settle() -> None:
        """Wait until no micro-batch is in flight (a batch's compaction
        ends before its commit)."""
        def ids(sub: str) -> list[int]:
            d = os.path.join(ckpt, sub)
            return [int(f) for f in os.listdir(d) if f.isdigit()] if os.path.isdir(d) else []

        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            started, done = ids("offsets"), ids("commits")
            if started and max(started) == max(done, default=-1):
                return
            time.sleep(0.05)
        raise RuntimeError("stream not idle in 60 s")

    def window(first: int, part: list, q) -> tuple[list[float], list[float]]:
        """Publish ``part`` (log segments ``first``...) from one thread at
        the workload's rate, on due times fixed in advance, and wait
        (at most ``grace_s``) until the last is visible. Returns the due
        and the publish times.

        The schedule starts at a tick of the trigger (Spark fires a
        processing-time trigger at multiples of its interval since the
        epoch), half a segment interval after it, so each tick takes the
        same share of segments in every run: a window of whole trigger
        periods gives waits spread evenly over the period, whatever the
        batch time. (With a trigger that fires
        as soon as the last batch ends, batch boundaries move with batch
        speed and the lag percentiles jump between runs by a whole batch.)"""
        period = s["trigger_s"]
        tick = (time.time() + 0.5) // period * period + period
        due = [tick + (j + 0.5) / s["rate"] for j in range(len(part))]
        done = [0.0] * len(part)

        def publisher() -> None:
            for j in range(len(part)):
                delay = due[j] - time.time()
                if delay > 0:
                    time.sleep(delay)
                publish(first + j)
                done[j] = time.time()

        th = threading.Thread(target=publisher, name="perfbench-publisher")
        th.start()
        th.join()
        wait_visible(seg_max_lsn(part[-1]), time.monotonic() + s["grace_s"], q)
        return due, done

    # warm-up: the history, in the log before the stream starts, is the
    # first micro-batch through the checkpoint, so every window starts at
    # batch 1 and compacts after the same batches. (Running tail batches
    # until their time levels off would make each run at least ~16 s
    # longer.)
    t0 = time.monotonic()
    for i in range(len(hist)):
        publish(i)
    os.makedirs(os.path.join(table, "snapshots"), exist_ok=True)
    q = run_stream(run.spark, cfg)
    try:
        if not wait_visible(seg_max_lsn(hist[-1]), time.monotonic() + 120, q):
            raise RuntimeError("history not applied in 120 s")
        settle()
        run.setup["warmup_s"] = time.monotonic() - t0
        first = len(hist)  # log index of the first window segment

        # timed window, up to the commit of its last micro-batch
        win_version = snapshots(table)[-1][0]
        run.window_start = time.monotonic()
        if run.tracer:
            run.tracer.begin()
        due, done = window(first, win, q)
        settle()
        if run.tracer:
            run.tracer.end()
            # the same window once more with tracing off, for
            # trace.overhead_ratio (a compaction after a batch does not
            # delay its segments: they are visible at the batch's commit)
            run.tracer.stop(run.spark)
            cmp_due, _ = window(first + n_win, cmp, q)
    finally:
        # stop between triggers: interrupting a running foreachBatch
        # call makes the stream thread die noisily
        idle_by = time.monotonic() + 30
        while q.isActive and q.status["isTriggerActive"] and time.monotonic() < idle_by:
            time.sleep(0.05)
        q.stop()
        q.awaitTermination(60)

    snaps = snapshots(table)
    _log("window commits (version, lsn_hi, s after first due): " + ", ".join(
        f"({v}, {hi}, {t - due[0]:.2f})" for v, hi, t in snaps if v > win_version))
    applied = list(hist)

    def lags_of(part: list, part_due: list[float]) -> list[float]:
        """Per segment: its due time to the commit that made it visible."""
        out = []
        for t, d in zip(part, part_due):
            v = visible_at(snaps, seg_max_lsn(t))
            if v is not None:
                out.append(v - d)
                applied.append(t)
        return out

    if run.trace:
        cmp_lags = lags_of(cmp, cmp_due)
        _log(f"input properties: {gen.properties(win, 1, before=hist)}")
    lags = lags_of(win, due)
    failed = n_win - len(lags)
    if run.trace:
        failed += n_cmp - len(cmp_lags)
        run.layer["trace.overhead_ratio"] = (
            quantile(lags, 0.5) / quantile(cmp_lags, 0.5))
    ok = check_table(run, table, pa.concat_tables(applied), st.evolved)
    failed = min(n_win + n_cmp, failed + (0 if ok else 1))
    win_events = sum(t.num_rows for t in win)
    # events per second from the first due time to the last visible one
    span = max(visible_at(snaps, seg_max_lsn(win[-1])) or time.time(), due[-1]) - due[0]
    written, live_bpr = storage(table, after_version=win_version)
    if run.trace:
        late = [d - u for d, u in zip(done, due)]
        run.layer["gen.late_ms_max"] = max(late) * 1000.0
        run.layer["source.backlog_events_max"] = backlog_max(
            snaps, [seg_max_lsn(t) for t in win], [t.num_rows for t in win],
            done, after_version=win_version)
        run.layer.update(table_layer(table))
    metrics = {
        "lag_p50_s": (quantile(lags, 0.5), "s"),
        "lag_p90_s": (quantile(lags, 0.9), "s"),
        "events_per_s": (win_events / span, "events/s"),
        "bytes_written_per_event": (written / win_events, "B/event"),
        "live_bytes_per_row": (live_bpr, "B/row"),
    }
    return {"attempted": n_win + n_cmp, "failed": failed, "metrics": metrics}


WORKLOADS = {"replay_bulk": replay_bulk, "tail_steady": tail_steady}


def layer_metrics(run: Run) -> dict:
    """Per-layer metrics of a traced run: the tracer's, the workload's
    own (``run.layer``, with ``trace.overhead_ratio``: the traced
    window's ``lag_p50_s`` over that of the same work with tracing stopped,
    later in the same run) and the set-up parts."""
    from layers import unit

    out = run.tracer.metrics()
    out.update({k: (v, unit(k)) for k, v in run.layer.items()})
    out.update({k: (v, "s") for k, v in run.setup.items()})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "merlin_spark", "__init__.py")):
        _log(f"merlin_spark/ not found in {ROOT}: the benchmark runs from a "
             "checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(run.work)
    try:
        run.start_spark()
        out = WORKLOADS[args.workload](run)
        metrics = dict(out["metrics"])
        # set-up is everything before the timed window: interpreter and
        # Spark start, worker prewarm, input generation, warm-up
        metrics["setup_s"] = (run.window_start - T_PROCESS, "s")
        run.layer["session.peak_rss_mb"] = peak_rss_mb()
        run.stop()
        if run.trace:
            metrics = layer_metrics(run)
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    result = {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
