"""Streaming CDC apply + bounded replay — SURVEY.md §3.1/3.2.

One code path: ``readStream`` over the binlog directory →
``foreachBatch(sink.apply)``. Replay is the same query run with
``trigger(availableNow=True)`` (drain the log as a finite sequence of
micro-batches, then stop) — giving the replay-wall-time metric
(BASELINE.json:2) on the identical engine.

Exactly-once decomposition (BASELINE.json:6):
- source replay half: Structured Streaming's checkpoint offset/commit
  logs re-deliver a crashed micro-batch with the SAME batch_id;
- sink commit half: the sink's (batch_id, lsn-range) ledger inside the
  atomic snapshot manifest makes redelivery a no-op (sink.apply gate).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .changelog import read_stream
from .sink import IceboxSink


@dataclass
class StreamConfig:
    log_path: str
    table_path: str
    checkpoint_path: str
    n_buckets: int = 16
    salt_buckets: int = 0
    sink_mode: str = "cow"  # "cow" | "mor" (see sink.IceboxSink)
    compact_every: int | None = None  # mor maintenance: fold file
    # versions every N batches so read amplification stays bounded on
    # long tails (Iceberg's scheduled rewrite_data_files equivalent)
    max_files_per_trigger: int | None = None
    processing_time: str | None = None  # None → availableNow (bounded replay)
    fail_after_batch: int | None = None  # test hook: crash injection
    # "files" → Structured Streaming file source (file-name offsets);
    # "binlog" → the custom merlin_binlog DataSource: checkpoint offsets
    # are LSN POSITIONS ({"lsn": N}), executor-parallel Arrow reads with
    # footer-stat segment planning — the WAL/Debezium checkpoint model
    # (BASELINE.json:6 "LSN/offset checkpoint store") end-to-end.
    source_format: str = "files"
    max_lsn_per_trigger: int | None = None  # binlog admission control


def _checkpoint_epoch(checkpoint_path: str) -> str:
    """Ledger epoch = identity of THIS checkpoint *instance*, persisted
    as a marker file inside the checkpoint directory. Batch_ids are
    unique only within one checkpoint instance: restarts find the marker
    and reuse the epoch (redelivered batch_ids stay gated), while
    deleting and recreating the checkpoint — even at the SAME path, the
    common re-tail workflow — loses the marker and mints a new epoch, so
    the fresh run's batch 0..j is never mistaken for redelivery of the
    old run's. (A path-derived epoch would silently drop those batches.)
    """
    import os
    import uuid

    os.makedirs(checkpoint_path, exist_ok=True)
    marker = os.path.join(checkpoint_path, "_merlin_epoch")
    if not os.path.exists(marker):
        epoch = uuid.uuid4().hex[:12]
        tmp = f"{marker}.tmp-{epoch}"
        with open(tmp, "w") as f:
            f.write(epoch)
            f.flush()
            os.fsync(f.fileno())
        # EXCLUSIVE publish (same pattern as IceboxSink._publish): an
        # os.rename here would be last-writer-wins — starter A could read
        # back its own epoch just before B's rename replaced the marker,
        # leaving two live epochs and un-gating the ledger between them.
        # os.link fails with EEXIST for every starter but one; ALL
        # starters then re-read the marker and agree on the winner.
        try:
            os.link(tmp, marker)
        except FileExistsError:
            pass
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass
    with open(marker) as f:
        return f.read().strip()


def run_stream(spark: SparkSession, cfg: StreamConfig) -> StreamingQuery:
    """Start the CDC apply stream; caller awaits/stops the query."""
    epoch = _checkpoint_epoch(cfg.checkpoint_path)
    sink = IceboxSink(spark, cfg.table_path, cfg.n_buckets, cfg.salt_buckets,
                      mode=cfg.sink_mode, epoch=epoch)
    if cfg.source_format == "binlog":
        from .binlog_source import register

        register(spark)
        reader = spark.readStream.format("merlin_binlog").option(
            "path", cfg.log_path
        )
        if cfg.max_lsn_per_trigger:
            reader = reader.option("max_lsn_per_trigger", cfg.max_lsn_per_trigger)
        events = reader.load()
    else:
        events = read_stream(spark, cfg.log_path, cfg.max_files_per_trigger)

    def apply_batch(batch_df, batch_id: int):
        sink.apply(batch_df, batch_id)
        if cfg.compact_every and (batch_id + 1) % cfg.compact_every == 0:
            # a separate snapshot commit; crash between apply and
            # compact loses only the maintenance work, never data
            sink.compact()
        # crash injection AFTER the commit: the restarted stream must
        # treat the re-delivered batch as already applied (§5.3 test)
        if cfg.fail_after_batch is not None and batch_id >= cfg.fail_after_batch:
            raise RuntimeError(f"injected crash after batch {batch_id}")

    writer = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", cfg.checkpoint_path)
        .queryName("merlin-cdc-apply")
    )
    if cfg.processing_time:
        writer = writer.trigger(processingTime=cfg.processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _committed_source_lsn(ckpt: str) -> int:
    """Highest COMMITTED source offset from the streaming checkpoint
    (cheap file poll). Not the sink manifest's lsn_hi: that records the
    max lsn among LWW *winners*, and the log's tail event can lose LWW
    to an earlier-lsn/later-ts event on the same key — the checkpoint
    offset is the only signal that the source position itself drained."""
    import glob
    import json
    import os

    commits = glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))
    if not commits:
        return -1
    b = max(int(os.path.basename(p)) for p in commits)
    try:
        with open(os.path.join(ckpt, "offsets", str(b))) as f:
            last = f.read().strip().splitlines()[-1]
        return int(json.loads(last)["lsn"])
    except (OSError, ValueError, KeyError, IndexError):
        return -1


def _drain_capped_binlog(spark: SparkSession, cfg: StreamConfig,
                         timeout_s: float) -> None:
    """Bounded replay under LSN admission control. availableNow plans
    ONE batch for Python stream sources (engine fallback, warned at
    runtime) — with a cap configured that single batch covers only the
    FIRST window and the query stops with the log silently
    under-applied. Capped replay therefore drives a processingTime
    tail and stops once the checkpoint has committed the log's max lsn
    (read from segment footers — metadata only)."""
    import time

    from .binlog_source import _lsn_range, _segments

    segs = list(_segments(cfg.log_path))
    if not segs:
        # empty log: nothing to drain — mirror the uncapped replay
        # path, which terminates gracefully on an empty directory
        # instead of raising (ADVICE r3 #4: bare max() ValueError made
        # replay() behavior diverge by config on the same input)
        return
    target = max(_lsn_range(fp)[1] for fp in segs)
    q = run_stream(spark, cfg)
    deadline = time.monotonic() + timeout_s
    try:
        while time.monotonic() < deadline:
            if _committed_source_lsn(cfg.checkpoint_path) >= target:
                return
            if not q.isActive:
                raise RuntimeError(f"stream died: {q.exception()}")
            time.sleep(0.2)
        raise TimeoutError(
            f"capped binlog replay did not reach lsn {target} in {timeout_s}s"
        )
    finally:
        if q.isActive:
            q.stop()
        q.awaitTermination(60)


def replay(spark: SparkSession, cfg: StreamConfig, timeout_s: float = 600.0) -> None:
    """Bounded replay to convergence: drain whatever is in the log,
    then stop. Crash-resumable: rerun with the same checkpoint/table
    paths and it continues from the failed batch.

    With the binlog source under ``max_lsn_per_trigger`` the
    availableNow trigger cannot be used (single-batch fallback would
    apply ONE capped window and stop — silent partial replay); replay
    transparently switches to a processingTime drain that stops at the
    log's tail lsn, so callers get full-log semantics either way."""
    from .lineage import make_metrics_listener

    # per-micro-batch metrics via listener (uncapped), not
    # q.recentProgress (capped at ~100 events — long replays would
    # silently lose the early batches)
    listener = make_metrics_listener(cfg.table_path, "merlin-cdc-apply")
    spark.streams.addListener(listener)
    if (cfg.source_format == "binlog" and cfg.max_lsn_per_trigger
            and not cfg.processing_time):
        import dataclasses

        capped = dataclasses.replace(cfg, processing_time="0 seconds")
        try:
            _drain_capped_binlog(spark, capped, timeout_s)
            # listener events arrive on a separate dispatch thread —
            # same stability drain as the availableNow path below
            import time

            seen, stable_since = -1, time.monotonic()
            while time.monotonic() - stable_since < 0.5:
                if listener.n_events != seen:
                    seen, stable_since = listener.n_events, time.monotonic()
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(listener)
        return
    q = run_stream(spark, cfg)
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"replay did not drain the log in {timeout_s}s")
        # listener events arrive on a separate dispatch thread: drain
        # until the count is stable so the final batch's metrics land
        import time

        seen, stable_since = -1, time.monotonic()
        while time.monotonic() - stable_since < 0.5:
            if listener.n_events != seen:
                seen, stable_since = listener.n_events, time.monotonic()
            time.sleep(0.05)
    finally:
        if q.isActive:
            q.stop()
        spark.streams.removeListener(listener)
