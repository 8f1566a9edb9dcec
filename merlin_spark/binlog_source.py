"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`) exposing
a binlog directory as `format("merlin_binlog")` — batch AND streaming.

Why a custom source when `changelog.py` already reads parquet?
The binlog abstraction is LSN-addressed, not file-addressed:

- **batch**: `lsn_from`/`lsn_to` options prune whole SEGMENT FILES by
  their parquet-footer lsn min/max before any executor task launches —
  planner-visible partition pruning driven by binlog semantics (the
  file-source equivalent needs row-group stats after scheduling a task
  per file).
- **streaming**: offsets ARE lsns (`{"lsn": N}`), not file names — the
  checkpoint stores binlog positions, so the stream can resume from an
  arbitrary LSN, exactly how a WAL/binlog tail (Debezium-style)
  checkpoints. `readBetweenOffsets` replays any historical LSN window.

Partition = one segment file; `read()` yields pyarrow RecordBatches
(zero row-at-a-time Python on the data path, BASELINE.json:15). This
holds for BOTH halves: the streaming reader is the partitioned
`DataSourceStreamReader` — the driver only plans (footer-stat segment
pruning + LSN windows); data moves as Arrow batches on EXECUTORS, one
task per overlapping segment, so a 10^10-event tail never funnels rows
through the driver. `option("max_lsn_per_trigger", N)` caps how far the
offset advances per micro-batch (admission control for replay).

Usage:
    spark.dataSource.register(BinlogDataSource)
    spark.read.format("merlin_binlog").option("path", d)
         .option("lsn_from", 100).load()
    spark.readStream.format("merlin_binlog").option("path", d).load()
"""

from __future__ import annotations

import os


def _trace(msg: str) -> None:
    """Env-gated planner-call tracing (MERLIN_BINLOG_TRACE=1): one
    stderr line per reader lifecycle/offset/planning call, pid-tagged
    so separate reader incarnations (driver vs recycled planning
    workers) are distinguishable. Diagnostic tooling for offset-log
    forensics — zero cost when unset."""
    if os.environ.get("MERLIN_BINLOG_TRACE"):
        import sys
        import time

        print(f"[binlog-trace pid={os.getpid()} t={time.time():.3f}] {msg}",
              file=sys.stderr, flush=True)

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

EVENT_DDL = (
    "lsn bigint, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, evo_column string, "
    "evo_type string, extra string"
)
_COLS = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
         "evo_column", "evo_type", "extra"]


def _segments(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _us_timestamps(table):
    """Normalize timestamp columns to microsecond unit: Spark's Arrow
    ingestion for Python DataSources rejects Timestamp(NANOSECOND), and
    segment writers differ (pyarrow fixtures write µs, a Spark parquet
    writer can produce ns) — the source, not its callers, owns making
    every segment readable."""
    import pyarrow as pa

    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            table = table.set_column(
                i, f.name, table.column(i).cast(pa.timestamp("us", f.type.tz))
            )
    return table


def _lsn_range(fp: str) -> tuple[int, int]:
    """Segment lsn bounds from the parquet footer — metadata only."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    j = idx["lsn"]
    lo, hi = None, None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(j).statistics
        if st is None:
            return (-(2**62), 2**62)  # no stats → never prune
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return (int(lo), int(hi))


def _rg_lsn_ranges(fp: str) -> list[tuple[int, int, int]]:
    """Per-ROW-GROUP lsn bounds from the footer: (rg_idx, lo, hi).
    A row group without stats gets an infinite range (never pruned)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    j = idx["lsn"]
    out = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(j).statistics
        if st is None or not st.has_min_max:
            out.append((rg, -(2**62), 2**62))
        else:
            out.append((rg, int(st.min), int(st.max)))
    return out


def _overlapping_rgs(fp: str, lo_excl: int, hi_incl: int) -> list[int] | None:
    """Row groups whose lsn range intersects (lo_excl, hi_incl].
    Returns None when ALL row groups overlap (read the whole file —
    cheaper than an explicit row-group list)."""
    ranges = _rg_lsn_ranges(fp)
    keep = [rg for rg, rlo, rhi in ranges if rhi > lo_excl and rlo <= hi_incl]
    return None if len(keep) == len(ranges) else keep


class _SegmentPartition(InputPartition):
    def __init__(self, fp: str, lsn_from: int | None, lsn_to: int | None,
                 rgs: list[int] | None = None):
        self.fp = fp
        self.lsn_from = lsn_from
        self.lsn_to = lsn_to
        self.rgs = rgs  # None → whole file


class BinlogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.lsn_from = int(options["lsn_from"]) if "lsn_from" in options else None
        self.lsn_to = int(options["lsn_to"]) if "lsn_to" in options else None

    def partitions(self):
        parts = []
        lo_w = self.lsn_from if self.lsn_from is not None else -(2**62)
        hi_w = self.lsn_to if self.lsn_to is not None else 2**62
        for fp in _segments(self.path):
            lo, hi = _lsn_range(fp)
            if hi < lo_w or lo > hi_w:
                continue  # footer-pruned: segment entirely outside window
            # sub-file pruning: keep only row groups intersecting the
            # window (Iceberg/parquet row-group stats pruning below the
            # file level — matters once segments carry many row groups)
            rgs = _overlapping_rgs(fp, lo_w - 1, hi_w)
            if rgs == []:
                continue
            parts.append(_SegmentPartition(fp, self.lsn_from, self.lsn_to, rgs))
        # empty dir / fully pruned: Spark requires ≥1 partition only if
        # data exists; an empty list is accepted as an empty relation
        return parts or [_SegmentPartition("", None, None)]

    def read(self, partition: _SegmentPartition):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if not partition.fp:
            return iter(())
        pf = pq.ParquetFile(partition.fp, memory_map=True)
        if partition.rgs is None:
            table = pf.read(columns=_COLS)
        else:
            table = pf.read_row_groups(partition.rgs, columns=_COLS)
        if partition.lsn_from is not None:
            table = table.filter(pc.field("lsn") >= partition.lsn_from)
        if partition.lsn_to is not None:
            table = table.filter(pc.field("lsn") <= partition.lsn_to)
        return iter(_us_timestamps(table).to_batches())


class _StreamSlicePartition(InputPartition):
    """One segment file × one (lo_excl, hi_incl] LSN window, optionally
    narrowed to a row-group subset (finer scan tasks + sub-file
    pruning when segments carry multiple row groups)."""

    def __init__(self, fp: str, lo_excl: int, hi_incl: int,
                 rgs: list[int] | None = None):
        self.fp = fp
        self.lo_excl = lo_excl
        self.hi_incl = hi_incl
        self.rgs = rgs  # None → whole file


class BinlogStreamReader(DataSourceStreamReader):
    """Partitioned LSN-offset streaming tail.

    Offset dict = {"lsn": high_water}: the checkpoint stores binlog
    POSITIONS, so the stream resumes from an arbitrary LSN (WAL-tail /
    Debezium checkpoint model). Per micro-batch the driver touches only
    parquet FOOTERS (segment lsn bounds) to plan; each overlapping
    segment becomes one executor task that reads Arrow batches and
    filters to the (start, end] window — no data ever crosses the
    driver. Re-emitted duplicates of already-delivered lsns land below
    the window and are dropped at the source (first layer of the
    exactly-once story; the sink LWW/ledger handles the rest).

    ``max_lsn_per_trigger`` bounds offset advancement per micro-batch
    (admission control so a cold replay of a huge log proceeds in
    bounded batches instead of one giant one). Sizing note: a window's
    scan parallelism equals the number of segment files it overlaps —
    cap so each window spans at least as many segments as you have
    cores (or write the log in proportionally more segments), else
    cores idle during the scan stage (measured: BENCH/SCALING_r03.md).
    """

    def __init__(self, options):
        self.path = options["path"]
        cap = int(options.get("max_lsn_per_trigger", 0) or 0)
        self.max_lsn_per_trigger = cap if cap > 0 else None
        # Driver-side planning position for rate limiting. The engine
        # calls latestOffset BEFORE initialOffset/partitions even on a
        # fresh start, so a new reader cannot tell fresh from restart at
        # its first call and the cap counts from 0 either way. Fresh
        # starts are exact (the start offset IS 0). After a RESTART the
        # FIRST capped planning call may emit an end BELOW the
        # checkpointed position (floor still unknown); every later call
        # clamps its END to the floor partitions() learned from
        # engine-provided positions, so at most ONE regressed offset
        # entry ever exists in the engine's log. (When Spark's restart
        # sequence makes its planInputPartitions(walEnd, walEnd) call
        # before the first latestOffset, the floor learns the WAL
        # position up front and no regressed entry is emitted at all.)
        #
        # The floor is used ONLY for that end-offset guard. Delivery is
        # exactly the engine-requested (start, end] window — never
        # floor-clamped: the restart sequence passes NON-committed
        # starts (the (walEnd, walEnd) planning call), and adopting one
        # as a delivery floor silently emptied the re-executed batch —
        # 10^7 kill-9 soak finding, see partitions(). Consequence:
        # after a regressed offset entry, climb-back windows RE-deliver
        # already-applied lsns (bounded by the regression span) —
        # absorbed by the idempotent LWW sink + batch ledger; non-LWW
        # consumers need an idempotent/dedup sink of their own (the
        # Python DataSource API offers no place to persist positions
        # across processes, and the source must not write to the log
        # directory it tails).
        self._prev: int | None = None
        self._floor = 0  # highest engine-provided start seen (committed or WAL'd)
        _trace(f"__init__ path={self.path} cap={self.max_lsn_per_trigger}")

    def initialOffset(self) -> dict:
        self._prev = 0
        _trace("initialOffset -> 0")
        return {"lsn": 0}

    def latestOffset(self) -> dict:
        hi = 0
        for fp in _segments(self.path):
            hi = max(hi, _lsn_range(fp)[1])
        if self.max_lsn_per_trigger is not None:
            hi = min(hi, (self._prev or 0) + self.max_lsn_per_trigger)
        # never plan an end below a committed start once partitions()
        # has revealed one: keeps offset regressions out of the engine
        # log for every call after the first, shrinking the
        # crash-redelivery exposure to at most one capped window (see
        # __init__ comment / ADVICE r3 #3)
        hi = max(hi, self._floor)
        self._prev = max(hi, self._prev or 0)
        _trace(f"latestOffset -> {self._prev} (floor={self._floor})")
        return {"lsn": self._prev}

    def partitions(self, start: dict, end: dict):
        lo = int(start.get("lsn", 0))
        hi = int(end.get("lsn", 0))
        # Position bookkeeping across restarts: remember the highest
        # engine-provided position for latestOffset's regression guard
        # and snap the rate-limit position forward (see __init__).
        #
        # The floor must NEVER clamp DELIVERY. Spark's restart sequence
        # calls planInputPartitions(end, end) of the WAL'd uncommitted
        # batch BEFORE re-executing it — a planning call whose start is
        # NOT a committed position. r5's 10^7 kill-9 soak caught the
        # old `lo_eff = max(lo, self._floor)` clamp adopting that end
        # as the floor and then delivering ZERO rows for the re-executed
        # window (trace: partitions(5000000, 5000000) → floor=5000000;
        # partitions(3750000, 5000000) → lo_eff=5000000 → 0 parts) — a
        # silently lost 1.25M-lsn window behind a fully-advanced offset
        # log. The engine's offset WAL is the sole source of truth for
        # what (start, end] means: deliver exactly that. The cost is
        # bounded REdelivery of climb-back windows after a capped
        # restart offset regression (absorbed by the idempotent LWW
        # sink + ledger, as documented in __init__); the old clamp
        # traded that bounded redelivery for unbounded data loss.
        self._floor = max(self._floor, lo)
        self._prev = max(self._prev or 0, lo, hi)
        lo_eff = lo
        parts: list[_StreamSlicePartition] = []
        for fp in _segments(self.path):
            flo, fhi = _lsn_range(fp)
            if not (fhi > lo_eff and flo <= hi):
                continue
            # one scan task per overlapping ROW GROUP (when the segment
            # has several): raises a capped window's scan parallelism
            # above its segment count and prunes non-overlapping row
            # groups entirely — the sub-file planning a 256MB+ WAL
            # segment needs. Single-row-group segments keep one task.
            rg_ranges = _rg_lsn_ranges(fp)
            if len(rg_ranges) <= 1:
                parts.append(_StreamSlicePartition(fp, lo_eff, hi))
                continue
            for rg, rlo, rhi in rg_ranges:
                if rhi > lo_eff and rlo <= hi:
                    parts.append(_StreamSlicePartition(fp, lo_eff, hi, [rg]))
        _trace(f"partitions(start={lo}, end={hi}) floor={self._floor} "
               f"lo_eff={lo_eff} -> {len(parts)} parts")
        return parts or [_StreamSlicePartition("", 0, 0)]

    def read(self, partition: _StreamSlicePartition):
        # executor-side: Arrow batches only, no per-row Python. Batches
        # STREAM out of the parquet reader (iter_batches + memory_map)
        # instead of materializing the whole segment table per task:
        # decode overlaps the Arrow IPC hand-off to the JVM and peak
        # memory stays one batch per worker — at wide local parallelism
        # (32 concurrent segment tasks) whole-table materialization
        # measurably degraded throughput.
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if not partition.fp:
            return iter(())

        lo, hi = partition.lo_excl, partition.hi_incl

        def gen():
            pf = pq.ParquetFile(partition.fp, memory_map=True)
            it = (pf.iter_batches(batch_size=1 << 17, columns=_COLS)
                  if partition.rgs is None else
                  pf.iter_batches(batch_size=1 << 17, columns=_COLS,
                                  row_groups=partition.rgs))
            for rb in it:
                t = pa.Table.from_batches([rb]).filter(
                    (pc.field("lsn") > lo) & (pc.field("lsn") <= hi)
                )
                if t.num_rows:
                    yield from _us_timestamps(t).to_batches()

        return gen()

    def commit(self, end: dict) -> None:
        # immutable log: nothing to ack; keep the rate-limit position
        self._prev = max(self._prev or 0, int(end.get("lsn", 0)))
        _trace(f"commit(end={end.get('lsn')}) -> prev={self._prev}")


class BinlogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "merlin_binlog"

    def schema(self) -> str:
        return EVENT_DDL

    def reader(self, schema) -> DataSourceReader:
        return BinlogBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return BinlogStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(BinlogDataSource)
