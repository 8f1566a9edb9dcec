"""Deterministic synthetic changelog / transcript fixtures.

The "no external data" rule: every CDC input is synthesised here, seeded
(default 42), at the shape demanded by BASELINE.json:14-15 — a binlog/WAL
of transcript mutations with Zipf-skewed hot ``conv_id`` keys, duplicate
delivery, bounded out-of-order delivery, and additive schema-evolution
events (FIXTURES.md §A2 envelope).

Two generators:

- :func:`gen_changelog` — driver-side numpy/pandas; exact, used by the
  convergence oracle tests (small: ≤ ~10^6 events).
- :func:`gen_changelog_spark` — distributed ``spark.range`` +
  ``mapInPandas`` (vectorized, per-partition seeded); used to build the
  bench changelog (~10^7 events sandbox proxy for the 10^10 shape)
  without materialising it on the driver.

Both write the log as ordered parquet *segment files* — the directory is
the binlog: segment order × row order within a segment = delivery order.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

BASE_TS = np.datetime64("2025-01-01T00:00:00", "us")

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega tool call result "
    "user assistant system plan code test run".split()
)
# Strings that exercise the normalization UDF: NFD/NFC pairs, doubled
# whitespace, C0 controls (FIXTURES.md §A1 text notes).
_SPICE = ["café", "café", "a  b", "x\ty", "z\x07w", "  pad  ", "né​" ]


@dataclass
class ChangelogSpec:
    seed: int = 42
    n_events: int = 10_000
    n_convs: int = 200
    max_turns: int = 40
    # op mix over non-S events; S drawn separately via n_evo
    pct_update: float = 0.20
    pct_delete: float = 0.08
    n_evo: int = 3  # schema-evolution events (adds meta_0..meta_{n-1})
    dup_rate: float = 0.05  # duplicate-delivery fraction (re-emitted rows)
    ooo_window: int = 50  # out-of-order shuffle window (0 = in order)
    zipf_s: float = 1.2  # conv_id skew exponent (0 = uniform)
    extra_rate: float = 0.5  # post-evo events carrying evolved-col values
    evo_cols: list[str] = field(default_factory=list)  # filled by generator


def _zipf_probs(n: int, s: float) -> np.ndarray:
    if s <= 0:
        return np.full(n, 1.0 / n)
    p = 1.0 / np.power(np.arange(1, n + 1, dtype="float64"), s)
    return p / p.sum()


def _texts(rng: np.random.Generator, n: int) -> np.ndarray:
    words = rng.choice(np.array(_WORDS), size=(n, 8))
    base = np.array([" ".join(r) for r in words], dtype=object)
    # splice in normalization-exercising spice on ~20% of rows
    idx = rng.random(n) < 0.2
    spice = rng.choice(np.array(_SPICE, dtype=object), size=int(idx.sum()))
    base[idx] = base[idx] + " " + spice
    return base


def gen_changelog(spec: ChangelogSpec | None = None) -> pd.DataFrame:
    """Return the changelog as a pandas frame in DELIVERY order.

    Columns = FIXTURES.md §A2 envelope (+ ``extra`` JSON for evolved
    column values). ``lsn`` is strictly unique; delivery order may
    contain duplicates (same lsn re-emitted) and bounded reordering.
    """
    spec = spec or ChangelogSpec()
    rng = np.random.default_rng(spec.seed)
    n = spec.n_events

    conv_probs = _zipf_probs(spec.n_convs, spec.zipf_s)
    conv_idx = rng.choice(spec.n_convs, size=n, p=conv_probs)
    conv_id = np.array([f"conv{i:08d}" for i in conv_idx], dtype=object)
    turn_idx = rng.integers(0, spec.max_turns, size=n).astype("int32")

    u = rng.random(n)
    op = np.full(n, "I", dtype=object)
    op[u < spec.pct_update + spec.pct_delete] = "U"
    op[u < spec.pct_delete] = "D"

    lsn = np.arange(1, n + 1, dtype="int64")
    # ts mostly increases with lsn but with jitter → (ts, lsn) inversions
    jitter = rng.integers(-30_000_000, 30_000_000, size=n)  # ±30s in µs
    ts = BASE_TS + (lsn * 1_000_000 + jitter).astype("timedelta64[us]")

    roles = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    is_tool = rng.random(n) < 0.1
    roles[is_tool] = "tool"
    text = _texts(rng, n)
    tool = np.where(is_tool, "search", None)

    df = pd.DataFrame(
        {
            "lsn": lsn,
            "op": op,
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": roles,
            "text": text,
            "tool": tool,
            "ts": pd.Series(ts),
            "evo_column": pd.Series([None] * n, dtype=object),
            "evo_type": pd.Series([None] * n, dtype=object),
            "extra": pd.Series([None] * n, dtype=object),
        }
    )
    # D events carry no payload (FIXTURES.md §A2)
    d_mask = df["op"] == "D"
    df.loc[d_mask, ["role", "text", "tool"]] = None

    # Schema-evolution events: replace n_evo random rows (spread out)
    spec.evo_cols = [f"meta_{i}" for i in range(spec.n_evo)]
    if spec.n_evo:
        evo_pos = np.sort(rng.choice(n, size=spec.n_evo, replace=False))
        for i, pos in enumerate(evo_pos):
            df.loc[pos, ["op", "conv_id", "role", "text", "tool"]] = [
                "S", None, None, None, None]
            df.loc[pos, "turn_idx"] = None
            df.loc[pos, "evo_column"] = spec.evo_cols[i]
            df.loc[pos, "evo_type"] = "string"
        df["turn_idx"] = df["turn_idx"].astype("Int32")
        # post-evo I/U events may carry values for already-added columns
        for i, pos in enumerate(evo_pos):
            after = (df.index > pos) & df["op"].isin(["I", "U"])
            carry = after & (rng.random(n) < spec.extra_rate)
            col = spec.evo_cols[i]
            vals = df.loc[carry].index.map(lambda j, c=col: json.dumps({c: f"{c}-v{j}"}))
            # merge into existing extra JSON if present
            prev = df.loc[carry, "extra"]
            merged = [
                json.dumps({**(json.loads(p) if p else {}), **json.loads(v)})
                for p, v in zip(prev, vals)
            ]
            df.loc[carry, "extra"] = merged
    else:
        df["turn_idx"] = df["turn_idx"].astype("Int32")

    # Duplicate delivery: re-emit rows later in the log (same lsn/content)
    if spec.dup_rate > 0:
        k = int(n * spec.dup_rate)
        dup_src = rng.choice(n, size=k, replace=False)
        dups = df.iloc[dup_src].copy()
        df = pd.concat([df, dups], ignore_index=True)
        # place dups after their originals: stable sort by a position key
        pos = np.concatenate([np.arange(n, dtype="float64"),
                              dup_src + rng.uniform(0.5, n / 2, size=k)])
        df = df.iloc[np.argsort(pos, kind="stable")].reset_index(drop=True)

    # Bounded out-of-order: shuffle within windows
    if spec.ooo_window > 1:
        m = len(df)
        order = np.arange(m)
        for start in range(0, m, spec.ooo_window):
            w = order[start : start + spec.ooo_window]
            rng.shuffle(w)
        df = df.iloc[order].reset_index(drop=True)
    return df


_ARROW_EVENT_SCHEMA = None


def _event_arrow_schema():
    """Explicit arrow schema for segment files: an all-null string
    column (e.g. evo_column in a segment with no S events) must NOT be
    written as an inferred null/int type — Spark's declared-schema read
    would fail."""
    global _ARROW_EVENT_SCHEMA
    if _ARROW_EVENT_SCHEMA is None:
        import pyarrow as pa

        _ARROW_EVENT_SCHEMA = pa.schema(
            [
                ("lsn", pa.int64()),
                ("op", pa.string()),
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us")),
                ("evo_column", pa.string()),
                ("evo_type", pa.string()),
                ("extra", pa.string()),
            ]
        )
    return _ARROW_EVENT_SCHEMA


def write_segments(df: pd.DataFrame, path: str, n_segments: int = 8,
                   row_group_size: int | None = None) -> list[str]:
    """Write the delivery-ordered changelog as binlog segment files.
    ``row_group_size`` forces multiple parquet row groups per segment —
    used to exercise the binlog source's row-group-level partition
    splitting / stats pruning (real WAL segments are 256MB+ with many
    row groups)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    paths = []
    schema = _event_arrow_schema()
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_segments)):
        if len(part) == 0:
            continue
        p = os.path.join(path, f"segment-{i:06d}.parquet")
        table = pa.Table.from_pandas(
            df.iloc[part], schema=schema, preserve_index=False
        )
        if row_group_size:
            pq.write_table(table, p, row_group_size=row_group_size)
        else:
            pq.write_table(table, p)
        paths.append(p)
    return paths


def gen_changelog_spark(spark, n_events: int, n_convs: int, out_path: str,
                        seed: int = 42, zipf_s: float = 1.2,
                        max_turns: int = 40, n_segments: int = 64,
                        pct_update: float = 0.2, pct_delete: float = 0.08):
    """Distributed changelog generator for bench-scale logs (~10^7 rows).

    ``spark.range`` (one row per lsn) → ``mapInPandas`` with a
    per-partition-seeded RNG: fully vectorized, never materialised on the
    driver, deterministic per (seed, n_events, partitioning). No
    schema-evolution/duplicate injection — bench logs measure the apply
    hot path (BASELINE.json:2 throughput metric).
    """
    from pyspark.sql.functions import spark_partition_id

    probs = _zipf_probs(n_convs, zipf_s)
    cum = np.cumsum(probs)
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string,"
              " text string, tool string, ts timestamp, evo_column string,"
              " evo_type string, extra string")

    def gen(iterator):
        for pdf in iterator:
            lsn = pdf["id"].to_numpy() + 1
            pid = int(pdf["pid"].iloc[0]) if len(pdf) else 0
            rng = np.random.default_rng(seed * 1_000_003 + pid)
            m = len(lsn)
            conv_i = np.searchsorted(cum, rng.random(m))
            u = rng.random(m)
            op = np.full(m, "I", dtype=object)
            op[u < pct_update + pct_delete] = "U"
            op[u < pct_delete] = "D"
            turn = rng.integers(0, max_turns, size=m).astype("int32")
            jitter = rng.integers(-30_000_000, 30_000_000, size=m)
            ts = BASE_TS + (lsn * 1_000_000 + jitter).astype("timedelta64[us]")
            role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
            text = _texts(rng, m)
            d = op == "D"
            role[d] = None
            text = text.astype(object)
            text[d] = None
            out = pd.DataFrame({
                "lsn": lsn, "op": op,
                "conv_id": pd.Series([f"conv{i:08d}" for i in conv_i], dtype=object),
                "turn_idx": turn, "role": role, "text": text,
                "tool": pd.Series([None] * m, dtype=object),
                "ts": pd.Series(ts),
                "evo_column": pd.Series([None] * m, dtype=object),
                "evo_type": pd.Series([None] * m, dtype=object),
                "extra": pd.Series([None] * m, dtype=object),
            })
            yield out

    (spark.range(0, n_events, numPartitions=n_segments)
        .withColumn("pid", spark_partition_id())
        .mapInPandas(gen, schema)
        .write.mode("overwrite").parquet(out_path))
    return out_path


def gen_transcripts(seed: int, n_convs: int, turns_per_conv: int) -> pd.DataFrame:
    """Seed an initial transcript table (FIXTURES.md §A1)."""
    rng = np.random.default_rng(seed)
    n = n_convs * turns_per_conv
    conv = np.repeat([f"conv{i:08d}" for i in range(n_convs)], turns_per_conv)
    turn = np.tile(np.arange(turns_per_conv, dtype="int32"), n_convs)
    role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
    ts = BASE_TS + (np.arange(n) * 1_000_000).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": turn,
            "role": role,
            "text": _texts(rng, n),
            "tool": pd.Series([None] * n, dtype=object),
            "ts": pd.Series(ts),
        }
    )


def write_segments_csv(df: pd.DataFrame, path: str, n_segments: int = 8) -> list[str]:
    """Write the changelog as CSV binlog segments (header row, ISO
    microsecond timestamps, quote-doubling escapes — matched by the
    reader options in changelog._by_fmt)."""
    os.makedirs(path, exist_ok=True)
    out = df.copy()
    out["ts"] = pd.to_datetime(out["ts"]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
    paths = []
    for i, part in enumerate(np.array_split(np.arange(len(out)), n_segments)):
        if len(part) == 0:
            continue
        p = os.path.join(path, f"segment-{i:06d}.csv")
        out.iloc[part].to_csv(p, index=False)
        paths.append(p)
    return paths


def write_segments_json(df: pd.DataFrame, path: str, n_segments: int = 8) -> list[str]:
    """Write the changelog as JSONL binlog segments (the WAL-tail
    encoding — SURVEY.md §2.1 CSV/JSONL source row). Timestamps are ISO
    strings with microseconds; Spark's declared EVENT_SCHEMA parses them
    back to timestamp[us] so parquet and JSONL logs replay identically."""
    os.makedirs(path, exist_ok=True)
    out = df.copy()
    out["ts"] = pd.to_datetime(out["ts"]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
    paths = []
    for i, part in enumerate(np.array_split(np.arange(len(out)), n_segments)):
        if len(part) == 0:
            continue
        p = os.path.join(path, f"segment-{i:06d}.jsonl")
        out.iloc[part].to_json(p, orient="records", lines=True, date_format="iso")
        paths.append(p)
    return paths
