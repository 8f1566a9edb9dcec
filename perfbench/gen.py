"""Seeded change-log generator owned by the benchmark.

One process, no Spark. Every event targets a key the generator knows the
state of, so the log has the properties the engine's cost depends on:

- inserts append the next turn of a conversation (or re-insert a
  deleted turn once a conversation is full);
- updates and deletes target turns that are live at that point of the
  log, so every delete removes a row;
- text lengths are lognormal (median ~360 chars, like transcript turns)
  and carry whitespace runs, control characters and NFD/NFC accents for
  the normalisation UDF;
- redelivered duplicates and a bounded out-of-order window stay inside
  their segment, so segment LSN ranges never overlap (an LSN-offset tail
  would skip an older LSN published after a newer one);
- schema-evolution events add nullable columns early in the log; later
  inserts and updates carry values for them in the ``extra`` JSON.

``LogState`` carries the key state across calls, so a history, its
tail segments and the upsert rounds of one seed form one consistent log.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

TS0_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in microseconds

EVENT_SCHEMA = pa.schema([
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
])

_VOCAB = (
    "the a to of and in is it that for on with as this be are was you can "
    "will not have from by or at an if we do so run call tool result user "
    "assistant system plan code test error value file line function return "
    "import class data table query stream batch commit offset replay merge "
    "schema column partition bucket shuffle compact snapshot manifest event "
    "conversation turn answer question please thanks sure here there because "
    "which would should could about into over under between after before"
).split()
# normalisation work: whitespace runs, C0 controls, accents in NFD form
# ("café", "résumé") and NFC form, and unicode text that must pass through
_SPICE = ["  ", "\t", "\n\n", "\x07", "\x1b", "café", "résumé",
          "été", "naïve", "“quoted”", " "]


MAX_TURNS = 40  # per conversation
MIX = (0.72, 0.20, 0.08)  # I / U / D
DUP_RATE = 0.05  # redelivered duplicates per event
OOO_WINDOW = 50  # events shuffled together on delivery
EXTRA_RATE = 0.3  # share of inserts/updates carrying an evolved value
TEXT_MEDIAN = 360.0  # chars
TEXT_SIGMA = 0.6  # of log(length)


@dataclass
class LogState:
    """Key state of everything generated so far for one seed."""

    rng: np.random.Generator
    next_lsn: int = 1
    next_turn: list = None  # per conversation: next new turn index
    live: list = None  # per conversation: list of live turns
    dead: list = None  # per conversation: list of deleted turns
    evolved: list = field(default_factory=list)
    evo_after_lsn: int = 1 << 62  # extra values only well after the S event
    corpus: np.ndarray = None  # utf-8 bytes
    char_start: np.ndarray = None  # next utf-8 char start at or after i
    conv_cdf: np.ndarray = None
    conv_names: pa.Array = None

    @classmethod
    def new(cls, seed: int, n_convs: int, zipf_s: float) -> "LogState":
        """Empty key state over ``n_convs`` conversations, drawn with a
        Zipf(``zipf_s``) popularity."""
        rng = np.random.default_rng(seed)
        st = cls(rng=rng)
        st.next_turn = [0] * n_convs
        st.live = [[] for _ in range(n_convs)]
        st.dead = [[] for _ in range(n_convs)]
        ranks = np.arange(1, n_convs + 1, dtype="float64")
        p = 1.0 / np.power(ranks, zipf_s)
        st.conv_cdf = np.cumsum(p / p.sum())
        st.conv_names = pa.array([_conv_name(i) for i in range(n_convs)])
        st.corpus, st.char_start = _corpus(rng, 4 << 20)
        return st


def _conv_name(i: int) -> str:
    return f"conv{i:08d}"


def _corpus(rng: np.random.Generator, n_bytes: int) -> tuple[np.ndarray, np.ndarray]:
    words = np.array(_VOCAB + _SPICE, dtype=object)
    p = np.full(len(words), 1.0)
    p[len(_VOCAB):] = 0.15  # spice is rare
    p /= p.sum()
    draws = rng.choice(words, size=n_bytes // 4, p=p)
    text = " ".join(draws.tolist()).encode("utf-8")[:n_bytes]
    buf = np.frombuffer(text, dtype=np.uint8)
    # a slice may only start/end on a utf-8 character boundary
    is_start = (buf & 0xC0) != 0x80
    pos = np.where(is_start, np.arange(len(buf)), len(buf))
    char_start = np.minimum.accumulate(pos[::-1])[::-1]
    return buf, np.append(char_start, len(buf))


def _texts(st: LogState, n: int) -> pa.Array:
    """n lognormal-length texts cut from the corpus, as one arrow array
    (no per-row Python objects)."""
    lens = np.exp(st.rng.normal(np.log(TEXT_MEDIAN), TEXT_SIGMA, n))
    lens = np.clip(lens.astype(np.int64), 8, 8000)
    cap = len(st.corpus) - 8001
    starts = st.char_start[st.rng.integers(0, cap, n)]
    ends = st.char_start[starts + lens]
    lens = ends - starts
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    gather = np.repeat(starts - offsets[:-1], lens) + np.arange(offsets[-1])
    data = st.corpus[gather]
    return pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data)).cast(pa.string())


def evolve(st: LogState, n_cols: int) -> pa.Table:
    """Schema-evolution events adding ``meta_<k>`` string columns."""
    rows = []
    for _ in range(n_cols):
        name = f"meta_{len(st.evolved)}"
        st.evolved.append(name)
        rows.append(st.next_lsn)
        st.next_lsn += 1
    st.evo_after_lsn = st.next_lsn + 4 * OOO_WINDOW
    n = len(rows)
    lsn = np.array(rows, dtype=np.int64)
    return pa.table({
        "lsn": lsn,
        "op": pa.array(["S"] * n),
        "conv_id": pa.nulls(n, pa.string()),
        "turn_idx": pa.nulls(n, pa.int32()),
        "role": pa.nulls(n, pa.string()),
        "text": pa.nulls(n, pa.string()),
        "tool": pa.nulls(n, pa.string()),
        "ts": pa.array(TS0_US + (lsn // 3) * 1000, pa.timestamp("us")),
        "evo_column": pa.array(st.evolved[-n:]),
        "evo_type": pa.array(["string"] * n),
        "extra": pa.nulls(n, pa.string()),
    }, schema=EVENT_SCHEMA)


def events(st: LogState, n: int) -> pa.Table:
    """The next ``n`` distinct events (lsn order, before redelivery)."""
    rng = st.rng
    conv = np.minimum(np.searchsorted(st.conv_cdf, rng.random(n)), len(st.live) - 1)
    u = rng.random(n)
    want = np.where(u < MIX[0], 0, np.where(u < MIX[0] + MIX[1], 1, 2))
    pick = rng.random(n)
    ops = [0] * n
    turns = [0] * n
    next_turn, live, dead = st.next_turn, st.live, st.dead
    for i, (c, w, pk) in enumerate(zip(conv.tolist(), want.tolist(), pick.tolist())):
        lv = live[c]
        if w == 0 or not lv:  # insert: next turn, else resurrect
            t = next_turn[c]
            if t < MAX_TURNS:
                next_turn[c] = t + 1
                lv.append(t)
                ops[i], turns[i] = 0, t
                continue
            dd = dead[c]
            if dd:
                j = int(pk * len(dd))
                t = dd[j]
                dd[j] = dd[-1]
                dd.pop()
                lv.append(t)
                ops[i], turns[i] = 0, t
                continue
            w = 1  # full and nothing deleted: update instead
        j = int(pk * len(lv))
        t = lv[j]
        if w == 2:
            lv[j] = lv[-1]
            lv.pop()
            dead[c].append(t)
        ops[i], turns[i] = w, t
    ops = np.array(ops, dtype=np.int8)
    turns = np.array(turns, dtype=np.int32)
    lsn = np.arange(st.next_lsn, st.next_lsn + n, dtype=np.int64)
    st.next_lsn += n
    is_del = ops == 2
    op = pa.DictionaryArray.from_arrays(
        pa.array(ops), pa.array(["I", "U", "D"])).cast(pa.string())
    conv_id = pa.DictionaryArray.from_arrays(
        pa.array(conv.astype(np.int32)), st.conv_names).cast(pa.string())
    role_idx = np.where(turns % 2 == 0, 0, 1).astype(np.int8)
    is_tool = (rng.random(n) < 0.1) & ~is_del
    role_idx[is_tool] = 2
    role = pa.DictionaryArray.from_arrays(
        pa.array(role_idx, mask=is_del), pa.array(["user", "assistant", "tool"])
    ).cast(pa.string())
    tool = pa.array(np.where(is_tool, "search", None).tolist(), pa.string())
    text = _texts(st, n)
    del_mask = pa.array(is_del)
    text = pc.if_else(del_mask, pa.nulls(n, pa.string()), text)
    extra = [None] * n
    if st.evolved:
        lsn0 = int(lsn[0])
        carry = np.flatnonzero(~is_del & (lsn > st.evo_after_lsn)
                               & (rng.random(n) < EXTRA_RATE))
        cols = rng.integers(0, len(st.evolved), len(carry))
        for i, k in zip(carry.tolist(), cols.tolist()):
            extra[i] = f'{{"{st.evolved[k]}": "v{i + lsn0}"}}'
    return pa.table({
        "lsn": lsn,
        "op": op,
        "conv_id": conv_id,
        "turn_idx": pa.array(turns, pa.int32()),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": pa.array(TS0_US + (lsn // 3) * 1000, pa.timestamp("us")),
        "evo_column": pa.nulls(n, pa.string()),
        "evo_type": pa.nulls(n, pa.string()),
        "extra": pa.array(extra, pa.string()),
    }, schema=EVENT_SCHEMA)


def deliver(st: LogState, t: pa.Table) -> pa.Table:
    """Delivery order of one segment: redelivered duplicates (placed
    after their original) and a shuffled out-of-order window."""
    rng = st.rng
    n = t.num_rows
    k = int(round(n * DUP_RATE))
    src = rng.choice(n, size=k, replace=False) if k else np.zeros(0, np.int64)
    key = np.concatenate([np.arange(n, dtype="float64"),
                          src + rng.uniform(0.5, np.maximum(n - src, 1.0))])
    order = np.argsort(key, kind="stable")
    if OOO_WINDOW > 1:
        m = len(order)
        shift = np.arange(m) // OOO_WINDOW * OOO_WINDOW
        order = order[np.lexsort((rng.random(m), shift))]
    rows = np.concatenate([np.arange(n), src])[order]
    return t.take(pa.array(rows))


def segments(st: LogState, n_events: int, n_segments: int,
             n_evo: int = 0) -> list[pa.Table]:
    """``n_events`` events as ``n_segments`` delivered segments. The
    first ``n_evo`` schema events land early in the first segment."""
    out = []
    sizes = np.diff(np.linspace(0, n_events, n_segments + 1).astype(np.int64))
    for i, size in enumerate(sizes):
        parts = []
        if i == 0 and n_evo:
            head = max(int(size) // 50, 1)
            parts += [events(st, head), evolve(st, n_evo)]
            size -= head
        parts.append(events(st, int(size)))
        out.append(deliver(st, pa.concat_tables(parts)))
    return out


def properties(segs: list[pa.Table], batch_segments: int,
               before: list[pa.Table] = ()) -> dict:
    """Measured input properties of delivered segments: events per
    distinct key per micro-batch, share of deletes that hit a live row,
    text bytes mean/p99, realised op mix. ``before`` is the log that
    precedes ``segs`` (its rows set the key state, they are not counted)."""
    import duckdb

    t = pa.concat_tables(list(before) + segs)
    sizes = [s.num_rows for s in before] + [s.num_rows for s in segs]
    seg_of = np.repeat(np.arange(len(sizes)) - len(before), sizes)
    t = t.append_column("batch", pa.array(seg_of // max(batch_segments, 1)))
    con = duckdb.connect()
    try:
        con.register("t", t)
        per_key = con.execute(
            "select count(*)::double / count(distinct (batch, conv_id, turn_idx)) "
            "from t where op <> 'S' and batch >= 0").fetchone()[0]
        # a delete hits a live row if the previous distinct event on its
        # key (in (ts, lsn) order) exists and is not a delete
        hit = con.execute("""
            with d as (select distinct on (lsn) * from t where op <> 'S'),
            o as (select op, batch, lag(op) over (
                      partition by conv_id, turn_idx order by ts, lsn) as prev from d)
            select avg(case when prev is not null and prev <> 'D' then 1 else 0 end)
            from o where op = 'D' and batch >= 0""").fetchone()[0]
        mean, p99, n = con.execute(
            "select avg(strlen(text)), quantile_cont(strlen(text), 0.99), count(*) "
            "from t where text is not null and batch >= 0").fetchone()
        mix = dict(con.execute(
            "select op, count(*) from (select distinct on (lsn) op, batch from t) "
            "where op <> 'S' and batch >= 0 group by op").fetchall())
    finally:
        con.close()
    total = sum(mix.values()) or 1
    return {"events_per_key_per_batch": per_key,
            "deletes_hit_live": hit if hit is not None else 1.0,
            "text_bytes_mean": mean, "text_bytes_p99": p99,
            **{f"op_share_{k}": mix.get(k, 0) / total for k in "IUD"}}
