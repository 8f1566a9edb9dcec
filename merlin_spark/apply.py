"""CDC apply pipeline — op routing, batch preparation, state merge.

This is the logical MERGE: pure DataFrame graph, shared verbatim by the
streaming foreachBatch path, the bounded replay path, and the batch
fast-path oracle (SURVEY.md §3.1/3.2 — "replay is not a separate
engine"). Catalyst plans it; at scale the only shuffles are the two
key-hash exchanges (batch LWW, merge LWW) and both combine map-side.

Semantics (BASELINE.json:6, pinned in SURVEY.md §2.9):
- LWW winner per (conv_id, turn_idx) = max lexicographic (ts, lsn);
- delete wins like any writer; later-(ts,lsn) insert resurrects;
- update to an absent key upserts; delete to an absent key no-ops;
- additive schema evolution only — `S` events add nullable columns,
  post-evolution events carry values in the `extra` JSON envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lww import lww_dedup, lww_dedup_salted
from .schemas import MERGE_KEYS, OP_SCHEMA, SYSTEM_LSN, SYSTEM_OP
from .textnorm import normalize_text

# columns a prepared batch carries besides keys/payload/evolved
_ENVELOPE = ["op", "lsn"]


def route_ops(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a micro-batch into row mutations and schema-evolution events
    (qkey ``cdc_op_route``). One pass each; both filters push to scan."""
    rows = events.where(F.col("op") != OP_SCHEMA)
    evo = events.where(F.col("op") == OP_SCHEMA)
    return rows, evo


def collect_evolutions(evo: DataFrame) -> list[tuple[str, str]]:
    """Driver-side list of (column, ddl_type) in lsn order. `S` events
    are ~0% of a log; this collect is bounded and tiny, so the few rows
    are sorted on the driver — an ``orderBy`` would add a range-partition
    sampling job and a second pass over the batch."""
    got = sorted(evo.select("evo_column", "evo_type", "lsn").collect(),
                 key=lambda r: r.lsn)
    seen: dict[str, str] = {}
    for r in got:
        if r.evo_column and r.evo_column not in seen:
            seen[r.evo_column] = r.evo_type or "string"
    return list(seen.items())


def prepare_batch(
    rows: DataFrame,
    evolved: list[tuple[str, str]],
    salt_buckets: int = 0,
) -> DataFrame:
    """Project + LWW-dedup + normalize one batch of row mutations.

    Output schema: conv_id, turn_idx, op, lsn, role, text, tool, ts,
    <evolved...>. Two bandwidth rules (SURVEY.md §4 hot-path (a)):
    projection happens BEFORE the LWW shuffle so only needed columns
    move, and the normalize pandas UDF runs AFTER the LWW dedup so the
    Arrow round-trip ships only WINNERS (with update-heavy logs and
    redelivery that is a several-fold cut in UDF bytes). Equivalent to
    normalize-then-dedup because the LWW order (ts, lsn) never looks at
    `text` and normalization is a pure per-row function.
    """
    cols = [
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("op"),
        F.col("lsn"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.col("ts"),
    ]
    if evolved:
        xm = F.from_json(F.col("extra"), "map<string,string>")
        cols.append(xm.alias("_xm"))
        prepared = rows.select(*cols)
        for name, ddl in evolved:
            prepared = prepared.withColumn(name, F.col("_xm").getItem(name).cast(ddl))
        prepared = prepared.drop("_xm")
    else:
        prepared = rows.select(*cols)
    if salt_buckets > 1:
        winners = lww_dedup_salted(prepared, salt_buckets)
    else:
        winners = lww_dedup(prepared)
    return winners.withColumn("text", normalize_text(F.col("text")))


def as_pseudo_events(stored: DataFrame) -> DataFrame:
    """Lift stored table rows into the event shape so the merge is just
    LWW over (stored ∪ batch winners). Stored rows remember the (ts,
    _lsn, _op) of the event that produced them, so cross-batch ordering
    is decidable — including DELETE TOMBSTONES: a stored `D` row must
    keep outranking a redelivered older insert in a later batch, else
    duplicate delivery resurrects deleted rows (BASELINE.json:6
    exactly-once under redelivery)."""
    return (
        stored.withColumn("op", F.col(SYSTEM_OP))
        .withColumn("lsn", F.col(SYSTEM_LSN))
        .drop(SYSTEM_LSN, SYSTEM_OP)
    )


def to_stored(resolved: DataFrame) -> DataFrame:
    """Event-shaped winners → stored-table shape (_lsn/_op system cols,
    tombstones RETAINED — filtered only at the user-facing view)."""
    return resolved.withColumnRenamed("lsn", SYSTEM_LSN).withColumnRenamed(
        "op", SYSTEM_OP
    )


def merge_state(stored: DataFrame, winners: DataFrame) -> DataFrame:
    """(stored ∪ winners) → LWW → stored rows incl. tombstones.

    unionByName(allowMissingColumns=True) IS the additive
    schema-evolution union (SURVEY.md §2.7): pre-evolution stored rows
    backfill NULL for new columns.
    """
    merged = as_pseudo_events(stored).unionByName(winners, allowMissingColumns=True)
    return to_stored(lww_dedup(merged))


def replay_batch(events: DataFrame, salt_buckets: int = 0) -> tuple[DataFrame, list[tuple[str, str]]]:
    """Pure-batch fast path: whole log → final state in one shot.

    Used as the convergence test oracle against the streaming path
    (SURVEY.md §3.2) and as the cold-replay benchmark plan. Exactly one
    key-hash shuffle end-to-end (the LWW aggregate); dedup of duplicate
    lsn deliveries falls out of LWW (identical (ts,lsn) rows collapse to
    one winner because lsn ties are impossible across distinct events).
    """
    rows, evo = route_ops(events)
    evolved = collect_evolutions(evo)
    winners = prepare_batch(rows, evolved, salt_buckets)
    return to_stored(winners), evolved


def table_view(state: DataFrame, evolved: list[tuple[str, str]] | None = None) -> DataFrame:
    """User-facing projection: drop tombstones + system columns, sorted
    for the stable-(conv_id, turn_idx)-ordering equality check
    (BASELINE.json:15)."""
    base = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    if SYSTEM_OP in state.columns:
        state = state.where(F.col(SYSTEM_OP) != "D").drop(SYSTEM_OP)
    if SYSTEM_LSN in state.columns:
        state = state.drop(SYSTEM_LSN)
    extra = [c for c in state.columns if c not in base]
    return state.select(*base, *extra).orderBy(*MERGE_KEYS)
