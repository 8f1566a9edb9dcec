"""Independent expected state of a change log, and the table check.

The expected table is DuckDB last-writer-wins over every delivered
event: per (conv_id, turn_idx) the event with the largest (ts, lsn)
wins, a winning delete removes the row, evolved columns take their value
from the winner's ``extra`` JSON. Text goes through the engine's pinned
pure-Python normalisation spec (``textnorm.normalize_str``), not the UDF.

Tables are compared by row count and an order-insensitive hash: the sum
of DuckDB's per-row hash over canonical column types.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_HASH_SQL = """
select count(*), coalesce(sum(hash(conv_id::varchar, turn_idx::integer,
    role::varchar, text::varchar, tool::varchar, epoch_us(ts::timestamp)
    {meta}))::hugeint, 0)
from t
"""


def digest(table: pa.Table, evolved: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a live-row table."""
    meta = "".join(f", {c}::varchar" for c in evolved)
    con = duckdb.connect()
    try:
        con.register("t", table)
        n, h = con.execute(_HASH_SQL.format(meta=meta)).fetchone()
    finally:
        con.close()
    return int(n), int(h)


def expected(log: pa.Table, evolved: list[str]) -> pa.Table:
    """Live rows after applying ``log`` (any delivery order)."""
    from merlin_spark.textnorm import normalize_str

    meta = "".join(
        f", json_extract_string(extra, '$.{c}') as {c}" for c in evolved)
    con = duckdb.connect()
    try:
        con.register("log", log)
        live = con.execute(f"""
            select conv_id, turn_idx, role, text, tool, ts {meta}
            from (select *, row_number() over (
                      partition by conv_id, turn_idx order by ts desc, lsn desc) rn
                  from log where op in ('I', 'U', 'D'))
            where rn = 1 and op <> 'D'""").fetch_arrow_table()
    finally:
        con.close()
    text = pa.array([normalize_str(s) for s in live.column("text").to_pylist()],
                    pa.string())
    return live.set_column(live.schema.get_field_index("text"), "text", text)
