"""Independent pandas implementation of the CDC contract — the oracle.

Computes the expected final table state from a delivery-ordered
changelog using plain pandas (no Spark), implementing BASELINE.json:6
semantics independently so convergence tests (SURVEY.md §5.2) compare
two genuinely separate implementations:

- last-writer-wins per (conv_id, turn_idx) over lexicographic (ts, lsn);
- delete wins like any writer; a later (ts, lsn) insert resurrects;
- duplicate delivery (same lsn re-emitted) collapses (idempotent);
- events for absent keys: update upserts, delete no-ops;
- additive schema evolution: every `S` event adds a nullable column;
  post-evolution events may carry values in the `extra` JSON.
- text normalization applied once, via the SAME pinned pure-Python spec
  the engine's pandas UDF uses (textnorm.normalize_str).
"""

from __future__ import annotations

import json

import pandas as pd

from .textnorm import normalize_str

BASE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def lww_winners(changelog: pd.DataFrame) -> pd.DataFrame:
    """One LWW winner row per (conv_id, turn_idx), delete tombstones
    included — the rows a merge-on-read apply of the log writes."""
    rows = changelog[changelog["op"].isin(["I", "U", "D"])]
    # duplicate delivery: same lsn → identical row; keep one
    rows = rows.drop_duplicates(subset=["lsn"])
    # LWW: max (ts, lsn) per key — keep whole rows (groupby().last()
    # would take last non-null PER COLUMN, mixing rows)
    rows = rows.sort_values(["ts", "lsn"])  # ascending; last = winner
    return rows.drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")


def expected_state(changelog: pd.DataFrame) -> pd.DataFrame:
    """Final table state after full replay, sorted (conv_id, turn_idx)."""
    df = changelog.copy()

    evo = df[df["op"] == "S"].sort_values("lsn")
    evo_cols = list(dict.fromkeys(evo["evo_column"].tolist()))

    winners = lww_winners(df)
    live = winners[winners["op"] != "D"].copy()

    live["text"] = live["text"].map(normalize_str)
    for c in evo_cols:
        live[c] = None
    if evo_cols and len(live):
        parsed = live["extra"].map(lambda s: json.loads(s) if s else {})
        for c in evo_cols:
            live[c] = parsed.map(lambda d, c=c: d.get(c))

    out = live[BASE_COLS + evo_cols].sort_values(["conv_id", "turn_idx"])
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out.reset_index(drop=True)
