"""Generator determinism + shape (SURVEY.md §7 M0)."""

from __future__ import annotations

import pandas as pd

from merlin_spark.fixtures import ChangelogSpec, gen_changelog
from merlin_spark.textnorm import normalize_str


def test_changelog_deterministic():
    a = gen_changelog(ChangelogSpec(seed=42, n_events=2000))
    b = gen_changelog(ChangelogSpec(seed=42, n_events=2000))
    pd.testing.assert_frame_equal(a, b)


def test_changelog_different_seed_differs():
    a = gen_changelog(ChangelogSpec(seed=42, n_events=500))
    b = gen_changelog(ChangelogSpec(seed=7, n_events=500))
    assert not a.equals(b)


def test_changelog_shape_and_ops():
    spec = ChangelogSpec(seed=1, n_events=5000, dup_rate=0.1, n_evo=2)
    df = gen_changelog(spec)
    assert len(df) == 5500  # 10% duplicate delivery
    assert set(df["op"].unique()) <= {"I", "U", "D", "S"}
    assert (df["op"] == "S").sum() == 2
    # lsn unique among originals; dups re-emit existing lsns
    assert df["lsn"].nunique() == 5000
    s = df[df["op"] == "S"]
    assert s["evo_column"].tolist() != [] and s["conv_id"].isna().all()
    d = df[df["op"] == "D"]
    assert d["text"].isna().all() and d["role"].isna().all()
    # some post-evo events carry extra payloads
    assert df["extra"].notna().sum() > 0


def test_zipf_skew_has_hot_key():
    df = gen_changelog(ChangelogSpec(seed=3, n_events=20000, n_convs=500, zipf_s=1.2))
    top = df["conv_id"].value_counts(normalize=True).iloc[0]
    assert top > 0.10  # hottest conversation holds >10% of events


def test_normalize_str_spec():
    assert normalize_str("café") == "café"  # NFD → NFC
    assert normalize_str("a  \t b") == "a b"
    assert normalize_str("x\x07y") == "xy"
    assert normalize_str("  pad  ") == "pad"
    assert normalize_str(None) is None


def test_spark_changelog_deletes_hit_live_rows(spark, tmp_path):
    """Bench-scale generator: deletes keep their drawn turn_idx (null
    only for `S` events, FIXTURES.md), so they can remove rows an
    earlier insert/update wrote, and the batch replay of the log still
    equals the pandas oracle."""
    from merlin_spark.apply import replay_batch, table_view
    from merlin_spark.fixtures import gen_changelog_spark
    from merlin_spark.oracle import expected_state

    out = gen_changelog_spark(spark, 3000, 20, str(tmp_path / "log"),
                              seed=5, n_segments=2)
    events = spark.read.parquet(out)
    log = events.toPandas()

    rows = log[log["op"].isin(["I", "U", "D"])]
    assert rows["turn_idx"].notna().all()
    writes = rows[rows["op"] != "D"]
    first_write = writes.groupby(["conv_id", "turn_idx"])["lsn"].min()
    dels = rows[rows["op"] == "D"].join(first_write.rename("first_lsn"),
                                        on=["conv_id", "turn_idx"])
    assert (dels["first_lsn"] < dels["lsn"]).any()

    state, evolved = replay_batch(events)
    got = table_view(state, evolved).toPandas().reset_index(drop=True)
    exp = expected_state(log)
    assert len(exp) < len(first_write)  # some deletes removed live rows
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
