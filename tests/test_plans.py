"""Physical-plan assertions (SURVEY.md §4): cheap insurance that the
declarative graphs actually get the plans the 100 TB design relies on —
pushed filters, column pruning, broadcast joins, partial aggregation,
whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

from merlin_spark.io_util import load
from merlin_spark.lww import lww_dedup
from merlin_spark.queries import registry
from merlin_spark.schemas import EVENT_SCHEMA


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = registry.QUERIES["filter_lineitem_date"](spark, sf_dir)
    p = _formatted(df)
    assert "PushedFilters: [" in p
    assert "IsNotNull(l_shipdate)" in p or "GreaterThanOrEqual(l_shipdate" in p


def test_column_pruning(spark, sf_dir):
    df = registry.QUERIES["scan_lineitem"](spark, sf_dir)
    p = _formatted(df)
    # ReadSchema must contain only the 4 projected columns
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_broadcast_join_planned(spark, sf_dir):
    df = registry.QUERIES["join_broadcast_dim"](spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_lww_maxby_has_partial_aggregate(spark):
    """The hot-path LWW must plan partial_max_by (map-side combine)
    before the exchange — duplicate events collapse pre-shuffle."""
    import pandas as pd

    from merlin_spark.fixtures import ChangelogSpec, gen_changelog

    log = gen_changelog(ChangelogSpec(seed=1, n_events=200, n_evo=0))
    events = spark.createDataFrame(log, schema=EVENT_SCHEMA)
    p = _plan(lww_dedup(events))
    assert "partial_max_by" in p or "partial_maxby" in p.lower()
    assert "Exchange hashpartitioning(conv_id" in p


def test_shuffled_hash_join_planned(spark, sf_dir):
    """The shuffle_hash hint must actually plan a ShuffledHashJoin (not
    SMJ, not broadcast) — SURVEY.md §2.3 evidence row."""
    p = _plan(registry.QUERIES["join_shuffle_hash"](spark, sf_dir))
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_join_stays_semi(spark, sf_dir):
    p = _plan(registry.QUERIES["join_semi"](spark, sf_dir))
    assert "LeftSemi" in p


def test_whole_stage_codegen_on_flagship(spark, sf_dir):
    df = registry.QUERIES["agg_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    p = _plan(df)
    # codegen stages print as "*(n)" in executedPlan.toString
    assert "*(1)" in p and "isFinalPlan=true" in p
    assert "partial_sum" in p  # map-side combine before the exchange


def test_topk_uses_take_ordered(spark, sf_dir):
    p = _plan(registry.QUERIES["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_range_join_not_cartesian(spark, sf_dir):
    """Equi prefix (user_id) must make the range join a hash/sort-merge
    join with residual condition — never a cartesian product."""
    p = _plan(registry.QUERIES["join_range_events"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
             "MapInPandas", "FlatMapCoGroupsInPandas")


def test_c4_clean_and_pii_scrub_python_free(spark, sf_dir):
    """Both ops claim map-only codegen judging (SURVEY §2.10): the rule
    CASE / regexp chain must stay JVM-side — any Python eval node means
    the hot path silently fell off the vectorized design."""
    for key in ("text_c4_clean", "text_pii_scrub"):
        p = _plan(registry.QUERIES[key](spark, sf_dir))
        hits = [n for n in _PY_NODES if n in p]
        assert not hits, f"{key} plan contains Python nodes: {hits}"


def test_line_dedup_hot_set_is_broadcast(spark, sf_dir):
    """text_line_dedup's scale story hinges on the hot-line set being
    broadcast (provably ≤ lines-per-doc/threshold rows at any corpus
    size); a shuffle join back onto the exploded lines would add a
    full extra exchange of the big side."""
    p = _plan(registry.QUERIES["text_line_dedup"](spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_epoch_shuffle_has_no_global_sort(spark, sf_dir):
    """shuffle_for_training claims a distributed per-shard permutation,
    never a global ORDER BY: rangepartitioning in the exchange would
    mean a driver-sampled total sort that serializes at 10^10 packs."""
    p = _plan(registry.QUERIES["shuffle_for_training"](spark, sf_dir))
    assert "rangepartitioning" not in p.lower()


def test_collect_evolutions_sorts_on_driver(spark, monkeypatch):
    """collect_evolutions returns each column's first `S` event by lsn
    without a Spark sort: an ``orderBy`` would plan a rangepartitioning
    exchange, i.e. a sampling job and a second pass over the batch."""
    from merlin_spark.apply import collect_evolutions, route_ops

    # S rows in descending lsn order over 4 partitions; every column
    # recurs, and its latest (highest-lsn) events say `int`, which must lose
    evo_rows = [(1000 - i, f"c{i % 3}", "int" if i < 3 else "string")
                for i in range(12)]
    events = spark.createDataFrame(
        [(lsn, "S", col, ty) for lsn, col, ty in evo_rows]
        + [(2000 + i, "I", None, None) for i in range(8)],
        "lsn long, op string, evo_column string, evo_type string",
    ).repartition(4)
    collected = []
    orig = type(events).collect

    def spy(self):
        collected.append(self)
        return orig(self)

    monkeypatch.setattr(type(events), "collect", spy)
    got = collect_evolutions(route_ops(events)[1])
    monkeypatch.undo()

    assert got == [("c2", "string"), ("c1", "string"), ("c0", "string")]
    assert len(collected) == 1
    assert "rangepartitioning" not in _plan(collected[0]).lower()
