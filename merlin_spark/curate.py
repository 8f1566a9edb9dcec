"""Training-data assembly over the engine's OWN output — the
composition layer (VERDICT r4 task #1).

The §2.10 curation operators run over static corpora; this module runs
the same shapes over the CONVERGED transcript table the CDC engine
produces (sink.read_live), so "replay the changelog, then build
training pairs from the result" is one program:

    replay(spark, cfg)                         # stream.py
    live  = IceboxSink(...).read_live()        # LWW-resolved state
    pairs = sft_pairs(live, k=2)               # (context, target)
    packs = pack_pairs(pairs, budget=512)      # token packing
    order = epoch_shuffle(packs, epoch=0)      # seeded epoch order

Scale notes (10^10 events → 10^8-10^9 live turns):
- sft_pairs: ONE hash shuffle on conv_id; the context frame is a
  bounded ROWS window, O(k) state per key — never O(turns).
- pack_pairs: running-sum window per md5-prefix shard; shard width is
  the parallelism knob (1 hex char = 16-way, 2 = 256-way), identical to
  queries/pipeline.py pack_sequences.
- epoch_shuffle: a seeded hash permutation — the shuffle IS a
  distributed sort by md5(shard:pack:epoch); positions are per-shard
  ranks so no global single-partition window exists. Changing `epoch`
  re-permutes deterministically without touching the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sft_pairs(live: DataFrame, k: int = 2) -> DataFrame:
    """(context, target) pairs from a converged transcript table:
    context = the previous ``k`` turns of the conversation rendered as
    "role: text", target = the turn itself; plus a whitespace token
    count for the packer."""
    turn = F.concat_ws(": ", "role", "text")
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-k, -1)
    return live.select(
        "conv_id",
        "turn_idx",
        F.concat_ws(" | ", F.collect_list(turn).over(w)).alias("context"),
        turn.alias("target"),
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )


def pack_pairs(pairs: DataFrame, budget: int = 512,
               shard_chars: int = 1) -> DataFrame:
    """Concat-and-chunk packing of SFT pairs into ``budget``-token packs
    (context+target token length), deterministic under (shard, conv_id,
    turn_idx) order — reproducible across reruns, resumable under
    incremental ingest."""
    # split("") is [""], one token: a conversation's first pair has none
    ctx = F.when(F.col("context") == "", 0).otherwise(F.size(F.split("context", " ")))
    sz = (ctx + F.col("n_tokens")).cast("long")
    base = pairs.withColumn(
        "shard", F.substring(F.md5(F.col("conv_id")), 1, shard_chars)
    ).withColumn("pair_tokens", sz)
    w = (
        Window.partitionBy("shard")
        .orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum", F.sum("pair_tokens").over(w))
    start = F.col("cum") - F.col("pair_tokens")
    return cum.withColumn(
        "pack_id", F.floor(start / budget).cast("int")
    ).withColumn("pack_offset", (start % budget).cast("int")).drop("cum")


def epoch_shuffle(packs: DataFrame, epoch: int = 0) -> DataFrame:
    """Deterministic epoch shuffle over pack ids: a seeded md5
    permutation key per (shard, pack_id) and the pack's rank within its
    shard under that key. Per-shard ranks keep the window distributed
    (one partition per shard, never a global ORDER BY); training
    readers consume shards independently, which is how sharded dataset
    formats (WebDataset/ArrayRecord-style) are shuffled in practice."""
    distinct = packs.select("shard", "pack_id").distinct()
    key = F.md5(
        F.concat_ws(":", "shard", F.col("pack_id").cast("string"),
                    F.lit(f"epoch={int(epoch)}"))
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key")
    return (
        distinct.withColumn("shuffle_key", key)
        .withColumn("pos", F.row_number().over(w).cast("int"))
    )
